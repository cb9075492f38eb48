package graft

import graft.operators.{AsOf, Components, RangeJoin}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.functions._

/** 100 TB plan-shape assertions for the r6 join/graph/text family —
  * the FunnelDeconSpec pattern: pin the exchange count/kind of each
  * operator's physical plan so a future refactor cannot silently
  * regress the scale story the code documents (e.g. a window that
  * stops reusing its upstream clustering, or an interval join that
  * falls back to a nested-loop).
  *
  * Counts are asserted on the default small-data plans (broadcastable
  * dimension sides); where the at-scale shape differs (broadcast →
  * sort-merge) a second assertion disables broadcasting to pin the
  * worst-case shape too. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // count real Exchange NODES ("+- Exchange ..."); a ReusedExchange
  // node's toString repeats the referenced exchange's description after
  // a comma, which a bare "Exchange hashpartitioning" regex would also
  // match, inflating the count
  private def hashEx(p: String): Int =
    "- Exchange hashpartitioning".r.findAllIn(p).size

  test("as-of join: ONE shuffle, no join operator, no row explosion") {
    val probe = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "t", "tag")
    val build = Seq((1L, 5L, 1.0), (2L, 15L, 2.0)).toDF("k", "t", "v")
    val p = plan(AsOf.asofJoin(probe, build, "k", "t"))
    withClue(p) {
      // union + single key-partitioned window — the whole point of the
      // composition vs a range join (explode) or correlated re-scan
      hashEx(p) shouldBe 1
      p should include("Window")
      p should not include "Join" // no join operator of ANY kind
    }
  }

  test("bucketed range join: equi-join on (key, bucket), never a nested loop") {
    val points = (0L until 40L).map(i => (i % 4, i * 10L)).toDF("k", "pt")
    val ivals = (0L until 8L).map(i => (i % 4, i * 50L, i * 50L + 70L))
      .toDF("k", "lo", "hi")
    val joined = RangeJoin.bucketedPointInterval(points, ivals, "k", "pt", "lo", "hi", 25L)
    withClue(plan(joined)) {
      plan(joined) should not include "NestedLoop"
      plan(joined) should not include "CartesianProduct"
    }
    // at-scale shape: with broadcasting off this MUST be a sort-merge
    // equi-join on (k, __bucket) — one exchange per side — with the
    // exact range predicate as a join-level post-filter
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j2 = RangeJoin.bucketedPointInterval(points, ivals, "k", "pt", "lo", "hi", 25L)
      val p2 = plan(j2)
      withClue(p2) {
        p2 should include("SortMergeJoin")
        p2 should include("__bucket")
        p2 should not include "NestedLoop"
        hashEx(p2) shouldBe 2
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("range join: interval replication is bounded by ceil(span/W)") {
    // one key, one point per bucket; an interval of span s replicates
    // onto ((hi-1) div W) - (lo div W) + 1 buckets — count the join
    // rows of an all-matching layout to observe the replication exactly
    val w = 10L
    val points = (0L until 10L).map(i => (0L, i * w)).toDF("k", "pt") // 1 per bucket
    val ivals = Seq((0L, 0L, 100L)).toDF("k", "lo", "hi") // covers all 10 buckets
    RangeJoin.bucketedPointInterval(points, ivals, "k", "pt", "lo", "hi", w)
      .count() shouldBe 10L
    // exclusive hi at a bucket boundary must NOT replicate into it
    val edge = Seq((0L, 0L, 10L)).toDF("k", "lo", "hi")
    RangeJoin.bucketedPointInterval(points, edge, "k", "pt", "lo", "hi", w)
      .count() shouldBe 1L
  }

  test("tfidf: two fact-bearing shuffles + one vocab-sized; dims broadcast") {
    val dir = "target/tmp/spec_planshape_tfidf"
    (0 until 50).map(i => (i.toLong, s"w$i common a b c token${i % 7}"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // static plan with AQE off (the KsDriftSpec pattern: AQE's initial
    // plan never displays reuse; its runtime stage cache applies the
    // same canonicalization)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(QueriesPipeline.txTfidf.fn(spark, dir))
      withClue(p) {
        // hash exchanges: tokens→tf on (doc_id, term) [fact, scanned
        // and shuffled ONCE — the df branch REUSES it via the tautology
        // filter in txTfidf], tf re-keyed to doc_id for the top-k
        // window [fact], tf→df on term [vocab-sized]; df and n_docs
        // come BACK as broadcasts; the only range exchange is the
        // output-contract orderBy. Scans: the token scan (reused) and
        // the n_docs footer-only count scan (ReadSchema struct<>).
        hashEx(p) shouldBe 3
        "ReusedExchange".r.findAllIn(p).size shouldBe 1
        "Scan parquet".r.findAllIn(p).size shouldBe 2
        "BroadcastExchange".r.findAllIn(p).size shouldBe 2
        "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("multimodal codec entries are scan-stage only (no hash exchange)") {
    val dir = "target/tmp/spec_planshape_mm"
    (0 until 20).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // encode → decode → (resize) are per-row functions inside the scan
    // stage; the ONLY exchange either entry may have is the
    // output-contract orderBy's range partitioner
    for (entry <- Seq(QueriesPipeline.mmDecode, QueriesPipeline.mmResize,
        QueriesPipeline.mmWav, QueriesPipeline.mmVideoFrames)) {
      val p = plan(entry.fn(spark, dir))
      withClue(s"${entry.name}:\n$p") {
        hashEx(p) shouldBe 0
        "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      }
    }
  }

  test("connected components: one star round executes 3 unique shuffles") {
    val e = (0L until 20L).map(i => (i + 1, i)).toDF("u", "v")
    // AQE off so the static plan displays the ReuseExchange collapse
    // (AQE's runtime stage cache applies the same canonicalization):
    // smallStar references its input three times (join left, mins
    // build, mins union branch), so the TEXTUAL plan carries 6 hash
    // exchanges — but they canonicalize to 3 unique ones (large-star
    // neighborhood-min, small-star min, the round's closing distinct);
    // the rest must be ReusedExchange nodes, and (long, long) edge
    // rows are the only thing ever exchanged
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(Components.smallStar(Components.largeStar(e)))
      withClue(p) {
        hashEx(p) shouldBe 3
        "ReusedExchange".r.findAllIn(p).size should be >= 2
        p should not include "NestedLoop"
        p should not include "CartesianProduct"
      }
      // at-scale shape: min tables too big to broadcast → sort-merge
      // joins add per-side exchanges but nothing quadratic, and reuse
      // still collapses the recomputed branches
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p2 = plan(Components.smallStar(Components.largeStar(e)))
        withClue(p2) {
          p2 should not include "NestedLoop"
          p2 should not include "CartesianProduct"
          hashEx(p2) should be <= 6
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("chunk overlap: scan-stage row generation, no hash exchange") {
    val dir = "target/tmp/spec_planshape_chunk"
    (0 until 30).map(i => (i.toLong, (0 to i).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = plan(QueriesPipeline.plChunkOverlap.fn(spark, dir))
    withClue(p) {
      // explode(sequence) + slice are generated inside the scan stage;
      // the ONLY exchange is the output-contract orderBy
      hashEx(p) shouldBe 0
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      "Scan parquet".r.findAllIn(p).size shouldBe 1
    }
  }

  test("line dedup: exactly two hash shuffles (line winner, doc rebuild)") {
    val dir = "target/tmp/spec_planshape_linededup"
    (0 until 30).map(i => (i.toLong, (0 until 30).map(j => s"w${(i * 31 + j) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = plan(QueriesPipeline.plLineDedup.fn(spark, dir))
    withClue(p) {
      // groupBy(line) then groupBy(doc_id) — the two exchanges the
      // semantics require, nothing joins back to the corpus
      hashEx(p) shouldBe 2
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      p should not include "Join"
    }
  }

  test("substring dup: digest-keyed window + per-doc rollup, two hash shuffles") {
    val dir = "target/tmp/spec_planshape_subdup"
    (0 until 30).map(i => (i.toLong, (0 until 20).map(j => s"w${(i + j) % 25}").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = plan(QueriesPipeline.plSubstringDup.fn(spark, dir))
    withClue(p) {
      // grams never ship: the window shuffles (dg, doc_id, pos) rows,
      // the rollup shuffles (doc_id, counters); no join anywhere
      hashEx(p) shouldBe 2
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      p should not include "Join"
    }
  }

  test("inverted index: rollup reuses the window's term clustering") {
    val dir = "target/tmp/spec_planshape_invidx"
    (0 until 30).map(i => (i.toLong, (0 until 10).map(j => s"w${(i + j) % 12}").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = plan(QueriesPipeline.txInvertedIndex.fn(spark, dir))
    withClue(p) {
      // distinct on (doc_id, term) + the term window; the final
      // groupBy(term) must ride the window's hashpartitioning(term)
      // without a third exchange
      hashEx(p) shouldBe 2
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("perplexity filter: scan-stage familiarity, no LM join in the plan") {
    val dir = "target/tmp/spec_planshape_ppl"
    (0 until 40).map(i => (i.toLong, s"doc $i text payload ${"ab" * (i % 5)}"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // AQE off so the static plan is displayed (KsDriftSpec pattern)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(QueriesPipeline.plPerplexityFilter.fn(spark, dir))
      withClue(p) {
        // r19 scan-stage shape (bigramFamiliarityScan): the LM census
        // is a collected coordinator artifact, so the displayed plan
        // has NO hash exchange at all — familiarity is a scan-stage
        // UDF pass, the 1-row threshold table is the only broadcast,
        // and the LM broadcast join + per-doc agg exchange are gone.
        hashEx(p) shouldBe 0
        "bigram_lm_score".r.findAllIn(p).size should be >= 1
        "BroadcastExchange".r.findAllIn(p).size shouldBe 1
        p should not include "CartesianProduct"
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  // ------------------------- r7 late family: sketch-pruned / graph / EWMA
  private def staticPlan(df: => org.apache.spark.sql.DataFrame): String = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try plan(df) finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
  private val sf = "/root/testdata/sf0.001"

  test("g_winsorize: census-only pipeline, all-codegen aggs, bounds come back broadcast") {
    val p = staticPlan(QueriesAggWindow.gWinsorize.fn(spark, sf))
    withClue(p) {
      // r18 shape: census agg + bounds-census agg + census window
      // re-key + final clipped agg — every exchange carries distinct
      // (g, value) census rows, never facts, and nothing buffers a
      // boxed value→count map (the old `percentile` ObjectHashAggregate)
      hashEx(p) shouldBe 4
      p should not include "ObjectHashAggregate"
      p should not include "percentile"
      "BroadcastExchange".r.findAllIn(p).size shouldBe 1
      p should include("BroadcastHashJoin")
      // output-contract orderBy only
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }


  test("w_ewma_decay: both window specs share ONE custkey exchange") {
    val p = staticPlan(QueriesAggWindow.wEwma.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 1 // lag family + recency row_number, same keys
      "Window \\[".r.findAllIn(p).size shouldBe 2 // two sorts, one exchange
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("tx_heavy_hitters recount: candidates broadcast, ONE vocabulary-sized exchange") {
    // pass 1 (the MG candidate sketch) runs behind a localCheckpoint;
    // the plan under test is the recount — the corpus term stream must
    // meet the candidate set as a BROADCAST build side, and the two
    // hash exchanges both carry candidate-bounded rows: the
    // ≤ k·partitions candidate dedup and the candidate-pruned recount
    // groupBy. The full term stream reaches only the latter, post-join.
    val p = staticPlan(QueriesPipeline.txHeavyHitters.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 2
      p should include("BroadcastHashJoin")
      p should not include "CartesianProduct" // 1-row total is BNLJ broadcast
    }
  }

  test("j_bloom_prune: bloom build is the only hash exchange; probe never shuffles pre-filter") {
    val p = staticPlan(Queries.jBloomPrune.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 1 // the bit_or(word) groupBy inside the build
      p should include("BroadcastNestedLoopJoin") // 1-row bloom attach
      p should include("BroadcastHashJoin") // exact semi join on the small build
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("w_sessionize: lag window, running sum AND session aggregate share one exchange") {
    val p = staticPlan(QueriesAggWindow.wSessionize.fn(spark, sf))
    withClue(p) {
      // hashpartitioning(user_id) serves both window specs and
      // satisfies the (user_id, sess) grouping — nothing re-shuffles
      hashEx(p) shouldBe 1
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("o_incremental_agg: merge joins the two state frames on their agg partitioning") {
    val p = staticPlan(QueriesAggWindow.oIncrementalAgg.fn(spark, sf))
    withClue(p) {
      // one exchange per slice's aggregation; the full-outer merge
      // reuses that partitioning (SMJ on pri, no third hash exchange)
      hashEx(p) shouldBe 2
      p should not include "CartesianProduct"
    }
  }

  test("gr_copurchase_lift: top-20 via per-partition heaps, marginals attached by broadcast") {
    val p = staticPlan(QueriesGraph.grCopurchase.fn(spark, sf))
    withClue(p) {
      p should include("TakeOrderedAndProject") // no global sort for the top-k
      "BroadcastHashJoin".r.findAllIn(p).size should be >= 2 // 20-row winners probe the marginals
      p should not include "CartesianProduct"
    }
  }

  test("j_bucketed_colocate: the fact join runs on bucket-aligned scans, NO join exchange") {
    // force the at-scale join (no broadcast): the SMJ must consume the
    // two bucketed scans directly — the only hash exchange in the whole
    // plan is the priority agg ABOVE the join
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = staticPlan(Queries.jBucketedColocate.fn(spark, sf))
      withClue(p) {
        p should include("SortMergeJoin")
        hashEx(p) shouldBe 1
        "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
        p should include("SelectedBucketsCount")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("w_time_weighted_avg: lead window and groupBy share ONE custkey exchange") {
    val p = staticPlan(QueriesAggWindow.wTimeWeighted.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 1 // window clustering feeds the partial agg
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1 // output orderBy only
    }
  }

  test("w_anomaly_mad: count + two stacked percentile windows, ONE custkey exchange") {
    val p = staticPlan(QueriesAggWindow.wAnomalyMad.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 1 // med window feeds mad window in-place
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      p should not include "Join" // no bounds frame joined back
    }
  }

  test("s5_partitioned_prune: the priority filter prunes at file-listing time") {
    val p = staticPlan(QueriesEnsemble.s5PartitionedPrune.fn(spark, sf))
    withClue(p) {
      p should include("PartitionFilters: [isnotnull(o_orderpriority")
      p should include("o_orderpriority#") // the equality filter is partition-level
      // the data filter list must NOT carry the priority predicate —
      // it never reaches row decoding
      p should not include "DataFilters: [isnotnull(o_orderpriority"
    }
  }

  test("tx_keyphrases: rank window + phrase rebuild share the doc exchange; census is the second") {
    val p = staticPlan(QueriesPipeline.txKeyphrases.fn(spark, sf))
    withClue(p) {
      // doc-keyed window exchange (reused by the (doc, island) groupBy)
      // + the vocabulary-bounded phrase census — nothing else
      hashEx(p) shouldBe 2
      p should include("TakeOrderedAndProject")
    }
  }

  test("w_gap_islands: collect_set + both rollups ride ONE custkey exchange") {
    val p = staticPlan(QueriesAggWindow.wGapIslands.fn(spark, sf))
    withClue(p) {
      // hash(cust) satisfies the (cust, island) and (cust) groupings;
      // the posexplode rank replaces the window entirely
      hashEx(p) shouldBe 1
      p should not include "Window"
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("g_sample_weighted: ONE fact exchange; offsets return as a broadcast") {
    val p = staticPlan(QueriesAggWindow.gSampleWeighted.fn(spark, sf))
    withClue(p) {
      // the bkt repartition is the only fact-row shuffle: the in-bucket
      // window, the bucket-total agg, and the offset join all ride it
      hashEx(p) shouldBe 1
      "BroadcastExchange".r.findAllIn(p).size shouldBe 1
      p should include("BroadcastHashJoin")
      p should not include "CartesianProduct"
    }
  }

  test("j_fuzzy_edit: blocking equi-join — NEVER a cartesian/nested-loop pair scan") {
    val p = staticPlan(Queries.jFuzzyEdit.fn(spark, sf))
    withClue(p) {
      // the whole point of FastSS blocking vs the oracle's O(N²) spell
      p should not include "CartesianProduct"
      p should not include "NestedLoop"
      // r19: candidate generation + verify run map-side per blocking
      // key (fuzzy_group_pairs) — the ~f²-per-key candidate equi-join
      // no longer materializes, so only ED ≤ 1 SURVIVORS reach any
      // exchange
      p should include("fuzzy_group_pairs")
      "SortMergeJoin".r.findAllIn(p).size shouldBe 0
    }
    // at-scale shape: the heavy-key cap census is the only other
    // key-shuffle; with broadcasts off the anti-join falls back to a
    // key equi-join, never a pair scan
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = staticPlan(Queries.jFuzzyEdit.fn(spark, sf))
      withClue(p2) {
        p2 should include("fuzzy_group_pairs")
        p2 should not include "NestedLoop"
        p2 should not include "CartesianProduct"
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("o_cdc_apply: log collapses in a partial agg; apply is ONE full-outer join") {
    val p = staticPlan(QueriesAggWindow.oCdcApply.fn(spark, sf))
    withClue(p) {
      p should include("FullOuter")
      p should not include "Window" // latest-wins via max_by agg, no row_number sort
      // log-side agg exchange + the two join sides; nothing fact-sized twice
      hashEx(p) should be <= 3
    }
  }

  test("o_compaction_plan: window and (part,bin) census share the partition exchange") {
    val p = staticPlan(QueriesAggWindow.oCompactionPlan.fn(spark, sf))
    withClue(p) {
      // hash(part) satisfies the (part, bin) grouping — the census agg
      // plans NO second hash exchange after the running-sum window
      hashEx(p) shouldBe 1
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("sim_ann_pq: one scan, zero shuffles — top-k via TakeOrdered only") {
    val p = staticPlan(graft.operators.Similarity.pqTopK(
      Tables.tbl(spark, sf, "embeddings"), probeId = 0, k = 10))
    withClue(p) {
      hashEx(p) shouldBe 0
      p should include("TakeOrderedAndProject")
      p should not include "Join"
    }
  }

  test("g_simpson_ppm: dims broadcast; facts never sort-merge") {
    val p = staticPlan(QueriesAggWindow.gSimpson.fn(spark, sf))
    withClue(p) {
      "BroadcastHashJoin".r.findAllIn(p).size shouldBe 2
      p should not include "SortMergeJoin"
      // cell census + nation rollup: two hash exchanges, both tiny-row
      hashEx(p) shouldBe 2
    }
  }

  test("w_running_distinct: BOTH windows ride the explicit user_id repartition") {
    val p = staticPlan(QueriesAggWindow.wRunningDistinct.fn(spark, sf))
    withClue(p) {
      // hash(user) is a subset-clustering of (user, type): the
      // first-seen-flag window AND the running sum sort in place on
      // the one REPARTITION_BY_COL exchange — without it the planner
      // shuffles the event facts twice (observed pre-fix)
      hashEx(p) shouldBe 1
      p should include("REPARTITION_BY_COL") // ...and it's OUR exchange:
      // the planner added none of its own on top
      "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
      "Window".r.findAllIn(p).size shouldBe 2
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("g_pivot_dynamic: dims broadcast; pivot is the standard two-level agg") {
    val p = staticPlan(QueriesSql.gPivotDynamic.fn(spark, sf))
    withClue(p) {
      // orders joins customer and nation as broadcasts (facts never
      // sort-merge); the pivot compiles to (nation, priority) census →
      // pivotfirst on nation — two hash exchanges, both post-reduction
      "BroadcastHashJoin".r.findAllIn(p).size shouldBe 2
      p should not include "SortMergeJoin"
      hashEx(p) shouldBe 2
      p should include("pivotfirst")
    }
  }

  test("f_content_hash: digesting is scan-stage map-only") {
    val p = staticPlan(Queries.fContentHash.fn(spark, sf))
    withClue(p) {
      // md5/sha2 evaluate inside the scan's project — the ONLY
      // exchange is the output-contract orderBy; this is the shape
      // that makes content-addressing viable at 100 TB
      hashEx(p) shouldBe 0
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      "Scan parquet".r.findAllIn(p).size shouldBe 1
    }
  }

  test("pl_length_buckets / pl_score_calibration: map-side bin + ONE group exchange") {
    for (e <- Seq(QueriesPipeline.plLengthBuckets, QueriesPipeline.plScoreCalibration)) {
      val p = staticPlan(e.fn(spark, sf))
      withClue(s"${e.name}\n$p") {
        // tokenize/score + bucket assignment are scan-stage projections;
        // the only hash exchange carries bin-cardinality partial-agg
        // rows, then the output-contract sort — the loader-planner shape
        // that stays driver-free at 100 TB
        hashEx(p) shouldBe 1
        "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
        "Scan parquet".r.findAllIn(p).size shouldBe 1
        p should not include "Join"
      }
    }
  }

  test("pl_soft_dedup: digests in the scan stage, ONE cluster-window exchange") {
    val p = staticPlan(QueriesPipeline.plSoftDedup.fn(spark, sf))
    withClue(p) {
      // xxhash64 + length are scan-stage projections; the only hash
      // exchange carries (doc_id, digest, tlen) rows to the window —
      // payloads never shuffle, nothing joins back
      hashEx(p) shouldBe 1
      p should not include "Join"
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("pl_dsir: stats pass -> broadcast adjustment table -> scoring pass") {
    val p = staticPlan(QueriesPipeline.plDsir.fn(spark, sf))
    withClue(p) {
      // the ≤1024-row bucket-adjustment table must come back as a
      // broadcast (the scoring join may NOT shuffle the token stream
      // against it); totals ride an empty-frame window on the stats
      // frame, not a second aggregate over the corpus
      "BroadcastExchange".r.findAllIn(p).size should be >= 1
      p should not include "CartesianProduct"
      // three fact scans: stats pass, scoring pass, doc_id attach —
      // the structural minimum for a corpus-stat-dependent score
      "Scan parquet".r.findAllIn(p).size shouldBe 3
      // hash exchanges: bucket stats agg + per-doc agg (+ possibly the
      // final doc_id attach at scale); never more
      hashEx(p) should be <= 3
    }
  }

  test("g_table_stats: one scan per stats row family, single-row aggs, no join") {
    val p = staticPlan(QueriesAggWindow.gTableStats.fn(spark, sf))
    withClue(p) {
      // the union re-projects one PINNED 1-row aggregate — unpinned,
      // column pruning de-canonicalizes the branches and the stats agg
      // re-executes per branch (three scans; caught by this pin): the
      // final plan must carry NO parquet scan, no join, and only the
      // output-contract sort exchange
      p should not include "Join"
      "Scan parquet".r.findAllIn(p).size shouldBe 0
      // the 3-row frame may not even need a sort exchange
      "Exchange rangepartitioning".r.findAllIn(p).size should be <= 1
      hashEx(p) shouldBe 0
    }
  }

  test("w_drawdown: equity/peak windows + groupBy share ONE custkey exchange") {
    val p = staticPlan(QueriesAggWindow.wDrawdown.fn(spark, sf))
    withClue(p) {
      // peak reads equity's output so the two stack as two Window
      // nodes — but same (custkey, date, key) spec, so BOTH plus the
      // per-customer groupBy ride ONE hash(custkey) exchange; a second
      // hash exchange would mean a window or the agg re-shuffled
      hashEx(p) shouldBe 1
      "Window".r.findAllIn(p).size shouldBe 2
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("w_cusum_drift: prefix-sum + running-min windows share ONE user exchange") {
    val p = staticPlan(QueriesAggWindow.wCusumDrift.fn(spark, sf))
    withClue(p) {
      // the CUSUM identity stacks two same-spec windows, so both plus
      // the per-user rollup ride one hash(user_id) exchange
      hashEx(p) shouldBe 1
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
      p should not include "Join"
    }
  }

  /** Assert no Window node is fed by an Exchange SinglePartition — the
    * every-row-through-one-task shape (tx_collocations' r11 defect). A
    * scalar AGGREGATE over SinglePartition is fine (its input is one
    * partial row per task, metadata-sized); a WINDOW over it walks the
    * full frame in one task. The executedPlan prints children below, so
    * look a few lines past each Window for the exchange (with or
    * without an interposed Sort). */
  private def noSinglePartitionWindow(p: String): Unit = {
    val lines = p.linesIterator.toVector
    for (i <- lines.indices if lines(i).contains("Window "))
      withClue(s"Window at plan line $i rides SinglePartition:\n" +
          lines.slice(i, i + 4).mkString("\n") + "\n") {
        lines.slice(i + 1, i + 4).mkString("\n") should
          not include "Exchange SinglePartition"
      }
  }

  test("tx_collocations: census scanned once; total broadcast, no single-task window") {
    val p = staticPlan(QueriesPipeline.txCollocations.fn(spark, sf))
    withClue(p) {
      // the scalar-total branch must REUSE the census partial-agg
      // exchange (one corpus scan for both consumers — the tautology
      // filter is load-bearing, see txCollocations)
      "ReusedExchange".r.findAllIn(p).size should be >= 1
      "Scan parquet".r.findAllIn(p).size shouldBe 1
      // the grand total arrives as a broadcast 1-row frame, and the
      // marginal windows stay x-/y-partitioned
      p should include("BroadcastNestedLoopJoin")
      noSinglePartitionWindow(p)
    }
  }

  test("source guard: global windows only at the whitelisted bounded-frame sites") {
    // an empty-partition (or global-order) window funnels its whole
    // frame through ONE task — acceptable only when the frame is
    // provably tiny by construction. Whitelist every such site with its
    // bound; re-introducing the pattern anywhere else (the
    // tx_collocations r11 defect: a window over the unbounded bigram
    // census) turns this red. Counts are per file, matched on source
    // text with scaladoc kept clear of the spellings.
    def count(re: scala.util.matching.Regex, f: java.io.File): Int =
      re.findAllIn(java.nio.file.Files.readString(f.toPath)).size
    val root = new java.io.File("src/main/scala")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val emptyPart = """Window\s*\.\s*partitionBy\(\)""".r
    val globalOrd = """Window\s*\.\s*orderBy""".r
    val allowedEmpty = Map(
      // g_sample_weighted offsets, ks-drift offsets, g_cube stack total,
      // w_seasonal_index 7-row frame, w_pareto_abc customer-key total
      "QueriesAggWindow.scala" -> 5,
      // pl_epoch_shard per-lang char totals (lang-bounded frame)
      "QueriesPipeline.scala" -> 1)
    val allowedOrd = Map(
      // SAR-fixture forward fill (40-row file-order op) + the
      // O(nBuckets)=32-row carry of forwardFillScalable
      "Ingest.scala" -> 2,
      // bucket-offset carries over ≤1024-row per-bucket total frames
      "QueriesAggWindow.scala" -> 3,
      // ens_rank_average distinct-census cumsum (score-cardinality)
      "QueriesEnsemble.scala" -> 1,
      // sim_rrf_fusion arm ranks: each rides a TakeOrdered(100)-bounded
      // frame by construction (the RRF contract is rank-of-top-k)
      "QueriesPipeline.scala" -> 2)
    for (f <- walk(root)) {
      withClue(s"${f.getPath}: empty-partition window sites") {
        count(emptyPart, f) shouldBe allowedEmpty.getOrElse(f.getName, 0)
      }
      withClue(s"${f.getPath}: global-order window sites") {
        count(globalOrd, f) shouldBe allowedOrd.getOrElse(f.getName, 0)
      }
    }
  }

  test("lambda-CSE discipline: heavy subtrees expand once per input in executed plans") {
    // The dd_containment r11 rule (DESIGN.md): helper Columns that
    // build higher-order functions mint FRESH lambda ids per call, so
    // codegen subexpression elimination can NEVER unify two textual
    // copies of a lambda subtree — textual copies of a HOF in the
    // executed plan ARE runtime copies. (Native calls like array_stats
    // have no lambda ids; codegen CSE handles their repeats.) This pin
    // counts the expansions on the representative entries so a
    // refactor that re-inlines a staged projection — or a new
    // multi-metric spelling that calls a HOF helper per metric —
    // fails here instead of shipping an N-times-per-row plan.
    val pContain = staticPlan(QueriesPipeline.ddContainment.fn(spark, sf))
    withClue(pContain) {
      // r18: the shingle-set statistics run in ONE tight-loop UDF call
      // per row (the staged-HOF spelling was 2 interpreted shingle
      // array builds + intersect/union per row — 32× slower measured);
      // re-introducing a HOF spelling (concat_ws shingle lambdas) or a
      // second UDF call per row fails here
      "shingle_stats3".r.findAllIn(pContain).size shouldBe 1
      "concat_ws".r.findAllIn(pContain).size shouldBe 0
    }
    val pIso = staticPlan(QueriesArrays.a9IsoMask.fn(spark, sf))
    withClue(pIso) {
      // thr = mean + 2σ stays a STAGED column: 2 array_stats field
      // reads (codegen-CSE'd — native, no lambda) plus the masked-sum's
      // own array_stats; critically, the mask/count lambdas reference
      // thr instead of inlining the stats INTO the lambda body (which
      // would re-run them per ELEMENT — counts would jump)
      "array_stats".r.findAllIn(pIso).size shouldBe 3
      "lambdafunction".r.findAllIn(pIso).size shouldBe 2 // mask + count
    }
    // the library path the paper pipeline calls: the iso feature is the
    // native iso_mask (one stats fold + one mask pass). A lambda whose
    // body holds array_stats re-runs the stats per ELEMENT — O(n²) per
    // 75×75 band, which the former transform-based isoMask did
    val sar = Ingest.coerce(Ingest.readSarJson(spark, SarFixture.path))
    val feat = Features.addScalarFeatures(Features.addDerivedBands(sar))
      .queryExecution.optimizedPlan
    withClue(feat) {
      val exprs = feat.flatMap(_.expressions)
      exprs.flatMap(_.collect { case l: LambdaFunction => l })
        .filter(_.function.exists(_.prettyName == "array_stats")) shouldBe empty
      exprs.flatMap(_.collect { case e if e.prettyName == "iso_mask" => e }).size shouldBe 2
    }
    val pBand = staticPlan(QueriesArrays.a2BandAlgebra.fn(spark, sf))
    withClue(pBand) {
      // 4 metrics = 4 zip_with lambdas, each expanded exactly once
      "zip_with".r.findAllIn(pBand).size shouldBe 4
    }
  }

  test("pl_suffix_dedup: digest-keyed gram exchange, one-pass span cover") {
    // Lee et al. span removal: grams must ship as (digest, doc, pos)
    // — never gram text. r18: the coverage+reassembly runs as ONE
    // per-doc span_remove_stats pass (no exploded-token exchange, no
    // per-doc range window), so the only hash exchanges left are the
    // dup-chain window and the dup-start rollup; the dup-start arrays
    // come back by broadcast.
    val p = staticPlan(QueriesPipeline.plSuffixDedup.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 2 // dg window, dstart agg
      "span_remove_stats".r.findAllIn(p).size shouldBe 1
      "Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1 // contract sort
      p should not include "CartesianProduct"
      noSinglePartitionWindow(p)
      // the dup-chain window is keyed on the 64-bit digest, so the wide
      // gram string is projected away before that exchange
      p should include("hashpartitioning(dg")
    }
  }

  test("pl_semdedup: one fact scan, vectors cross the cluster exchange once") {
    // SemDeDup's per-cluster quadratic runs inside flatMapGroups: the
    // plan must be the cluster groupByKey exchange and NOTHING else —
    // the argmin is a scan-stage loop over the broadcast centroid
    // matrix since r18 (the old expand+partial-agg spelling carried
    // its own exchange AND N·k map-side rows — ~45 min/assign at the
    // sf30 rung once k ∝ N landed), and the relational spelling
    // (window + self-join + semi-join) executed three fact scans and
    // six exchanges because column pruning de-unifies the self-join
    // branches (Similarity scaladoc records the measurement).
    val p = staticPlan(QueriesPipeline.plSemDedup.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 1
      "Scan parquet".r.findAllIn(p).size should be <= 4 // fact + centroid slice, per union arm
      p should not include "CartesianProduct"
      p should include("MapGroups")
      noSinglePartitionWindow(p)
    }
  }

  test("pl_weighted_sample: one scan, global top-m, ZERO hash exchanges") {
    val p = staticPlan(QueriesPipeline.plWeightedSample.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 0
      "TakeOrderedAndProject".r.findAllIn(p).size shouldBe 1
      p should not include "CartesianProduct"
    }
  }

  test("pl_stratified_sample: one scan, one lang exchange") {
    val p = staticPlan(QueriesPipeline.plStratifiedSample.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 1
      "Scan parquet".r.findAllIn(p).size shouldBe 1
      p should include("hashpartitioning(lang")
    }
  }

  test("sim_rrf_fusion: TakeOrdered arms, posting-sized exchanges, no cartesian") {
    val p = staticPlan(QueriesPipeline.simRrfFusion.fn(spark, sf))
    withClue(p) {
      // 2 arm top-100s + the final top-20
      "TakeOrderedAndProject".r.findAllIn(p).size shouldBe 3
      // tf (doc_id,t), per-doc sum, df census, fusion join — all
      // bounded by query-term postings / the 100-row arms
      hashEx(p) should be <= 5
      p should not include "CartesianProduct"
    }
  }

  test("sim_ann_ivfpq: scan-stage cell argmin, global top-k, no exchange") {
    // r19 shape: the cell assignment is the scan-stage argmin UDF over
    // the collected coarse-centroid matrix (one row per vector — the
    // broadcast-expand + min(struct) partial agg is gone), the cell
    // filter is map-side, and ADC feeds TakeOrderedAndProject; the
    // whole pipeline plans with NO hash exchange and no cartesian
    val p = staticPlan(QueriesPipeline.simAnnIvfPq.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 0
      "TakeOrderedAndProject".r.findAllIn(p).size shouldBe 1
      p should not include "CartesianProduct"
    }
  }

  test("tx_blocklist: map-only scan-stage matching, no hash exchange") {
    // the automaton rides the UDF closure; matching happens in the
    // scan stage — the only exchange either side may have is the
    // output-contract orderBy's range partitioner
    val p = staticPlan(QueriesPipeline.txBlocklist.fn(spark, sf))
    withClue(p) {
      hashEx(p) shouldBe 0
      "Scan parquet".r.findAllIn(p).size shouldBe 1
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("pl_url_canonical: canonicalization is scan-stage map work, no hash exchange") {
    val p = plan(QueriesPipeline.plUrlCanonical.fn(spark, sf))
    withClue(p) {
      // every rule (case fold, port/www/fragment/utm strip, param sort)
      // is a projection over the scan; the ONLY exchange is the
      // output-contract orderBy's range partitioner
      hashEx(p) shouldBe 0
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("pl_host_dedup: keep-best stays in HashAggregate (packed key), two hash exchanges") {
    val p = plan(QueriesPipeline.plHostDedup.fn(spark, sf))
    withClue(p) {
      // url_canon keep-best + host rollup, both with map-side partial
      // aggs; the packed-BIGINT max must NOT fall back to the
      // SortAggregate a struct-max would force
      hashEx(p) shouldBe 2
      p should not include "SortAggregate"
      "- Exchange rangepartitioning".r.findAllIn(p).size shouldBe 1
    }
  }

  test("pl_incremental_ingest: digests-only anti join, corpus text never shuffles") {
    val p = staticPlan(QueriesPipeline.plIncrementalIngest.fn(spark, sf))
    withClue(p) {
      p should include ("LeftAnti")
      // both anti-join shuffles carry (int64, int64) rows at most —
      // no exchange row may carry the text column
      val exchanges = p.linesIterator.filter(_.contains("- Exchange")).toSeq
      exchanges.foreach { line => line should not include "text" }
    }
  }

  test("w_pareto_abc: facts collapse in the agg BEFORE any window runs") {
    val p = staticPlan(QueriesAggWindow.wParetoAbc.fn(spark, sf))
    withClue(p) {
      // agg-then-window: the customer-revenue agg reduces facts first
      // (one hash exchange); the ranking windows then run over the
      // key-sized frame — a window BELOW the agg would walk the facts
      hashEx(p) shouldBe 1
      val aggAt = p.indexOf("HashAggregate")
      val winAt = p.indexOf("Window")
      aggAt should be >= 0
      winAt should be >= 0
      // formatted plans print operators leaves-last, so the agg
      // (upstream) must appear BELOW the window (downstream) in text
      winAt should be < aggAt
    }
  }

  test("dd_incremental_minhash: banded equi-join probe; text stays out of the bucket exchange") {
    val p = staticPlan(QueriesPipeline.ddIncrementalMinhash.fn(spark, sf))
    withClue(p) {
      // delta×base candidates come from the (band, sig) equi-join —
      // an all-pairs fallback is a red plan at any scale
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoop"
      // the bucket join ships (id, band-key) rows only; text joins
      // back just for the verified candidates (the minHashPairs
      // contract) — a bk-keyed exchange carrying text means payloads
      // went to the buckets
      p.linesIterator.filter(_.contains("hashpartitioning(bk")).foreach(l =>
        l should not include "text")
    }
  }

  test("pl_data_quality: one scan-constraint agg, per-key uniqueness exchanges, 1-row recombines") {
    val p = staticPlan(QueriesPipeline.plDataQuality.fn(spark, sf))
    withClue(p) {
      // the ledger recombines three 1-row aggregates; the join of
      // 1-row frames must be nested-loop-on-single-rows (free), never
      // a hash exchange of the fact table
      hashEx(p) should be <= 3 // li composite key, orders PK, FK anti join
      // the five scan constraints fold into ONE aggregate over ONE
      // lineitem scan — one extra pass per constraint is the shape
      // this entry exists to avoid
      val scans = p.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("lineitem"))
      scans should be <= 3 // scan-agg + uniqueness + FK probe side
    }
  }

  test("sim_hard_negatives: broadcast probes, heap top-k (no Window), one group exchange") {
    val p = staticPlan(QueriesPipeline.simHardNegatives.fn(spark, sf))
    withClue(p) {
      // the bounded probe suite broadcasts; the corpus never shuffles
      // vectors — the only hash exchange carries (probe_id, vec_id,
      // rounded-cos) triples into the per-key bounded heaps
      p should include ("TopKPerGroup")
      p should not include "Window" // the sort-everything spelling
      p should include ("BroadcastNestedLoopJoin")
      hashEx(p) shouldBe 1
    }
  }

  test("media near-dup entries: banded equi-joins, never all-pairs; scans read doc_id only") {
    val dir = "target/tmp/spec_planshape_mmdd"
    (0 until 30).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (entry <- Seq(QueriesPipeline.mmNearDup, QueriesPipeline.mmVideoNearDup,
        QueriesPipeline.mmAudioNearDup)) {
      val p = plan(entry.fn(spark, dir))
      withClue(s"${entry.name}:\n$p") {
        // LSH banding = equi-join on band keys; an all-pairs fallback
        // (the O(N²) shape banding exists to avoid) is a red plan
        p should not include "CartesianProduct"
        p should not include "BroadcastNestedLoop"
        // payloads are synthesized AND fingerprinted inside the scan
        // stage: no file scan may read the text column (doc_id is the
        // only input the fixtures derive from)
        p.linesIterator.filter(_.contains("ReadSchema")).foreach(l =>
          l should not include "text")
      }
    }
  }
}

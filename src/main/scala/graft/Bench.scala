package graft

/** Benchmark main: per-entry wall times and deterministic plan vectors
  * at SPARK_GRAFT_SF_DIR (default sf0.1), written to
  * `target/bench_last.json`; stdout carries one summary line.
  *
  * Timing authority is `perfbench/`, which runs interleaved same-host
  * A/Bs. This record serves the plan-baseline gate
  * (`tools/bench_compare.py` against PLAN_BASELINE.json) and per-entry
  * minima for selecting and adjudicating entries.
  *
  * Measurement contract (fixes the r1 defects; hardened r5):
  *  - every query executes through the `noop` sink, which runs the FULL
  *    plan — a bare count() let Catalyst prune projection-only queries
  *    down to a row-count scan, timing fiction;
  *  - a failed query reports `-1` with its error in `errors`, instead
  *    of masquerading as a fast success;
  *  - warmup absorbs session/codegen/scan-pool startup AND MLlib
  *    class-loading (a 32-row LR fit — without it the first ml_* query
  *    was charged ~5 s of one-time classloader work);
  *  - the full suite runs TWICE post-warmup and each query reports the
  *    MIN of its two times: a single pass was at the mercy of
  *    transient machine load (r3 202.6 s vs r4 125.3 s vs 78.0 s on an
  *    idle rerun of the same code — pure contention noise); the
  *    per-query min of two interleaved passes is robust to load spikes
  *    because a spike must hit the SAME query in BOTH passes to show;
  *  - queries run in sorted-name order (stable across rounds).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Verify.session()

    // Deterministic plan metrics: every SQL action an entry runs reports
    // its executed plan's exchange/shuffle/spill numbers via
    // QueryExecutionListener; sums are attributed to the entry named in
    // `currentQ`. Wall-times ride host weather — these do not, so
    // bench_compare can flag a plan regression (new exchange, 10x
    // shuffle growth) exactly. Recorded from PASS 2 only: pass 1 carries
    // one-time fixture builds and memo warms that are not the entry's
    // steady plan.
    val planAgg = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val currentQ = new java.util.concurrent.atomic.AtomicReference[String](null)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val n = currentQ.get()
        if (n != null) {
          val m = graft.plans.PlanMetrics.of(qe.executedPlan)
          planAgg.merge(n, m, (a, b) => graft.plans.PlanMetrics.add(a, b))
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    def runOnce(name: String): (Double, Option[String]) = {
      // Untimed full GC before each query (JMH-style iteration hygiene).
      // Measured misattribution without it: ml_cv_logloss ran 4.4 s
      // after a 26-entry prefix vs 1.9-2.1 s isolated OR with this GC —
      // the driver-compute-heavy LBFGS loop was paying the garbage debt
      // of earlier entries' localCheckpoint blocks (ContextCleaner frees
      // them on GC of the pinned frames; a large heap otherwise defers
      // collection into whichever entry next stresses the driver).
      System.gc(); Thread.sleep(50)
      currentQ.set(name)
      val r = try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, None)
      } catch {
        case e: Throwable =>
          (-1.0, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
      }
      // flush the async listener bus OUTSIDE the timer so a trailing
      // onSuccess can't book this entry's metrics to the next name
      try org.apache.spark.sql.GraftPlanBridge.drainListenerBus(spark.sparkContext)
      catch { case _: Throwable => () }
      // streaming vectors: the st_stream_* entries enqueue one vector per
      // completed streaming query on their own call stack — attribution
      // is synchronous, no bus
      graft.streaming.StreamMetrics.drainPending().foreach { v =>
        planAgg.merge(name, graft.plans.PlanMetrics.ofStreamVector(v),
          (a, b) => graft.plans.PlanMetrics.add(a, b))
      }
      currentQ.set(null)
      r
    }

    // harness setup: file fixtures written before anything is timed
    SarFixture.ensure()
    Tables.reapLegacyFixtures() // pre-r10 ver-first fixture dirs, one-time
    try Queries.ensureBucketedFixtures(spark, sfDir)
    catch { case _: Throwable => () } // the entry rebuilds on demand
    // warmup, untimed: one SQL-path query + one tiny MLlib fit
    runOnce("q1_pricing_summary")
    try {
      import spark.implicits._
      val toy = (1 to 32).map(i => (i % 2.0, i * 1.0, (i % 7).toDouble))
        .toDF("label", "f_a", "f_b")
      graft.Model.pipeline(Seq("f_a", "f_b")).fit(toy)
    } catch { case _: Throwable => () }

    // per-entry A/Bs: run only the named queries, e.g.
    // SPARK_GRAFT_ONLY=st_stream_exec,dd_components
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val pass1 = names.map(n => n -> runOnce(n)).toMap
    planAgg.clear() // plan metrics record pass 2's steady state only
    val pass2 = names.map(n => n -> runOnce(n)).toMap
    // harness-teardown leak guard (mirror of Verify's RED row): after
    // both passes every streaming entry must have purged its single-use
    // RAM checkpoint; leftovers = a non-purging entry leaking
    // JVM-lifetime bytes
    val ckptLeak = graft.streaming.EphemeralCheckpointFileManager.totalFiles
    if (ckptLeak > 0)
      System.err.println(s"[bench] LEAK: $ckptLeak RAM-checkpoint files " +
        "still tracked after both passes — sample: " +
        graft.streaming.EphemeralCheckpointFileManager.sampleKeys(5).mkString(", "))
    // per-query min of the two passes; a pass that errored (-1) defers
    // to the other — a query is an error only if BOTH passes failed
    val results = names.map { n =>
      val (t1, e1) = pass1(n); val (t2, e2) = pass2(n)
      val t = (t1, t2) match {
        case (a, b) if a >= 0 && b >= 0 => math.min(a, b)
        case (a, _) if a >= 0 => a
        case (_, b) => b
      }
      n -> (t, if (t1 < 0 && t2 < 0) e1.orElse(e2) else None)
    }
    import Verify.q
    // Locale.ROOT: the default-locale overload renders a comma decimal
    // separator under e.g. LANG=de_DE, corrupting the JSON
    def fmt(t: Double): String =
      if (t < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def passTotal(p: Map[String, (Double, Option[String])]) =
      fmt(p.values.map(_._1).filter(_ >= 0).sum)
    val total = fmt(results.map(_._2._1).filter(_ >= 0).sum)
    val nErr = results.count(_._2._2.isDefined)
    val head = s""""metric":"total","value":$total,"unit":"sec""""
    val tail = s""""n_queries":${results.size},"n_errors":$nErr,"sf":${q(sfDir)}"""
    val queries = obj(results.map { case (k, (t, _)) => k -> fmt(t) })
    val errors = obj(results.collect { case (k, (_, Some(e))) => k -> q(e) })
    val plan = obj(names.flatMap { n =>
      Option(planAgg.get(n)).map { m =>
        n -> obj(graft.plans.PlanMetrics.Keys.zipWithIndex
          .map { case (k, i) => k -> (if (i < m.length) m(i) else 0L).toString })
      }
    })
    // a SPARK_GRAFT_ONLY run must never clobber the full-suite record
    // (the r10 near-miss: BENCH_LOCAL_r10 briefly checked in a 4-query
    // subset because a later profiling run had overwritten
    // bench_last.json before the copy)
    val out = java.nio.file.Paths.get("target",
      if (only.isDefined) "bench_only.json" else "bench_last.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out,
      s"""{$head,"queries":$queries,"errors":$errors,""" +
        s""""passes":[${passTotal(pass1)},${passTotal(pass2)}],"plan":$plan,""" +
        s""""ckpt_leak":$ckptLeak,$tail}""")
    println(s"""{$head,$tail,"record":${q(out.toString)}}""")
    spark.stop()
  }
}

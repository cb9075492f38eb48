package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Ensemble, Features, Folds, Graft, Ingest, Metrics, Model}
import graft.functions.{ArrayOps, ImageGeometry}

/** The paper pipeline (main.py → 10-crop.py → sub_stacking.py) composed
  * from the library's public functions over `data/train.json` and
  * `data/test.json`. Each stage pins its output, so a stage's time is its
  * own work and the next stage starts from materialized input. */
final class Iceberg(ctx: Harness.Ctx) extends Workload {
  private val dir = ctx.p("data")
  private val K = 8
  private val Side = 75
  private val Crop = 64
  val Modes: Seq[String] = Seq("mean", "median", "pushout_median",
    "minmax_mean", "minmax_median", "minmax_bestbase")
  private var wall = 0.0
  private var cur = -1
  def passWall: Double = wall
  def prepare(): Unit = ()

  def pass(n: Int): Seq[(String, String)] = {
    cur = n
    wall = 0.0
    val outDir = s"${ctx.out}/${if (n < 0) "warm" else s"p$n"}"
    var loss = Double.NaN
    val err = try { loss = pipeline(outDir); None } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    ops += Harness.Op("pipeline", n, wall, err)
    Seq("oof_logloss" -> Json.num(loss))
  }

  /** Times one stage; the full GC before it (timed passes only) is untimed
    * and reads the live heap, which still holds every earlier stage's
    * pinned output. */
  private def stage[T](name: String)(body: => T): T = {
    if (cur >= 0) Probes.collect()
    val t0 = System.nanoTime()
    val r = ctx.span(s"stage:$name")(body)
    val lat = (System.nanoTime() - t0) / 1e9
    wall += lat
    ops += Harness.Op(s"stage:$name", cur, lat, None)
    r
  }

  private def imageFeats(c: Column): Seq[Column] = Seq(
    ArrayOps.arrayMean(c).as("f_mean"), ArrayOps.arrayStd(c).as("f_std"),
    array_max(c).as("f_max"), array_min(c).as("f_min"))

  /** Runs one pass, writes the six 6-dp submissions under `outDir`,
    * returns the OOF log-loss. */
  def pipeline(outDir: String): Double = {
    val spark = ctx.spark
    val cols = Features.scalarFeatureCols
    def load(f: String): DataFrame = {
      val raw = Ingest.coerce(Ingest.readSarJson(spark, s"$dir/$f"))
        .withColumn("rid", monotonically_increasing_id())
      Ingest.forwardFill(raw, "inc_angle", "rid")
    }
    // the file-order fill leaves one partition; spread the scenes over
    // the cores before the per-pixel feature work
    val (train, test) = stage("ingest") {
      (Graft.pin(load("train.json").repartition(ctx.cores)),
        Graft.pin(load("test.json").repartition(ctx.cores)))
    }
    def feats(df: DataFrame, keep: Column*): DataFrame =
      Graft.pin(Features.addScalarFeatures(Features.addDerivedBands(df))
        .select(keep ++ Seq(col("band_avg")) ++ cols.map(col): _*))
    val (trainF, testF) = stage("features") {
      (feats(train, col("id"), col("is_iceberg").cast("double").as("label")), feats(test, col("id")))
    }
    val testX = testF.drop("band_avg")
    val trainK = stage("folds") {
      Graft.pin(Folds.addStratifiedFoldByKey(trainF.drop("band_avg"), "label", "id", K))
    }
    val (cv, cvMean, loss) = stage("cv") {
      val r = Model.crossValidate(trainK, testX, cols, K)
      val l = r.oof.agg(Metrics.logLoss(col("label"), col("pred"))).head().getDouble(0)
      (r, Graft.pin(r.test), l)
    }
    val tta = stage("tta") {
      val fc = Seq("f_mean", "f_std", "f_max", "f_min")
      val m = Model.pipeline(fc).fit(trainF.select(col("label") +: imageFeats(col("band_avg")): _*))
      val crops = testF.select(col("id"), posexplode(ImageGeometry.tenCropUdf(
        col("band_avg"), lit(Side), lit(Side), lit(Crop), lit(Crop))).as(Seq("crop_id", "crop")))
      Graft.pin(Model.prob1(m.transform(crops.select(col("id") +: imageFeats(col("crop")): _*)))
        .groupBy("id").agg(avg(col("pred")).as("tta")))
    }
    val stacked = stage("stack") {
      val perFold = cv.models.zipWithIndex.map { case (m, j) =>
        Model.prob1(m.transform(testX)).select(col("id"), col("pred").as(s"f$j"))
      }
      val members = cvMean.select(col("id"), col("pred").as("cv")) +: tta +: perFold
      val preds = array((Seq("cv", "tta") ++ (0 until K).map(j => s"f$j")).map(col): _*)
      Graft.pin(members.reduce(_.join(_, "id"))
        .select(col("id") +: Modes.map(m => Ensemble.stack(m, preds, col("cv")).as(m)): _*))
    }
    stage("sink") {
      Modes.foreach { m =>
        stacked.select(col("id"), format_string("%.6f", col(m)).as("is_iceberg"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$outDir/$m")
      }
    }
    loss
  }
}

/** Harness self-test: two sibling stages over the same tiny frame, one of
  * which runs a benchmark-side UDF that sleeps `sleep_ms` per row. The
  * test (perfbench/tests/test_harness.py) reads the spans and checks the
  * sleep lands in that stage's self time and task time only. */
final class SelfTest(ctx: Harness.Ctx) extends Workload {
  private val sleepMs = ctx.p("sleep_ms").toLong
  private var wall = 0.0
  def passWall: Double = wall
  def prepare(): Unit = ()
  def pass(n: Int): Seq[(String, String)] = {
    val ms = sleepMs // a local, so the UDF closure does not capture the workload
    val nap = udf { (x: Long) => Thread.sleep(ms); x }
    val plain = udf((x: Long) => x)
    val t0 = System.nanoTime()
    def run(name: String, f: Column => Column): Unit = ctx.span(s"stage:$name") {
      ctx.spark.range(0, 8, 1, 4).select(sum(f(col("id")))).collect(): Unit
    }
    run("sleepy", nap(_))
    run("plain", plain(_))
    wall = (System.nanoTime() - t0) / 1e9
    ops += Harness.Op("selftest", n, wall, None)
    Nil
  }
}

/** Per-layer numbers from the traced passes' span tree, averaged per pass. */
object PerLayer {
  private val Counters = Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.task_gc_s", "exec.result_bytes", "shuffle.write_bytes", "shuffle.write_s",
    "shuffle.fetch_wait_s", "shuffle.spill_bytes", "Tables.scan_rows", "Tables.scan_bytes",
    "plans.queries", "plans.plan_s", "plans.exchanges", "plans.broadcasts", "plans.scans",
    "plans.shuffle_rows", "sink.bytes", "streaming.batches", "streaming.input_rows",
    "streaming.state_rows", "streaming.plan_s", "streaming.add_batch_s", "streaming.commit_s")
  private val StageSelf = Seq("ingest" -> "Ingest.read_s", "features" -> "functions.features_s",
    "tta" -> "functions.tta_s", "folds" -> "Folds.assign_s", "cv" -> "Model.cv_s",
    "stack" -> "Ensemble.stack_s", "sink" -> "sink.write_s")
  private val Families = Seq("dd", "sim", "pl", "tx", "gr", "mm")

  /** Operator family of an `op:<entry>` span: the entry-name prefix. */
  private def family(span: String): String = span.stripPrefix("op:").takeWhile(_ != '_')

  def apply(ctx: Harness.Ctx, passes: Seq[Harness.Pass]): Seq[(String, Double)] = {
    val tr = ctx.tracer
    val ps = tr.spans.filter(s => s.name == "pass" && s.parent < 0).toSeq
    val n = ps.size.toDouble
    def perPass(f: Span => Double): Double = ps.map(f).sum / n
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val kids = ps.flatMap(tr.children)
    def kid(name: String): Seq[Span] = kids.filter(_.name == name)
    val tracedWall = mean(passes.filter(_.traced).map(_.wall))
    val plainWall = mean(passes.filterNot(_.traced).map(_.wall))
    val c = Counters.map(k => k -> perPass(tr.total(_, k))).toMap
    val compiles = perPass(tr.compiles(_).toDouble)
    val opSpans = kids.filter(_.name.startsWith("op:"))
    val opTime = opSpans.map(_.dur).sum / n
    val build = opSpans.flatMap(tr.children).filter(_.name == "build").map(_.dur).sum / n
    def stageSum(name: String)(f: Span => Double) = kid(s"stage:$name").map(f).sum / n
    c.toSeq ++ Seq(
      "codegen.compiles" -> compiles,
      "codegen.compile_s" -> perPass(tr.compileS),
      "codegen.compiles_per_query" -> (if (c("plans.queries") > 0) compiles / c("plans.queries") else 0.0),
      "exec.driver_only_s" -> kids.map(tr.driverOnly).sum / n,
      "exec.slot_util" -> (if (tracedWall > 0) c("exec.task_run_s") / (tracedWall * ctx.cores) else 0.0),
      "Queries.build_s" -> build,
      "Queries.build_share" -> (if (opTime > 0) build / opTime else 0.0),
      "Ingest.read_tasks" -> stageSum("ingest")(tr.total(_, "exec.tasks")),
      "Model.jobs" -> stageSum("cv")(tr.total(_, "exec.jobs")),
      "Model.driver_only_s" -> stageSum("cv")(tr.driverOnly),
      "streaming.ckpt_files_left" -> graft.streaming.EphemeralCheckpointFileManager.totalFiles.toDouble,
      "trace.overhead_s" -> (tracedWall - plainWall),
      "trace.overhead_share" -> (if (plainWall > 0) (tracedWall - plainWall) / plainWall else 0.0)) ++
      StageSelf.map { case (st, k) => k -> stageSum(st)(tr.selfTime) } ++
      Families.map(f => s"operators.${f}_s" ->
        opSpans.filter(s => family(s.name) == f).map(_.dur).sum / n)
  }
}

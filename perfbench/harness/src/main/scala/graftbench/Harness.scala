package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver, one client thread.
  *
  * `Harness <spec.properties>` builds the session, runs an untimed
  * warm-up pass, then `passes` whole timed passes over the workload's
  * operations (order reshuffled per pass from the seed), and writes one
  * JSON record to `result`. The pass count is fixed by the caller, not by
  * how many passes fit a time budget, so every run reports its statistics
  * over the same number of samples. With `trace=1` the passes are split
  * four ways: untraced, traced, traced, untraced. The [[Tracer]]'s span
  * tree yields the per-layer numbers, and the traced-minus-untraced pass
  * wall is the tracing overhead. Output
  * checks happen in perfbench/check.py against what each pass wrote under
  * `out`.
  */
object Harness {
  final case class Op(name: String, pass: Int, lat: Double, err: Option[String])
  final case class Pass(wall: Double, traced: Boolean, heapMb: Double, extra: Seq[(String, String)])

  final class Ctx(val spark: SparkSession, val spec: java.util.Properties) {
    def p(k: String): String =
      Option(spec.getProperty(k)).getOrElse(sys.error(s"spec lacks '$k'"))
    val seed: Long = p("seed").toLong
    val cores: Int = p("cores").toInt
    val out: String = p("out")
    var tracer: Tracer = null
    def span[T](name: String)(body: => T): T =
      if (tracer == null) body else tracer(name)(body)
  }

  def session(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graftbench")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.debug.maxToStringFields", "1000")
    .config("spark.driver.maxResultSize", "8g")
    .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val spec = new java.util.Properties()
    val rd = Files.newBufferedReader(Paths.get(args(0)))
    try spec.load(rd) finally rd.close()
    val launchS = (mainMs - spec.getProperty("spawn_ms", mainMs.toString).toLong) / 1e3
    graft.Verify.quietDeliberateWindowWarn()
    Probes.installCodegenTimer()
    val t0 = System.nanoTime()
    val spark = session(spec.getProperty("cores").toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.Verify.quietDeliberateWindowWarn()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, spec)
    val workload: Workload = ctx.p("workload") match {
      case "iceberg_native" => new Iceberg(ctx)
      case "selftest" => new SelfTest(ctx)
      case _ => new Entries(ctx)
    }
    val tw = System.nanoTime()
    workload.prepare()
    workload.pass(-1) // warm-up, untimed: codegen, class loading, fixtures
    val warmS = (System.nanoTime() - tw) / 1e9
    System.gc() // the first timed pass starts from a collected heap

    val count = ctx.p("passes").toInt
    val trace = ctx.p("trace") == "1"
    val passes = ArrayBuffer.empty[Pass]
    def timed(k: Int, traced: Boolean): Unit = (0 until k).foreach { _ =>
      Probes.heapPeak = 0L
      val n = passes.size
      val pspan = if (traced) ctx.tracer.open("pass") else null
      val extra = workload.pass(n)
      if (pspan != null) ctx.tracer.close(pspan)
      // untimed: the live heap the pass left behind; the next starts collected
      Probes.collect()
      passes += Pass(workload.passWall, traced, Probes.heapPeak / 1048576.0, extra)
    }
    Probes.armed = true
    if (trace) {
      // untraced, traced, traced, untraced: pass order (late JIT, heap
      // growth) weighs on both sides of the overhead difference alike
      require(count % 4 == 0, s"a traced run needs a multiple of 4 passes, not $count")
      val tracer = new Tracer(spark)
      Seq(false, true, true, false).foreach { traced =>
        if (traced) tracer.install() else tracer.uninstall()
        ctx.tracer = if (traced) tracer else null
        timed(count / 4, traced)
      }
      ctx.tracer = tracer
    } else timed(count, traced = false)
    Probes.armed = false

    val layers = if (trace) PerLayer(ctx, passes.toSeq) else Nil
    if (trace) Files.writeString(Paths.get(ctx.out, "spans.json"), ctx.tracer.spansJson)
    val progress = scala.jdk.CollectionConverters.IteratorHasAsScala(
      Probes.progress.iterator()).asScala.toSeq
    val rec = Json.obj(Seq(
      "launch_s" -> Json.num(launchS),
      "session_s" -> Json.num(sessionS),
      "warm_s" -> Json.num(warmS),
      "passes" -> passes.map(p => Json.obj(Seq("wall" -> Json.num(p.wall),
        "traced" -> p.traced.toString, "heap_mb" -> Json.num(p.heapMb)) ++ p.extra))
        .mkString("[", ",", "]"),
      "ops" -> workload.ops.map { o =>
        Json.obj(Seq("name" -> Json.str(o.name), "pass" -> o.pass.toString,
          "lat" -> Json.num(o.lat), "err" -> o.err.map(Json.str).getOrElse("null")))
      }.mkString("[", ",", "]"),
      "batch_s" -> progress.map(p => Json.num(p.triggerMs / 1e3)).mkString("[", ",", "]"),
      "per_layer" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(ctx.p("result")), rec)
    spark.stop()
  }
}

/** A workload: set-up, then whole passes. `pass(-1)` is the warm-up. */
trait Workload {
  val ops = ArrayBuffer.empty[Harness.Op]
  def prepare(): Unit
  /** Runs one pass and returns extra per-pass JSON fields. */
  def pass(n: Int): Seq[(String, String)]
  /** Wall time of the last pass, excluding untimed hygiene. */
  def passWall: Double
}

/** Query entries from `graft.SparkEntry.queries`, each built and written
  * to parquet under `out/p<pass>/<entry>` for the oracle compare. */
final class Entries(ctx: Harness.Ctx) extends Workload {
  private val names = ctx.p("ops").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  private val dir = ctx.p("data")
  private var wall = 0.0
  def passWall: Double = wall

  // entry fixtures other than the SAR file build on demand in the warm-up
  def prepare(): Unit = {
    graft.SarFixture.ensure()
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(ctx.out, "oracle_sql.json"), Json.obj(
      names.flatMap(n => oracle.get(n).map(sql => n -> Json.str(sql)))))
  }

  def pass(n: Int): Seq[(String, String)] = {
    val order = new scala.util.Random(ctx.seed * 1000003L + n).shuffle(names)
    wall = 0.0
    order.foreach { name =>
      // untimed: an op does not pay for its predecessors' garbage
      if (n >= 0) Probes.collect()
      val path = s"${ctx.out}/${if (n < 0) "warm" else s"p$n"}/$name"
      val t0 = System.nanoTime()
      val err = try {
        ctx.span(s"op:$name") {
          val df = ctx.span("build")(graft.SparkEntry.queries(name)(ctx.spark, dir))
          ctx.span("execute")(df.write.mode("overwrite").parquet(path))
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val lat = (System.nanoTime() - t0) / 1e9
      wall += lat
      ops += Harness.Op(name, n, lat, err)
      // untimed: deliver this op's listener events before the next op
      org.apache.spark.sql.GraftPlanBridge.drainListenerBus(ctx.spark.sparkContext)
      graft.streaming.StreamMetrics.drainPending(): Unit
    }
    Nil
  }
}

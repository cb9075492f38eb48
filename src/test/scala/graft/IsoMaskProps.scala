package graft

import graft.functions.ArrayOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** Differential property for the native `iso_mask` (plans/ArrayFused.scala)
  * behind `ArrayOps.isoMask`: 10k generated arrays in one DataFrame,
  * compared bit for bit (doubleToRawLongBits) with the spelling it
  * replaced, `transform(a, x => when(x > thr, x).otherwise(0.0))` with
  * thr = mean + 2σ from array_stats. That spelling lives only here; thr
  * is staged as its own column (as a9_iso_mask does) so the reference
  * costs O(n) per array instead of re-running the stats per element —
  * the same doubles either way. Both expression paths are checked: the
  * generated code (CODEGEN_ONLY, whole-stage on, no fallback) and the
  * interpreted eval (NO_CODEGEN, whole-stage off).
  *
  * Inputs: lengths 0..5625 (the native 75×75 length included), SAR-like
  * all-negative dB bands (half rounded to one decimal, so duplicates),
  * flat backgrounds with bright spikes (many kept pixels), few-valued
  * and constant arrays, IEEE specials, injected ±0.0, NaN and null
  * elements, and null arrays. */
object IsoMaskProps extends Properties("iso_mask") {

  // the unit of a run is one 10k-array batch, evaluated once per mode
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(1)

  private val BatchSize = 10000
  private val Native = 75 * 75

  private val gauss: Gen[Double] = for {
    u1 <- Gen.choose(1e-12, 1.0)
    u2 <- Gen.choose(0.0, 1.0)
  } yield math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)

  // weighted to short arrays to keep the batch small (~3M elements)
  private val lenGen: Gen[Int] = Gen.frequency(
    45 -> Gen.choose(0, 8), 30 -> Gen.choose(9, 256), 20 -> Gen.choose(257, 2048),
    4 -> Gen.choose(2049, Native), 1 -> Gen.const(Native))

  private val special: Gen[Double] = Gen.oneOf(
    Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue)

  private def base(n: Int): Gen[Array[Double]] = Gen.oneOf(
    // SAR-like dB: all negative
    Gen.zip(Gen.containerOfN[Array, Double](n, gauss), Gen.prob(0.5)).map { case (zs, round) =>
      zs.map { z =>
        val v = math.min(-0.1, -20.0 + 5.0 * z)
        if (round) math.rint(v * 10.0) / 10.0 else v
      }
    },
    // flat background with sparse bright spikes
    Gen.containerOfN[Array, Double](n,
      Gen.frequency(49 -> Gen.choose(-1.0, 1.0), 1 -> Gen.choose(10.0, 1e3))),
    // few distinct values: duplicates, constant arrays (σ = 0, or a
    // rounding-negative variance and so a NaN threshold)
    Gen.listOfN(3, Gen.choose(-50.0, 50.0)).flatMap(pool =>
      Gen.containerOfN[Array, Double](n, Gen.oneOf(pool))),
    // IEEE specials in a uniform range
    Gen.containerOfN[Array, Double](n,
      Gen.frequency(9 -> Gen.choose(-1e3, 1e3), 1 -> special)))

  /** A generated batch; prints as its size, not 10k array dumps. */
  final case class Batch(arrays: List[Array[java.lang.Double]]) {
    override def toString: String = s"batch of ${arrays.size} arrays"
  }

  private val arrayGen: Gen[Array[java.lang.Double]] = for {
    n <- lenGen
    xs <- base(n)
    zeros <- Gen.prob(0.15)
    nan <- Gen.prob(0.05)
    nul <- Gen.prob(0.08)
    at <- Gen.listOfN(3, Gen.choose(0, math.max(n - 1, 0)))
    none <- Gen.prob(0.02)
  } yield if (none) null else {
    val a = xs.map(Double.box)
    if (n > 0) {
      if (zeros) { a(at.head) = -0.0; a(at(1)) = 0.0 }
      if (nan) a(at(2)) = Double.NaN
      if (nul) a(at(2)) = null
    }
    a
  }

  private val codegenKeys = Seq(
    "spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage", "spark.sql.codegen.fallback")

  private def under[T](mode: String)(body: => T): T = {
    val conf = TestSpark.spark.conf
    val saved = codegenKeys.map(k => k -> conf.getOption(k))
    val codegen = mode == "CODEGEN_ONLY"
    conf.set(codegenKeys.head, mode)
    conf.set(codegenKeys(1), codegen)
    conf.set(codegenKeys(2), !codegen)
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def bits(v: Any): Option[Seq[Long]] = Option(v).map(_.asInstanceOf[scala.collection.Seq[_]]
    .map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double])).toSeq)

  /** Evaluate both spellings under `mode`; returns the first mismatch (if
    * any), the number of arrays with a kept pixel, and the executed plan. */
  private def check(df: DataFrame, mode: String): (Option[String], Int, String) = under(mode) {
    val thr = ArrayOps.arrayMean(col("a")) + lit(2.0) * ArrayOps.arrayStd(col("a"))
    // thr is selected too, so the non-cheap stage is referenced twice and
    // CollapseProject keeps it out of the lambda. iso_mask sits in that
    // lower stage: a Project holding a lambda (a CodegenFallback) is never
    // whole-stage compiled, the lower one is under CODEGEN_ONLY
    val out = df.select(col("id"), col("a"), thr.as("thr"), ArrayOps.isoMask(col("a")).as("got"))
      .select(col("id"), col("thr"), col("got"),
        transform(col("a"), x => when(x > col("thr"), x).otherwise(lit(0.0))).as("want"))
    val plan = out.queryExecution.executedPlan.toString
    var bad: Option[String] = None
    var kept = 0
    val it = out.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val (got, want) = (bits(r.get(2)), bits(r.get(3)))
      if (want.exists(_.exists(_ != 0L))) kept += 1
      if (got != want && bad.isEmpty)
        bad = Some(s"id ${r.getInt(0)} thr ${r.get(1)}: got ${got.map(_.take(8))} want ${want.map(_.take(8))}")
    }
    (bad, kept, plan)
  }

  property("bit-identical to the transform spelling under both codegen modes") =
    Prop.forAllNoShrink(Gen.listOfN(BatchSize, arrayGen).map(Batch(_))) { case Batch(arrays) =>
      val spark = TestSpark.spark
      val schema = StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("a", ArrayType(DoubleType, containsNull = true), nullable = true)))
      val rows = arrays.zipWithIndex.map { case (a, i) => Row(i, if (a == null) null else a.toSeq) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema).cache()
      try {
        df.count()
        Prop.all(Seq("CODEGEN_ONLY", "NO_CODEGEN").map { mode =>
          val (bad, kept, plan) = check(df, mode)
          val codegen = plan.linesIterator.find(_.contains("iso_mask(")).exists(_.contains("*("))
          (bad.isEmpty :| s"$mode mismatch: ${bad.getOrElse("")}") &&
            // the batch exercises the keep branch, not only all-zero masks
            (kept >= BatchSize / 5) :| s"$mode: only $kept arrays kept a pixel" &&
            (codegen == (mode == "CODEGEN_ONLY")) :| s"$mode ran the wrong path:\n$plan"
        }: _*)
      } finally df.unpersist()
    }
}

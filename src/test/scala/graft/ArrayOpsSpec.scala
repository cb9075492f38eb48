package graft

import graft.functions.ArrayOps._
import org.apache.spark.sql.functions._

/** FIXTURES.md §3 hand-computed cases for the §2.3/§2.5 array family —
  * the suite whose absence let the arrayMedian analysis bug ship in r1. */
class ArrayOpsSpec extends SparkSpec {

  test("G8 arrayMedian: odd length [1,3,2] -> 2") {
    evalOnArray(Seq(1.0, 3.0, 2.0), arrayMedian) shouldBe 2.0
  }

  test("G8 arrayMedian: even length [1,2,3,4] -> 2.5") {
    evalOnArray(Seq(1.0, 2.0, 3.0, 4.0), arrayMedian) shouldBe 2.5
  }

  test("G8 arrayMedian: singleton and two elements") {
    evalOnArray(Seq(7.0), arrayMedian) shouldBe 7.0
    evalOnArray(Seq(1.0, 2.0), arrayMedian) shouldBe 1.5
  }

  test("G8 arrayMedian: empty array -> null (DuckDB list_median parity)") {
    assert(evalOnArray(Seq.empty[Double], arrayMedian) == null)
  }

  test("A7 minMaxNormalize: [2,4,6] -> [0,0.5,1]") {
    asDoubles(evalOnArray(Seq(2.0, 4.0, 6.0), minMaxNormalize)) shouldBe Seq(0.0, 0.5, 1.0)
  }

  test("A7 minMaxNormalize: constant image guard -> zeros, not NaN") {
    asDoubles(evalOnArray(Seq(5.0, 5.0, 5.0), minMaxNormalize)) shouldBe Seq(0.0, 0.0, 0.0)
  }

  test("A9 isoMask: keeps only pixels > mean + 2*std") {
    // 8 zeros + one outlier 100: mean=11.11.., std=31.42.. -> thr≈73.96;
    // only the outlier survives.
    val a = Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 100.0)
    asDoubles(evalOnArray(a, isoMask)) shouldBe Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 100.0)
    // no pixel exceeds mean+2std on a flat-ish array -> all zeroed
    asDoubles(evalOnArray(Seq(1.0, 2.0, 3.0), isoMask)) shouldBe Seq(0.0, 0.0, 0.0)
  }

  test("A9 isoMask: null array -> null, null element -> zeros, empty -> empty") {
    import spark.implicits._
    val df = Seq[(Int, Seq[java.lang.Double])](
      (1, null),
      (2, Seq[java.lang.Double](0.0, 0.0, 0.0, null, 100.0)),
      (3, Seq.empty)).toDF("k", "a")
    val got = df.select(col("k"), isoMask(col("a"))).collect()
      .map(r => r.getInt(0) -> r.get(1)).toMap
    assert(got(1) == null)
    // the threshold is undefined with a null pixel: every pixel zeroes,
    // the outlier included, and the length is kept
    asDoubles(got(2)) shouldBe Seq(0.0, 0.0, 0.0, 0.0, 0.0)
    asDoubles(got(3)) shouldBe empty
  }

  test("A9 iso_mask resolves in SQL and coerces numeric arrays") {
    val r = spark.sql("SELECT iso_mask(array(0, 0, 0, 0, 0, 0, 0, 0, 100)) AS m").head()
    asDoubles(r.get(0)) shouldBe Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 100.0)
  }

  test("A9 iso_mask rejects a non-numeric array with a type-check failure") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT iso_mask(array('a', 'b')) AS m").collect()
    }
    e.getMessage should include("iso_mask expects array<double>, got ARRAY<STRING>")
  }

  test("A10 sizeFeature: fraction of pixels below cut") {
    val a = Seq.fill(13)(0.0) ++ Seq(-6.0, -7.0, -8.0) // 3 of 16 below -5
    evalOnArray(a, sizeFeature(_, -5.0)) shouldBe 3.0 / 16.0
  }

  test("A2-A5 band algebra on b1=[1,-2], b2=[3,4]") {
    asDoubles(evalOnArrays(Seq(1.0, -2.0), Seq(3.0, 4.0), bandAvg)) shouldBe Seq(2.0, 1.0)
    asDoubles(evalOnArrays(Seq(1.0, -2.0), Seq(3.0, 4.0), bandAbsDiff)) shouldBe Seq(2.0, 6.0)
    asDoubles(evalOnArrays(Seq(1.0, -2.0), Seq(3.0, 4.0), bandMax)) shouldBe Seq(3.0, 4.0)
    asDoubles(evalOnArrays(Seq(1.0, -2.0), Seq(3.0, 4.0), bandMin)) shouldBe Seq(1.0, -2.0)
  }

  test("G9 arrayMean / arrayStd (population, ddof=0)") {
    evalOnArray(Seq(1.0, 2.0, 3.0, 4.0), arrayMean) shouldBe 2.5
    // np.std([1,2,3,4]) = sqrt(1.25)
    approx(evalOnArray(Seq(1.0, 2.0, 3.0, 4.0), arrayStd).asInstanceOf[Double], math.sqrt(1.25))
  }

  test("vector math: dot / l2Norm / cosine") {
    evalOnArrays(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0), dot) shouldBe 32.0
    evalOnArray(Seq(3.0, 4.0), l2Norm) shouldBe 5.0
    // cosine of identical vectors = 1
    approx(evalOnArrays(Seq(1.0, 2.0), Seq(1.0, 2.0), cosine).asInstanceOf[Double], 1.0)
    // orthogonal -> 0
    approx(evalOnArrays(Seq(1.0, 0.0), Seq(0.0, 1.0), cosine).asInstanceOf[Double], 0.0)
  }

  test("median equals sorted-middle for a spread of lengths (property)") {
    import spark.implicits._
    val cases = Seq(
      Seq(5.0), Seq(9.0, 1.0), Seq(3.0, 1.0, 2.0), Seq(-1.0, -5.0, 2.0, 0.0),
      Seq(10.0, 2.0, 8.0, 4.0, 6.0), (1 to 8).map(_.toDouble).reverse)
    val df = cases.map(Tuple1(_)).toDF("a")
    val got = df.select(arrayMedian(col("a"))).collect().map(_.getDouble(0))
    val want = cases.map { c =>
      val s = c.sorted; val n = s.length
      (s((n - 1) / 2) + s(n / 2)) / 2.0
    }
    got.toSeq shouldBe want
  }
}

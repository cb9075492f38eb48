package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 / §2.5 array operators as Catalyst column
  * combinators — no UDFs, no driver loops. The one-pass stats family
  * (sum/mean/std) and min-max normalize route through the NATIVE
  * codegen expressions `array_stats` / `minmax_norm`
  * (plans/ArrayFused.scala, registered by GraftExtensions — every
  * session here configures it): builtin higher-order-function lambdas
  * (`aggregate`/`transform`) evaluate interpreted outside whole-stage
  * codegen, which made these folds the a7/a9/ml_tta hot spots; the
  * native expressions run the bit-identical left-to-right folds inside
  * the generated loop. Element-wise algebra stays on `zip_with` etc.
  * (one lambda application per element is not a measured hot spot).
  *
  * Semantics derive from the reference's per-image numpy algebra
  * (reference: main.py:63-86, main-newInput.py:79-97, sub_stacking.py:30-33);
  * arrays here are the flat row-major pixel/vector layout (A1: a 75×75
  * image is a 5625-float array, index (r,c) = r*W+c).
  */
object ArrayOps {

  /** Fused one-pass stats struct (sum, mean, std, mn, mx) — the native
    * array_stats expression; `.cast("array<double>")` is a no-op for
    * already-double arrays (Catalyst removes the trivial cast). */
  private def stats(a: Column): Column =
    call_function("array_stats", a.cast("array<double>"))

  /** Cast array<float> → array<double> so all math is double (oracle parity). */
  def asDouble(a: Column): Column = a.cast("array<double>")

  // --- A2-A5: element-wise band algebra (reference main.py:65-68) ---
  def bandAvg(a: Column, b: Column): Column = zip_with(a, b, (x, y) => (x + y) / lit(2.0))
  def bandAbsDiff(a: Column, b: Column): Column = zip_with(a, b, (x, y) => abs(x - y))
  def bandMax(a: Column, b: Column): Column = zip_with(a, b, (x, y) => greatest(x, y))
  def bandMin(a: Column, b: Column): Column = zip_with(a, b, (x, y) => least(x, y))

  // --- G9/A9 one-pass stats (native array_stats; folds bit-identical
  // to the former interpreted aggregate(a, 0.0, acc+x) spellings) ---
  def arraySum(a: Column): Column = stats(a).getField("sum")
  def arrayMean(a: Column): Column = stats(a).getField("mean")
  /** Population std (ddof=0, matching np.std in main-newInput.py:80). */
  def arrayStd(a: Column): Column = stats(a).getField("std")

  // --- A7: per-image min-max normalize (main.py:104); epsilon-guarded:
  // a constant image maps to all-zeros instead of NaN (documented
  // deviation). Native fused expression (minmax_norm).
  def minMaxNormalize(a: Column): Column =
    call_function("minmax_norm", a.cast("array<double>"))

  // --- A9: iso threshold mask: keep pixels > mean+2*std, zero the rest
  // (main-newInput.py:79-81). ---
  def isoMask(a: Column): Column = {
    val thr = arrayMean(a) + lit(2.0) * arrayStd(a)
    transform(a, x => when(x > thr, x).otherwise(lit(0.0)))
  }

  // --- A10: size feature — fraction of pixels below `cut`
  // (main-newInput.py:82-83 uses cut = -5 on SAR dB values). ---
  def sizeFeature(a: Column, cut: Double): Column =
    size(filter(a, x => x < lit(cut))).cast("double") / size(a)

  // --- G8: exact row-wise median via sort + middle element(s)
  // (sub_stacking.py:33). ---
  def arrayMedian(a: Column): Column = {
    val s = array_sort(a)
    val n = size(a)
    // Column./ is true division (double) and Spark 4's element_at rejects a
    // double index — floor + cast back to int for the middle position(s).
    val lo = element_at(s, floor((n + lit(1)) / lit(2)).cast("int"))
    val hi = element_at(s, (floor(n / lit(2)) + lit(1)).cast("int"))
    // n=0 would make element_at throw (index 0 invalid); median of an
    // empty array is NULL (DuckDB list_median parity).
    when(n === 0, lit(null).cast("double")).otherwise((lo + hi) / lit(2.0))
  }

  // --- Vector math for similarity search (embeddings.embedding) ---
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))
  /** Squared L2 distance — left-to-right fold, so the double sum is
    * bit-identical to DuckDB's list_sum over the same zip (the
    * engine-parity contract the sim_* oracles rely on). */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
}

package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused one-pass array statistics: sum, mean, population std (ddof=0),
  * min, max of an array<double> in a single codegen'd loop — the r4
  * verdict's stretch item (promote the interpreted-HOF stats to a
  * native Expression alongside cosine_sim).
  *
  * Why: `aggregate`/`transform` lambdas evaluate INTERPRETED (outside
  * whole-stage codegen — see the memory/measurements at
  * Dedup.scala:78-82), so ArrayOps.arrayStd cost two interpreted folds
  * per row. This expression runs the identical left-to-right folds
  * inside the generated loop. (The iso mask's threshold is the same
  * fold, fused into [[IsoMask]]: zero interpreted folds.)
  *
  * Bit-parity contract (the oracle hash depends on it): sum and sumsq
  * are the same `0.0 + x0 + x1 + …` left-to-right double folds the
  * interpreted `aggregate(a, 0.0, acc+x)` performed; mean = sum/n and
  * std = sqrt((sumsq − sum·sum/n)/n) are the same IEEE expressions
  * ArrayOps spelled out — so every green oracle (a9 threshold, g_row
  * stats, ens_* means) sees identical doubles.
  *
  * Null semantics: null input → null; any null ELEMENT → null result
  * (aggregate's acc+null=null propagation). Empty array → sum 0.0,
  * mean/std NaN (0/0 — same as the ArrayOps formulas), mn/mx NaN.
  */
case class ArrayStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"array_stats expects array<double>, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("sum", DoubleType, nullable = false),
    StructField("mean", DoubleType, nullable = false),
    StructField("std", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = false),
    StructField("mx", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "array_stats"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var sum = 0.0; var sumsq = 0.0
    var mn = Double.NaN; var mx = Double.NaN
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getDouble(i)
      sum += v; sumsq += v * v
      if (i == 0) { mn = v; mx = v }
      else { mn = math.min(mn, v); mx = math.max(mx, v) }
      i += 1
    }
    val nd = n.toDouble
    val mean = sum / nd
    val std = math.sqrt((sumsq - sum * sum / nd) / nd)
    new GenericInternalRow(Array[Any](sum, mean, std, mn, mx))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val sumsq = ctx.freshName("sumsq")
      val mn = ctx.freshName("mn")
      val mx = ctx.freshName("mx")
      val v = ctx.freshName("v")
      val nd = ctx.freshName("nd")
      val mean = ctx.freshName("mean")
      val std = ctx.freshName("std")
      s"""
         |final int $n = $a.numElements();
         |double $sum = 0.0, $sumsq = 0.0;
         |double $mn = Double.NaN, $mx = Double.NaN;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $v = $a.getDouble($i);
         |  $sum += $v; $sumsq += $v * $v;
         |  if ($i == 0) { $mn = $v; $mx = $v; }
         |  else { $mn = java.lang.Math.min($mn, $v); $mx = java.lang.Math.max($mx, $v); }
         |}
         |if (!${ev.isNull}) {
         |  final double $nd = (double) $n;
         |  final double $mean = $sum / $nd;
         |  final double $std = java.lang.Math.sqrt(($sumsq - $sum * $sum / $nd) / $nd);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{
         |      java.lang.Double.valueOf($sum), java.lang.Double.valueOf($mean),
         |      java.lang.Double.valueOf($std), java.lang.Double.valueOf($mn),
         |      java.lang.Double.valueOf($mx)});
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArrayStats =
    copy(child = newChild)
}

/** Fused A7 min-max normalize: one codegen'd pass finds min/max, a
  * second writes (x−mn)/(mx−mn) — ε-guard: a constant image maps to
  * all-zeros, matching ArrayOps' documented deviation. Replaces an
  * interpreted `transform` lambda per element (the a7_normalize hot
  * spot in the r4 plan audit).
  *
  * Null semantics: null input → null; any null ELEMENT → null result
  * (deviation from the old transform path, which skipped nulls in
  * min/max and emitted null elements — no caller feeds null elements;
  * deviation documented here). Empty array → empty array.
  */
case class MinMaxNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minmax_norm expects array<double>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minmax_norm"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val buf = new Array[Double](n)
    var mn = 0.0; var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getDouble(i)
      if (i == 0) { mn = v; mx = v }
      else { mn = math.min(mn, v); mx = math.max(mx, v) }
      i += 1
    }
    i = 0
    while (i < n) {
      buf(i) = if (mx == mn) 0.0 else (a.getDouble(i) - mn) / (mx - mn)
      i += 1
    }
    new GenericArrayData(buf)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val mn = ctx.freshName("mn")
      val mx = ctx.freshName("mx")
      val v = ctx.freshName("v")
      val buf = ctx.freshName("buf")
      s"""
         |final int $n = $a.numElements();
         |double $mn = 0.0, $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $v = $a.getDouble($i);
         |  if ($i == 0) { $mn = $v; $mx = $v; }
         |  else { $mn = java.lang.Math.min($mn, $v); $mx = java.lang.Math.max($mx, $v); }
         |}
         |if (!${ev.isNull}) {
         |  final double[] $buf = new double[$n];
         |  for (int $j = 0; $j < $n; $j++) {
         |    $buf[$j] = ($mx == $mn) ? 0.0 : ($a.getDouble($j) - $mn) / ($mx - $mn);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($buf);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinMaxNormalize =
    copy(child = newChild)
}

/** Fused A9 iso mask (main-newInput.py:79-81): keep pixels above
  * mean + 2σ, zero the rest, in two passes — one sum/sumsq fold, one
  * mask write. Spelled as a `transform` lambda holding the threshold,
  * the mask runs interpreted and re-runs both array_stats folds for
  * every pixel: O(n²) per band, the paper pipeline's features-stage
  * hot spot at 75×75.
  *
  * Bit-parity contract: the threshold is the same IEEE expression
  * ArrayStats and ArrayOps spell — `0.0 + x0 + …` left-to-right folds,
  * mean = sum/n, std = sqrt((sumsq − sum·sum/n)/n), thr = mean + 2·std
  * — and an element is kept iff `v > thr` (no NaN element can meet a
  * non-NaN thr: one NaN makes the sums NaN). So the output equals the
  * former `transform(a, x => when(x > thr, x).otherwise(0.0))` bit for
  * bit; IsoMaskProps checks that under both codegen modes.
  *
  * Null semantics (the former spelling's): null input → null; any null
  * ELEMENT → all zeros of the same length (thr was null, so `when`
  * fell through to `otherwise` for every pixel); empty → empty; NaN
  * anywhere → all zeros.
  *
  * One kernel, [[mask]], serves both eval paths: generated code calls
  * it through a reference object, so the parity formula exists once.
  */
case class IsoMask(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"iso_mask expects array<double>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "iso_mask"

  def mask(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var sum = 0.0; var sumsq = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return new GenericArrayData(out)
      val v = a.getDouble(i)
      sum += v; sumsq += v * v
      i += 1
    }
    val nd = n.toDouble
    val thr = sum / nd + 2.0 * math.sqrt((sumsq - sum * sum / nd) / nd)
    i = 0
    while (i < n) {
      val v = a.getDouble(i)
      if (v > thr) out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = mask(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("isoMask", this)
    defineCodeGen(ctx, ev, a => s"$self.mask($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): IsoMask =
    copy(child = newChild)
}

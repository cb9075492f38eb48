package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, NumericType}

/** Native Catalyst expression for cosine similarity over two
  * array<double> columns — the (b) tier of the custom-operator
  * preference order (SURVEY §2.10): one fused pass computing dot
  * product and both norms, WITH whole-stage codegen (`doGenCode`), so
  * unlike a Scala UDF it stays inside the generated loop with no
  * row-boundary boxing, and unlike zip_with/aggregate builtin combos it
  * is not interpreted per element.
  *
  * Float semantics match ArrayOps.cosine bit-for-bit (each accumulator
  * is the same left-to-right fold; final dot/(√na·√nb)), so the
  * sim_topk DuckDB oracle is unchanged. Returns NULL for null inputs,
  * length mismatch, any null element, or a zero norm.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is off-limits (AbstractDataType is private[sql])
  // — validate explicitly; callers cast to array<double> themselves.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<double>, array<double>), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = $a.getDouble($i);
         |    final double $yv = $b.getDouble($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} = $dot / $denom; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session extensions registering the native functions — enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (Verify, Bench and the test session all do). Usable from SQL
  * (`SELECT cosine_sim(a, b)`) and the Column API via
  * `call_function("cosine_sim", a, b)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Registration-boundary coercion — the role ImplicitCastInputTypes
    * plays for built-ins (unavailable outside org.apache.spark:
    * AbstractDataType is private[sql]): a SQL user writes
    * `cosine_sim(array(1, 0), emb)` with an int-array literal; wrap
    * any other NUMERIC array in a Cast to array<double> so the strict
    * expressions stay strict (and their hot-path eval monomorphic).
    * Unresolved or non-array children pass through — the expression's
    * own checkInputDataTypes reports those. */
  private def asDoubleArray(e: Expression): Expression =
    if (!e.resolved) e
    else e.dataType match {
      case ArrayType(DoubleType, _) => e
      case ArrayType(_: NumericType, cn) => Cast(e, ArrayType(DoubleType, cn))
      case _ => e
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator surface: per-group top-k (LogicalPlan + Strategy
    // + bounded-heap SparkPlan — see TopKPerGroup.scala) plus the
    // optimizer rule that rewrites the row_number-filter-drop idiom
    // onto it (TopKRewrite.scala)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => TopKRewrite)
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim expects exactly 2 arguments")
        CosineSimilarity(asDoubleArray(children.head), asDoubleArray(children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("array_stats"),
      new ExpressionInfo(classOf[ArrayStats].getName, "array_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "array_stats expects exactly 1 argument")
        ArrayStats(asDoubleArray(children.head))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minmax_norm"),
      new ExpressionInfo(classOf[MinMaxNormalize].getName, "minmax_norm"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "minmax_norm expects exactly 1 argument")
        MinMaxNormalize(asDoubleArray(children.head))
      }))
    ext.injectFunction((
      new FunctionIdentifier("iso_mask"),
      new ExpressionInfo(classOf[IsoMask].getName, "iso_mask"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "iso_mask expects exactly 1 argument")
        IsoMask(asDoubleArray(children.head))
      }))
    ext.injectFunction((
      new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "zorder2 expects exactly 2 arguments")
        ZOrder2(children.head, children(1))
      }))
  }
}

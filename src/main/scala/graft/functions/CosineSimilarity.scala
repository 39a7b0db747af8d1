package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: cosine similarity of two array<double>
  * columns in one fused loop.
  *
  * The composable formulation —
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_) / sqrt(...)` — walks each
  * array three times and allocates an intermediate array per row. For the
  * ANN/near-dup hot paths that is the per-row inner loop, so it gets the
  * (b)-tier treatment from the design brief: a codegen'd BinaryExpression
  * computing dot, |a|² and |b|² in a single pass with zero allocation.
  * Registered as SQL function `cosine_sim` via [[GraftFunctions]]
  * (SparkSessionExtensions), callable from any dialect surface.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<double> arguments, got $l and $r")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getDouble(i); val y = ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na * nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = $a.getDouble($i);
         |  final double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |final double $denom = java.lang.Math.sqrt($na * $nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SparkSessionExtensions hook registering graft's native functions.
  * [[graft.Session.local]] attaches it; another session passes
  * `GraftFunctions.register` to its builder's `withExtensions`, or sets
  * `spark.sql.extensions=graft.functions.GraftFunctions`.
  */
class GraftFunctions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.register(ext)
}

object GraftFunctions {
  val register: SparkSessionExtensions => Unit = { ext =>
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("md5_long60"),
      new ExpressionInfo(classOf[Md5Long60].getName, "md5_long60"),
      (children: Seq[Expression]) => Md5Long60(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("dot_dec"),
      new ExpressionInfo(classOf[DotDecimal].getName, "dot_dec"),
      (children: Seq[Expression]) => DotDecimal(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinhashBands].getName, "minhash_bands"),
      (children: Seq[Expression]) => MinhashBands(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[Simhash60].getName, "simhash60"),
      (children: Seq[Expression]) => Simhash60(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("collect_set_capped"),
      new ExpressionInfo(classOf[CollectSetCapped].getName, "collect_set_capped"),
      (children: Seq[Expression]) => children match {
        case Seq(value, cap) => CollectSetCapped(value, cap)
        case other => throw new IllegalArgumentException(
          s"collect_set_capped requires exactly 2 arguments (value, cap), got ${other.length}")
      }))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector hot path (SURVEY.md §7.3:
  * prefer a codegen'd `Expression` over HOF combinations when the profile
  * says so — and it does: `aggregate(zip_with(a, b, *))` allocates an
  * intermediate array per ROW-PAIR and runs the lambda interpreted, which
  * dominates the all-pairs cosine joins. This expression is a tight
  * primitive loop inside whole-stage codegen: no allocation, no virtual
  * calls.
  *
  * Summation order is sequential like the HOF version and DuckDB's
  * `list_dot_product`, so results are bit-identical to the oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // input typing enforced at the function builder (GraftFunctions): both
  // children must already be array<double> (AbstractDataType, the
  // ExpectsInputTypes vocabulary, is private[sql])
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += x.getDouble(i) * y.getDouble(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration plumbing: `graft_dot` as a SQL function, available either
  * through `spark.sql.extensions=graft.functions.GraftExtensions` or by
  * calling `GraftFunctions.ensureRegistered(spark)` at runtime.
  */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes exactly 2 arguments")
        // accept any numeric array by inserting a cast to array<double>
        import org.apache.spark.sql.catalyst.expressions.Cast
        val target = ArrayType(DoubleType)
        val cast = args.map(a =>
          if (a.dataType == target) a else Cast(a, target))
        DotProduct(cast.head, cast(1))
      }),
      (
        FunctionIdentifier("graft_deflate_len"),
        new ExpressionInfo(classOf[DeflateLength].getName, "graft_deflate_len"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_deflate_len takes exactly 1 argument")
          import org.apache.spark.sql.catalyst.expressions.Cast
          import org.apache.spark.sql.types.StringType
          val a = args.head
          DeflateLength(
            if (a.dataType == StringType) a else Cast(a, StringType))
        }),
      (
        FunctionIdentifier("graft_bloom_probe"),
        new ExpressionInfo(
          "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
          "graft_bloom_probe"),
        (args: Seq[Expression]) => {
          // (serialized-bloom BINARY literal, xxhash64 LONG) → BOOLEAN.
          // Spark's own runtime-filter probe expression: stays inside
          // WholeStageCodegen, unlike a Scala UDF closure (r14 verdict:
          // the wedge-stream bloom probe ran interpreted per candidate —
          // 41M invocations at sf0.1). The sketch-library serialized form
          // `DataFrame.stat.bloomFilter(...).writeTo` produces is exactly
          // what this expression deserializes, and `mightContainLong` is
          // the same probe the UDF called — bit-identical filtering.
          require(args.length == 2, "graft_bloom_probe takes exactly 2 arguments")
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            args.head, args(1))
        }))

  /** `graft_dot(x, y)`: the codegen'd native dot product ([[DotProduct]]) —
    * the same sequential summation as the HOF/DuckDB forms, none of the
    * per-pair array allocation. The session must have the function
    * registered ([[ensureRegistered]] or [[GraftExtensions]]).
    */
  def dot(x: Column, y: Column): Column = call_function("graft_dot", x, y)

  /** Idempotent runtime registration on a session's function registry. */
  def ensureRegistered(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(ident))
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** `SparkSessionExtensions` hook (set `spark.sql.extensions` to this class
  * name): the place any future custom rule/strategy of this engine also
  * registers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}

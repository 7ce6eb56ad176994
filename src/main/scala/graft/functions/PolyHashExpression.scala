package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the polynomial rolling hash
  * (fold (acc*31 + char) mod P) with `doGenCode` — the preferred
  * extension shape when built-in functions can't stay in codegen:
  * the HOF formulation ([[TextFunctions.polyHash]]) is interpreted
  * per character, this compiles to a tight Java loop inside
  * whole-stage codegen. Semantics are identical for BMP strings
  * (char-by-char code points, which is what `ascii(substr(i,1))`
  * folds over); the corpus contract is ASCII.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |String $s = $c.toString();
         |long $acc = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $acc = ($acc * 31L + $s.charAt($i)) % ${TextFunctions.P}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash extends NativeFunction(classOf[PolyHash]) {
  val Name = "graft_polyhash"

  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * 31 + s.charAt(i)) % TextFunctions.P
      i += 1
    }
    acc
  }

  private[functions] def builder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$Name takes exactly one argument")
    PolyHash(args.head)
  }
}

/** A native graft function: its SQL `Name`, its arity-checked `builder`
  * and its `ExpressionInfo` — what both registration paths publish: the
  * programmatic [[register]] on an already-built session, and
  * [[GraftExtensions]] at session build time.
  */
abstract class NativeFunction(expression: Class[_ <: Expression]) {
  val Name: String

  private[functions] def builder(args: Seq[Expression]): Expression

  private[functions] def info: ExpressionInfo = new ExpressionInfo(expression.getName, Name)

  /** Register on an existing session (idempotent); afterwards callable
    * as `Name(...)` from SQL or `call_function`.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(Name, builder, "built-in")
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects every
  * native function at session build time — the deployment-config path;
  * each function's own [[NativeFunction.register]] covers an
  * already-built session. The builders are the arity-checked ones the
  * register path uses: an unchecked `args.head` would silently hash
  * only the first argument of a miswritten graft_polyhash(a, b) call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.Name), f.info, f.builder)))
}

object GraftExtensions {
  /** Every native function, in one list. */
  val Functions: Seq[NativeFunction] = Seq(PolyHash, DotProduct, SqDistLong, NearestCid, NearestCell)
}

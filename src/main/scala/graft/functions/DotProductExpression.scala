package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the float/double-array dot product
  * in double precision — the hot scalar of every similarity query
  * (knn scoring, near-dup recheck, centroid assignment). The
  * higher-order-function formulation ([[VectorFunctions.dot]]:
  * zip_with + aggregate) is interpreted — one lambda invocation per
  * element per pair; this compiles to a tight fused loop inside
  * whole-stage codegen.
  *
  * Each side may be ARRAY<FLOAT> or ARRAY<DOUBLE> (trained k-means
  * centroids are exact-decimal doubles scored against float corpus
  * vectors). Semantics match the HOF form exactly: float elements are
  * widened float→double (exact) before multiplying, accumulation is
  * sequential left-to-right, a null element or length mismatch yields
  * NULL (zip_with pads the shorter side with nulls, which nulls the
  * HOF sum the same way).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (l, r) if elemOk(l) && elemOk(r) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, got ${l.sql} and ${r.sql}")
  }

  private def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], isFloat(left.dataType),
      b.asInstanceOf[ArrayData], isFloat(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      def get(arr: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${get(a, isFloat(left.dataType))} * ${get(b, isFloat(right.dataType))};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct extends NativeFunction(classOf[DotProduct]) {
  val Name = "graft_dot"

  /** The interpreted kernel: `x · y` with float elements widened
    * (`xf`/`yf` say which side is ARRAY<FLOAT>), accumulated left to
    * right; NULL on a null element or a length mismatch. */
  def dot(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  private[functions] def builder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$Name takes exactly two arguments")
    DotProduct(args.head, args(1))
  }
}

/** `graft_nearest_cell(v, nrm, cids, cembs, cnrms)`: the IVF cell of a
  * vector — the centroid id ranked first by [[NearestCell.before]],
  * i.e. the rank-1 row of `ORDER BY round(graft_dot(v, c_emb) / (nrm *
  * c_nrm), 6) DESC, centroid_id`. The model is one row of index-aligned
  * arrays (`cids` ARRAY<BIGINT>, `cembs` ARRAY<ARRAY<DOUBLE>>, `cnrms`
  * ARRAY<DOUBLE>); `v` is ARRAY<FLOAT> or ARRAY<DOUBLE>. The generated
  * code is one call into [[NearestCell.nearest]], the same kernel the
  * driver ranks query probes with, so it does not grow with the cell
  * count. NULL when the model is empty, its arrays misalign, or it
  * holds a NULL centroid id.
  */
case class NearestCell(children: Seq[Expression]) extends Expression {
  require(children.length == 5, s"${NearestCell.Name} takes exactly five arguments")

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case Seq(ArrayType(FloatType | DoubleType, _), DoubleType, ArrayType(LongType, _),
             ArrayType(ArrayType(DoubleType, _), _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case ts => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, DOUBLE, ARRAY<BIGINT>, " +
        s"ARRAY<ARRAY<DOUBLE>>, ARRAY<DOUBLE>), got ${ts.map(_.sql).mkString(", ")}")
  }

  private def vFloat: Boolean = children.head.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = NearestCell.Name

  override def eval(input: InternalRow): Any = {
    val in = children.map(_.eval(input))
    NearestCell.nearest(in(0).asInstanceOf[ArrayData], vFloat,
      in(1).asInstanceOf[java.lang.Double], in(2).asInstanceOf[ArrayData],
      in(3).asInstanceOf[ArrayData], in(4).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = children.map(_.genCode(ctx))
    // boxed arguments, null for a NULL input (the norm boxes explicitly)
    val args = in.zipWithIndex.map { case (e, i) =>
      s"(${e.isNull} ? null : ${if (i == 1) s"java.lang.Double.valueOf(${e.value})" else e.value})"
    }
    val cell = ctx.freshName("cell")
    val kernel = NearestCell.getClass.getName + ".MODULE$"
    ev.copy(code = code"""
       |${in.map(_.code.toString).mkString("\n")}
       |java.lang.Long $cell = $kernel.nearest(${args.head}, $vFloat, ${args.tail.mkString(", ")});
       |boolean ${ev.isNull} = $cell == null;
       |long ${ev.value} = ${ev.isNull} ? -1L : $cell.longValue();
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCell = copy(children = newChildren)
}

object NearestCell extends NativeFunction(classOf[NearestCell]) {
  val Name = "graft_nearest_cell"

  /** THE IVF cell score, on executors and on the driver alike:
    * `round(graft_dot(v, c) / (nrm * c_nrm), 6)` with Spark's double
    * division and HALF_UP round. NULL where that SQL form is NULL (a
    * NULL input, a null element, a length mismatch); a zero divisor
    * fails under ANSI and is NULL otherwise, as the division does.
    */
  def score(v: ArrayData, vFloat: Boolean, nrm: java.lang.Double,
            c: ArrayData, cnrm: java.lang.Double): java.lang.Double = {
    if (v == null || nrm == null || c == null || cnrm == null) return null
    val dot = DotProduct.dot(v, vFloat, c, false)
    val den = nrm * cnrm
    if (dot == null) null
    else if (den == 0.0) {
      if (SQLConf.get.ansiEnabled)
        throw new ArithmeticException(s"[DIVIDE_BY_ZERO] $Name: a zero-norm vector or centroid")
      null
    } else {
      val q = dot / den
      if (q.isNaN || q.isInfinite) q
      else java.math.BigDecimal.valueOf(q).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
  }

  /** Whether cell (s, cid) ranks before (t, tid) in `ORDER BY score DESC
    * NULLS LAST, cid`: Spark's double order (NaN above every number),
    * ties to the LOWER id. */
  def before(s: java.lang.Double, cid: Long, t: java.lang.Double, tid: Long): Boolean = {
    val c =
      if (s == null || t == null) (if (s == null) 1 else 0) - (if (t == null) 1 else 0)
      else SQLOrderingUtil.compareDoubles(t, s)
    c < 0 || (c == 0 && cid < tid)
  }

  /** Every model cell's [[score]] for one vector, index-aligned with
    * `cids`; null when the model is empty, its arrays misalign, or it
    * holds a NULL id. */
  private def scores(v: ArrayData, vFloat: Boolean, nrm: java.lang.Double,
                     cids: ArrayData, cembs: ArrayData,
                     cnrms: ArrayData): Array[java.lang.Double] = {
    val k = if (cids == null || cembs == null || cnrms == null) 0 else cids.numElements()
    if (k == 0 || k != cembs.numElements() || k != cnrms.numElements() ||
        (0 until k).exists(cids.isNullAt)) return null
    Array.tabulate(k)(j => score(v, vFloat, nrm, if (cembs.isNullAt(j)) null else cembs.getArray(j),
      if (cnrms.isNullAt(j)) null else cnrms.getDouble(j)))
  }

  /** The model's cell ids in rank order for one vector (the driver ranks
    * each query's probes with this); none where [[scores]] is null. */
  def ranked(v: ArrayData, vFloat: Boolean, nrm: java.lang.Double,
             cids: ArrayData, cembs: ArrayData, cnrms: ArrayData): Seq[Long] = {
    val s = scores(v, vFloat, nrm, cids, cembs, cnrms)
    if (s == null) Nil
    else s.indices.sortWith((i, j) => before(s(i), cids.getLong(i), s(j), cids.getLong(j)))
      .map(cids.getLong)
  }

  /** The first cell of [[ranked]] in one pass (the executor side), or null. */
  def nearest(v: ArrayData, vFloat: Boolean, nrm: java.lang.Double,
              cids: ArrayData, cembs: ArrayData, cnrms: ArrayData): java.lang.Long = {
    val s = scores(v, vFloat, nrm, cids, cembs, cnrms)
    if (s == null) return null
    var best = 0
    for (j <- 1 until s.length)
      if (before(s(j), cids.getLong(j), s(best), cids.getLong(best))) best = j
    cids.getLong(best)
  }

  private[functions] def builder(args: Seq[Expression]): Expression = NearestCell(args)
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for the INTEGER micro-unit distance
  * kernel behind the k-means / IVF / SemDeDup family.
  *
  * The family quantizes embeddings to BIGINT micro-units
  * (round(x * 1e6)) so every distance is an exact integer sum —
  * order-independent and bit-identical across engines (the property
  * the DuckDB oracle checks end to end). The original formulation
  * carried that arithmetic through POS-EXPLODED rows: a corpus-vs-
  * centroid assignment joined (vec_id, pos, vq) against (cid, pos,
  * cq) on pos, pushing n·d·k rows through a hash aggregate — at the
  * SemDeDup operating point (k = √n, d = 64) that is ~30 BILLION
  * aggregate probes per assignment pass on a 600k-vector corpus,
  * measured as the dominant cost of x_semantic_dedup. These
  * expressions compute the identical long arithmetic over PACKED
  * ARRAY<BIGINT> columns inside whole-stage codegen: same values,
  * zero exploded intermediates, d× fewer rows through every join.
  *
  * Overflow domain: |micro| ≤ ~2.1e6 for unit-scale embeddings, so a
  * squared diff is ≤ ~1.8e13 and a 64-dim sum ≤ ~1.2e15 — far inside
  * Long. (The micro-unit convention, not the expression, owns that
  * bound; the same bound already governed the exploded BIGINT sums.)
  */

/** `graft_sqdist(a, b)`: exact squared L2 distance between two
  * ARRAY<BIGINT> micro-unit vectors, as BIGINT — the packed twin of
  * `sum((a.vq - b.vq) * (a.vq - b.vq))` over pos-exploded rows.
  * NULL on length mismatch or any NULL element (a caller bug surface,
  * not a real corpus state — micro-unit arrays are dense).
  */
case class SqDistLong(left: Expression, right: Expression) extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (l, r) if elemOk(l) && elemOk(r) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> arguments, got ${l.sql} and ${r.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sqdist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0L
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = x.getLong(i) - y.getLong(i)
        acc += d * d
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

object SqDistLong extends NativeFunction(classOf[SqDistLong]) {
  val Name = "graft_sqdist"

  private[functions] def builder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$Name takes exactly two arguments")
    SqDistLong(args.head, args(1))
  }
}

/** `graft_nearest_cid(vqa, cids, cqas)`: the id of the centroid
  * nearest to `vqa` by exact squared L2 over BIGINT micro-units, ties
  * to the SMALLEST cid — exactly `min(struct(d2, cid))` over the
  * pos-exploded distance aggregate it replaces (lexicographic struct
  * ordering IS the (d2, cid) tie-break). One fused k×d loop per
  * vector inside whole-stage codegen: the n·d·k-row assignment join
  * collapses to n rows against a single broadcast model row.
  *
  * `cids` is ARRAY<BIGINT>, `cqas` ARRAY<ARRAY<BIGINT>>, index-aligned
  * (element j of each describes one centroid). NULL when the model is
  * empty, the arrays misalign, any centroid's dimensionality differs
  * from the vector's, or any element is NULL — caller-bug surfaces;
  * the exploded formulation silently summed over matching pos instead,
  * and strictness here is deliberate.
  */
case class NearestCid(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  private def longArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  private def nestedLongArray(t: DataType): Boolean = t match {
    case ArrayType(e, _) => longArray(e)
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (v, c, m) if longArray(v) && longArray(c) && nestedLongArray(m) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, c, m) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, ARRAY<BIGINT>, ARRAY<ARRAY<BIGINT>>), " +
          s"got ${v.sql}, ${c.sql}, ${m.sql}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cid"

  override protected def nullSafeEval(v: Any, c: Any, m: Any): Any = {
    val vqa = v.asInstanceOf[ArrayData]
    val cids = c.asInstanceOf[ArrayData]
    val cqas = m.asInstanceOf[ArrayData]
    val k = cids.numElements()
    val d = vqa.numElements()
    if (k == 0 || k != cqas.numElements()) return null
    var bestD2 = 0L
    var bestCid = 0L
    var has = false
    var j = 0
    while (j < k) {
      if (cids.isNullAt(j) || cqas.isNullAt(j)) return null
      val cqa = cqas.getArray(j)
      if (cqa.numElements() != d) return null
      var d2 = 0L
      var i = 0
      while (i < d) {
        if (vqa.isNullAt(i) || cqa.isNullAt(i)) return null
        val df = vqa.getLong(i) - cqa.getLong(i)
        d2 += df * df
        i += 1
      }
      val cid = cids.getLong(j)
      if (!has || d2 < bestD2 || (d2 == bestD2 && cid < bestCid)) {
        has = true; bestD2 = d2; bestCid = cid
      }
      j += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, m) => {
      val k = ctx.freshName("k")
      val d = ctx.freshName("d")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val d2 = ctx.freshName("d2")
      val df = ctx.freshName("df")
      val cqa = ctx.freshName("cqa")
      val cid = ctx.freshName("cid")
      val bestD2 = ctx.freshName("bestD2")
      val bestCid = ctx.freshName("bestCid")
      val has = ctx.freshName("has")
      val arrayData = classOf[ArrayData].getName
      s"""
         |int $k = $c.numElements();
         |int $d = $v.numElements();
         |if ($k == 0 || $k != $m.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $bestD2 = 0L; long $bestCid = 0L; boolean $has = false;
         |  for (int $j = 0; $j < $k && !${ev.isNull}; $j++) {
         |    if ($c.isNullAt($j) || $m.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    $arrayData $cqa = $m.getArray($j);
         |    if ($cqa.numElements() != $d) { ${ev.isNull} = true; break; }
         |    long $d2 = 0L;
         |    for (int $i = 0; $i < $d; $i++) {
         |      if ($v.isNullAt($i) || $cqa.isNullAt($i)) { ${ev.isNull} = true; break; }
         |      long $df = $v.getLong($i) - $cqa.getLong($i);
         |      $d2 += $df * $df;
         |    }
         |    if (${ev.isNull}) break;
         |    long $cid = $c.getLong($j);
         |    if (!$has || $d2 < $bestD2 || ($d2 == $bestD2 && $cid < $bestCid)) {
         |      $has = true; $bestD2 = $d2; $bestCid = $cid;
         |    }
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $bestCid;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCid =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCid extends NativeFunction(classOf[NearestCid]) {
  val Name = "graft_nearest_cid"

  private[functions] def builder(args: Seq[Expression]): Expression = {
    require(args.length == 3, s"$Name takes exactly three arguments")
    NearestCid(args.head, args(1), args(2))
  }
}

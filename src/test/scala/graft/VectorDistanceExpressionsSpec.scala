package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{NearestCid, SqDistLong}
import graft.operators.Similarity

class VectorDistanceExpressionsSpec extends SparkSuite {

  private def longArr(xs: Seq[Long]) =
    array(xs.map(x => lit(x)): _*).cast("array<bigint>")

  /** The ORIGINAL pos-exploded assignment formulation, kept verbatim
    * here as the semantics oracle the packed kernel must bit-match:
    * join on pos, BIGINT distance aggregate, min(struct(d2, cid)).
    */
  private def explodedAssign(rows: DataFrame, cents: DataFrame): DataFrame =
    rows.join(broadcast(cents), Seq("pos"))
      .groupBy("vec_id", "cid")
      .agg(sum((col("vq") - col("cq")) * (col("vq") - col("cq"))).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))

  /** Exploded micro-unit rows of the test corpus — the representation
    * the original kernel consumed. */
  private def microRows: DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("vq"))

  test("graft_sqdist equals the exploded BIGINT distance sum on real corpus pairs") {
    SqDistLong.register(spark)
    val rows = microRows.filter(col("vec_id") < 20)
    // exploded reference distances for all pairs u < v among 20 vectors
    val ref = rows.alias("a").join(rows.alias("b"),
        col("a.pos") === col("b.pos") && col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("u"), col("b.vec_id").as("v"))
      .agg(sum((col("a.vq") - col("b.vq")) * (col("a.vq") - col("b.vq"))).as("d2"))
    val packed = Similarity.packEmbeddings(
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < 20))
    val got = packed.alias("a").join(packed.alias("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"),
        call_function(SqDistLong.Name, col("a.vqa"), col("b.vqa")).as("d2"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("graft_sqdist: length mismatch and null input yield null") {
    SqDistLong.register(spark)
    val r = spark.range(1).select(
      call_function(SqDistLong.Name, longArr(Seq(1L, 2L)), longArr(Seq(1L))).as("mismatch"),
      call_function(SqDistLong.Name, lit(null).cast("array<bigint>"),
        longArr(Seq(1L))).as("nullin")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("graft_sqdist stays inside whole-stage codegen") {
    SqDistLong.register(spark)
    val df = spark.range(2).select(
      call_function(SqDistLong.Name, longArr(Seq(3L, -4L)), longArr(Seq(0L, 0L))).as("d"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project"), s"plan lacks codegen span:\n$plan")
    assert(df.collect().forall(_.getLong(0) == 25L))
  }

  test("packed assignment bit-matches the exploded formulation on the corpus (k=8 and k=37)") {
    val rows = microRows
    for (k <- Seq(8, 37)) {
      val cents = rows.filter(col("vec_id") < k)
        .select(col("vec_id").cast("bigint").as("cid"), col("pos"), col("vq").as("cq"))
      val ref = explodedAssign(rows, cents)
      val got = Similarity.coarseAssign(Tables.embeddings(spark, sfDir), cents)
        .select("vec_id", "cid")
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"assignment diverged from the exploded oracle at k=$k")
    }
  }

  test("graft_nearest_cid ties break to the SMALLEST cid (min(struct) semantics)") {
    NearestCid.register(spark)
    // two equidistant centroids (ids out of order in the model arrays)
    // plus a farther one: the argmin must pick cid 3, not 9
    val r = spark.range(1).select(
      call_function(NearestCid.Name,
        longArr(Seq(0L, 0L)),
        longArr(Seq(9L, 3L, 1L)),
        array(longArr(Seq(1L, 1L)), longArr(Seq(-1L, -1L)), longArr(Seq(5L, 5L)))
      ).as("cid")).head()
    assert(r.getLong(0) == 3L)
  }

  test("graft_nearest_cid: empty/misaligned/mismatched models yield null") {
    NearestCid.register(spark)
    val v = longArr(Seq(1L, 2L))
    val r = spark.range(1).select(
      call_function(NearestCid.Name, v,
        longArr(Seq.empty), array().cast("array<array<bigint>>")).as("empty"),
      call_function(NearestCid.Name, v,
        longArr(Seq(1L, 2L)), array(longArr(Seq(0L, 0L)))).as("misaligned"),
      call_function(NearestCid.Name, v,
        longArr(Seq(1L)), array(longArr(Seq(0L, 0L, 0L)))).as("wrongdim")).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}

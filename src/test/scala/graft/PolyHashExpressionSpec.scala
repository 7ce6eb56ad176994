package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{PolyHash, TextFunctions}

class PolyHashExpressionSpec extends SparkSuite {
  import spark.implicits._

  test("native expression equals the HOF formulation (property)") {
    PolyHash.register(spark)
    val gen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    val prop = Prop.forAll(gen) { s =>
      val row = spark.range(1).select(
        call_function(PolyHash.Name, lit(s)).as("native"),
        TextFunctions.polyHash(lit(s)).as("hof")).head()
      row.getLong(0) == row.getLong(1) && row.getLong(0) == PolyHash.hash(s)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("null input yields null; callable from SQL after registration") {
    PolyHash.register(spark)
    val r = spark.sql("SELECT graft_polyhash(CAST(NULL AS STRING)) AS h, graft_polyhash('ab') AS h2").head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) == ('a'.toLong * 31 + 'b'.toLong) % TextFunctions.P)
  }

  test("stays inside whole-stage codegen (no CodegenFallback on the hot path)") {
    PolyHash.register(spark)
    val df = spark.range(2)
      .select(call_function(PolyHash.Name, concat(lit("s"), col("id"))).as("h"))
    val plan = df.queryExecution.executedPlan.toString()
    // "*(n)" prefixes mark operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project"), s"plan lacks codegen span:\n$plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(PolyHash.hash("s0"), PolyHash.hash("s1")))
  }

  test("GraftExtensions' one list holds all five native functions, each callable from SQL") {
    val fns = graft.functions.GraftExtensions.Functions
    assert(fns.map(_.Name).toSet == Set("graft_polyhash", "graft_dot", "graft_sqdist",
      "graft_nearest_cid", "graft_nearest_cell"))
    fns.foreach(_.register(spark))
    val r = spark.sql(
      """SELECT graft_polyhash('ab'),
        |  graft_dot(array(1D, 2D), array(3D, 4D)),
        |  graft_sqdist(array(1L, 2L), array(4L, 6L)),
        |  graft_nearest_cid(array(0L, 0L), array(9L, 3L), array(array(1L, 1L), array(-1L, -1L))),
        |  graft_nearest_cell(array(1D, 0D), 1D, array(5L, 7L),
        |    array(array(0D, 1D), array(1D, 0D)), array(1D, 1D))""".stripMargin).head()
    assert(r.getLong(0) == PolyHash.hash("ab"))
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) == 25L)
    assert(r.getLong(3) == 3L, "equidistant centroids tie to the smaller cid")
    assert(r.getLong(4) == 7L)
  }
}

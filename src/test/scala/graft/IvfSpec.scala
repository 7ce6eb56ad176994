package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.NearestCell
import graft.operators.Similarity

/** The one-pass IVF query against its replaced row_number form
  * ([[ReplacedForms.knnIvf]]): bit-identical output on fixed cases and
  * random corpora, and a Spark job count that does not grow with the
  * query count.
  */
class IvfSpec extends SparkSuite {
  import spark.implicits._

  /** An `embeddings.parquet` of `vecs` (vec_id = position) in a fresh dir. */
  private def corpusDir(vecs: Seq[Seq[Float]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def sameAsReference(dir: String, k: Int, nQueries: Int, nCells: Int, nProbe: Int) =
    rows(Similarity.knnIvf(spark, dir, k, nQueries, nCells, nProbe)) ==
      rows(ReplacedForms.knnIvf(spark, dir, k, nQueries, nCells, nProbe))

  test("a cosine tie after round(_, 6) goes to the lower centroid id") {
    // centroids 0 = (1, 0) and 1 = (0, 1); vector 2 leans to centroid 1
    // by about 8e-8 in cosine, but both scores round to 0.707107, so
    // centroid 0 wins: vectors 2 and 3 (= 2 x vector 2) join cell 0
    val w = 1.0000001f
    val vecs = Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(1f, w), Seq(2f, 2f * w), Seq(1f, 0.2f), Seq(0.2f, 1f))
    val dir = corpusDir(vecs)
    val (v, nrm) = (ArrayData.toArrayData(vecs(2).toArray), math.sqrt(1.0 + w.toDouble * w))
    assert(1.0 / nrm < w / nrm)
    val cembs = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    assert(cembs.map(c => NearestCell.score(v, vFloat = true, nrm, ArrayData.toArrayData(c), 1.0))
      == Seq(0.707107, 0.707107))
    val cell = NearestCell.nearest(v, vFloat = true, nrm, ArrayData.toArrayData(Array(0L, 1L)),
      new GenericArrayData(cembs.map(ArrayData.toArrayData).toArray[Any]),
      ArrayData.toArrayData(Array(1.0, 1.0)))
    assert(cell == 0L)
    val got = rows(Similarity.knnIvf(spark, dir, k = 3, nQueries = 3, nCells = 2, nProbe = 1))
    assert(got == rows(ReplacedForms.knnIvf(spark, dir, 3, 3, 2, 1)))
    // query 2 probes cell 0, whose other members are vectors 0, 3 and 4
    assert(got.filter(_.getLong(0) == 2L).map(_.getLong(1)).sorted == Seq(0L, 3L, 4L))
  }

  test("property: knnIvf equals the row_number cell assignment with distinct (ScalaCheck)") {
    // small integer components in 2-d make collinear vectors and exact
    // cosine ties between centroids common
    val vec = Gen.listOfN(2, Gen.choose(-2, 2).map(_.toFloat)).suchThat(_.exists(_ != 0f))
    val gen = for {
      n <- Gen.choose(2, 30)
      vecs <- Gen.listOfN(n, vec)
      nCells <- Gen.choose(1, 5)
      nQueries <- Gen.choose(1, 5)
      nProbe <- Gen.choose(1, 3)
      k <- Gen.choose(1, 4)
    } yield (vecs, nCells, nQueries, nProbe, k)
    // no shrinking: every case writes a table and runs Spark jobs
    val prop = Prop.forAllNoShrink(gen) { case (vecs, nCells, nQueries, nProbe, k) =>
      sameAsReference(corpusDir(vecs), k, nQueries, nCells, nProbe)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("knnIvf equals the row_number form on the test corpus") {
    assert(rows(Similarity.knnIvf(spark, sfDir)) == rows(ReplacedForms.knnIvf(spark, sfDir, 5, 10, 16, 2)))
  }

  test("knnIvf runs 4 Spark jobs, the same number at 3 and at 10 queries") {
    // one collect of the centroids and queries, then the top-k's two
    // shuffle map stages and its result; a schema inference or a
    // broadcast of the model or the probes would add a job
    val counts = Seq(3, 10).map(q => jobsRun(Similarity.knnIvf(spark, sfDir, nQueries = q).collect()))
    assert(counts.distinct.size == 1 && counts.head == 4, s"jobs at 3/10 queries: ${counts.mkString("/")}")
  }
}

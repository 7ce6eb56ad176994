package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.Similarity

/** One vector quantizer: the PQ trainer and the streamed k-means
  * statistics run on the k-means router and its Lloyd sums. They must
  * equal the exploded formulations they replaced
  * ([[ReplacedForms.pqModel]], [[ReplacedForms.kmeansStats]]) on
  * corpora full of exact distance ties, and the trainer must run a
  * fixed handful of Spark jobs.
  */
class QuantizerSpec extends SparkSuite {
  import spark.implicits._

  /** An `embeddings.parquet` of `vecs` (vec_id = position) in a fresh dir. */
  private def corpusDir(vecs: Seq[Seq[Float]]): String = {
    val dir = Files.createTempDirectory("quantizer").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  private def holds(prop: Prop, cases: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: PQ books, codes and query table equal the exploded trainer (ScalaCheck)") {
    // 64 components from {0, 0.5}: 8-dim subvectors repeat across
    // vectors and subspace distances tie all the time; fewer than 16
    // vectors makes every vector a seed
    val vec = Gen.listOfN(Similarity.Dim, Gen.oneOf(0f, 0.5f))
    val prop = Prop.forAllNoShrink(Gen.choose(2, 30).flatMap(Gen.listOfN(_, vec))) { vecs =>
      val dir = corpusDir(vecs)
      try {
        val m = Similarity.pqModel(spark, dir)
        val (books, codes, qd) = ReplacedForms.pqModel(spark, dir)
        rows(m.codebooks) == rows(books) && rows(m.codes) == rows(codes) &&
          rows(m.queryTable) == rows(qd)
      } finally Caches.releaseAll(spark)
    }
    holds(prop, 10)
  }

  test("property: streamed k-means statistics equal the exploded assignment (ScalaCheck)") {
    // components in {-1, 0, 1} over 2-5 dims: duplicate vectors and
    // equidistant centroids are common, so the (d2, cid) tie-break
    // decides many assignments
    val gen = for {
      d <- Gen.choose(2, 5)
      n <- Gen.choose(1, 30)
      vecs <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-1, 1).map(_.toFloat)))
      k <- Gen.choose(1, 6)
    } yield (vecs, k)
    val prop = Prop.forAllNoShrink(gen) { case (vecs, k) =>
      val base = Files.createTempDirectory("kmstats").toString
      val (centPath, statsPath) = (s"$base/centroids", s"$base/stats")
      val batch = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      graft.streaming.StreamingKmeansStats.writeSeedCentroids(batch, centPath, k)
      graft.streaming.StreamingKmeansStats.statsSink(centPath, statsPath)(batch, 0L)
      rows(spark.read.parquet(statsPath).select("cid", "pos", "sum_vq", "n")) ==
        rows(ReplacedForms.kmeansStats(batch, spark.read.parquet(centPath)))
    }
    holds(prop, 10)
  }

  test("pqModel runs a fixed number of Spark jobs, one aggregate action per Lloyd round") {
    val jobs = try jobsRun(Similarity.pqModel(spark, sfDir)) finally Caches.releaseAll(spark)
    // 3 to pack and checkpoint the corpus and collect the seed, then 2
    // per Lloyd round (the aggregate's map stage, its result); a books
    // broadcast, a per-round checkpoint or a books join-back would add
    // jobs
    assert(jobs == 3 + 2 * 2, s"pqModel ran $jobs Spark jobs")
  }

  /** The main sources. */
  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("graft_nearest_cid is called only in Similarity.route: one router") {
    val call = "NearestCid\\.Name|graft_nearest_cid".r
    // the body of `def route(` runs up to the next member of the object
    val member = "\n  (/\\*\\*|(private(\\[\\w+\\])? )?def )".r
    def routeSpan(text: String): (Int, Int) = {
      val at = text.indexOf("private def route(")
      if (at < 0) (0, 0)
      else (at, member.findFirstMatchIn(text.substring(at)).fold(text.length)(at + _.start))
    }
    val calls = for {
      f <- sources if f.getFileName.toString != "VectorDistanceExpressions.scala"
      text = new String(Files.readAllBytes(f), "UTF-8")
      (from, until) = if (f.getFileName.toString == "Similarity.scala") routeSpan(text) else (0, 0)
      m <- call.findAllMatchIn(text)
    } yield (s"$f:${text.take(m.start).count(_ == '\n') + 1}", m.start >= from && m.start < until)
    assert(calls.exists(_._2), "Similarity.route must call graft_nearest_cid")
    val strays = calls.filterNot(_._2).map(_._1)
    assert(strays.isEmpty, s"graft_nearest_cid called outside Similarity.route:\n${strays.mkString("\n")}")
  }
}

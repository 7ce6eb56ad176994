package graft

import org.apache.spark.sql.functions._

import graft.functions.PolyHash
import graft.operators.WordGrams

/** The word-gram unit on crafted documents: every gram-hashing
  * operator (MinHash, KMV, n-gram Jaccard, substring dedup,
  * winnowing, decontamination, repetition) builds its rows with
  * [[WordGrams.hashed]], so these pin the positions, the guard and the
  * hash of the space-joined tokens for short and long grams.
  */
class WordGramsSpec extends SparkSuite {
  import spark.implicits._

  /** Crafted docs for gram size n: (doc_id, tokens). */
  private def crafted(n: Int): Seq[(Long, Seq[String])] = {
    val base = (1 to n).map(i => s"t$i")
    Seq(
      1L -> (base ++ Seq("mid") ++ base), // the first gram repeats at n + 2
      2L -> base.take(n - 1),             // fewer than n tokens: no gram
      3L -> base,                         // exactly n tokens: one gram
      4L -> (Seq("x", "") ++ base))       // double space: "" is a token
  }

  private def expected(toks: Seq[String], n: Int): Seq[(Long, Long)] =
    (1 to toks.size - n + 1).map(p =>
      (p.toLong, PolyHash.hash(toks.slice(p - 1, p - 1 + n).mkString(" "))))

  for (n <- Seq(2, 3, 4, 8, 50)) {
    test(s"n=$n: positions 1..size-n+1, hashes of the space-joined tokens") {
      val docs = crafted(n)
      val df = docs.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      assert(df.filter(col("doc_id") === 4L).as[(Long, String)].head()._2
        .startsWith("x  t1"), "doc 4 must carry a double space")
      val got = WordGrams.hashed(df, split(col("text"), " "), n, "doc_id")
        .select("doc_id", "pos", "gh").as[(Long, Int, Long)].collect()
        .groupBy(_._1).map { case (id, rows) =>
          id -> rows.map(r => (r._2.toLong, r._3)).sortBy(_._1).toSeq }
      docs.foreach { case (id, toks) =>
        assert(got.getOrElse(id, Seq.empty) == expected(toks, n), s"doc $id")
      }
      assert(!got.contains(2L), "a doc shorter than n has no gram")
      assert(got(3L).size == 1)
      assert(got(4L).size == 3, "the empty token counts toward size")
      val repeated = got(1L)
      assert(repeated.size == n + 2)
      assert(repeated.head._2 == repeated(n + 1)._2, "repeats are kept")
    }
  }

  test("gram text joins n tokens with one space, empty tokens included") {
    val toks = Seq("x", "", "y", "z")
    val texts = spark.range(1).select(
      (1 to 3).map(p => WordGrams.text(typedLit(toks), lit(p), 2)): _*)
      .head().toSeq
    assert(texts == Seq("x ", " y", "y z"))
  }
}

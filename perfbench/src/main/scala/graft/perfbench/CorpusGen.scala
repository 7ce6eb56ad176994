package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded re-keying of a fixed base corpus shaped like the sf0.1
  * `documents` / `embeddings` tables (30-word vocabulary, 10-100
  * tokens, 5 languages, 20 sources, ~5% near-duplicates marked
  * `dup` and some exact duplicates; unit-norm random 64-d float vectors,
  * 10 labels). The base never changes; the seed re-keys it with the two
  * isometries `graft.Amplify` uses to replicate a corpus:
  *
  *  - documents: every whitespace token gets a per-copy suffix salted by
  *    the seed, so every content hash and shingle changes while the
  *    within-copy duplicate structure stays isomorphic; `n_chars` is
  *    recomputed; ids are offset by copy * 10^10;
  *  - embeddings: elementwise multiplication by a ±1 sign pattern hashed
  *    from (seed, copy, dim) — an exact isometry within a copy, so every
  *    within-copy dot product and norm is bit-identical in structure.
  */
object CorpusGen {
  private val vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")
  private val langs = Seq("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.15)
  private val KeyOffset = 10000000000L

  def baseDocs(n: Int): Seq[(String, String, String)] = {
    val r = new SplittableRandom(42)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val u = r.nextDouble()
      val text =
        if (i > 10 && u < 0.05) { // near-duplicate of an earlier document
          val toks = texts(r.nextInt(texts.size)).split(" ").filter(_ != "dup")
          (0 until r.nextInt(3)).foreach(_ => toks(r.nextInt(toks.length)) = vocab(r.nextInt(vocab.length)))
          toks.mkString(" ") + " dup"
        } else if (i > 10 && u < 0.055) texts(r.nextInt(texts.size)) // exact duplicate
        else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
      texts += text
      var l = r.nextDouble()
      val lang = langs.find { case (_, w) => l -= w; l < 0 }.map(_._1).getOrElse("en")
      (text, lang, s"src${i % 20}")
    }
  }

  def baseEmbeddings(n: Int, dim: Int): Seq[Array[Float]] = {
    val r = new SplittableRandom(43)
    Seq.fill(n) {
      val v = Array.fill(dim)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  private def salt(seed: Long): String =
    java.lang.Long.toString(new SplittableRandom(seed).nextLong() & 0xffffffL, 36)

  def docs(seed: Long, base: Seq[(String, String, String)], copies: Int): Seq[Doc] = {
    val s = salt(seed)
    for (c <- 0 until copies; ((text, lang, src), i) <- base.zipWithIndex) yield {
      val t = text.split(" ").map(tok => s"${tok}_${s}c$c").mkString(" ")
      Doc(i + c * KeyOffset, t, lang, src, t.length.toLong)
    }
  }

  def embeddings(seed: Long, base: Seq[Array[Float]], copies: Int): Seq[Emb] =
    for (c <- 0 until copies; (v, i) <- base.zipWithIndex) yield {
      val signs = new SplittableRandom(seed * 1000003L + c)
      Emb(i + c * KeyOffset, v.map(x => if (signs.nextBoolean()) -x else x), i % 10)
    }

  def write(spark: SparkSession, a: Args, dir: String, nDocs: Int, nEmbs: Int): Long = {
    import spark.implicits._
    val copies = a.int("copies")
    val d = docs(a.seed, baseDocs(nDocs), copies)
    val e = embeddings(a.seed, baseEmbeddings(nEmbs, a.int("dim")), copies)
    d.toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    e.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (d.size + e.size).toLong
  }
}

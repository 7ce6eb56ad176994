package graft

import graft.operators.TextAnalysis

/** BPE trainer unit coverage on crafted corpora — the oracle checks
  * determinism against DuckDB on the real corpus; these pin the
  * algorithmic edge cases a synthetic corpus may never hit.
  */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def merges(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String, Long)] =
    df.select("round", "sym_a", "sym_b", "pair_count").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  private def bpeCounts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("overlapping matches merge greedily left-to-right (odd run)") {
    // "aaa" = [a,a,a,</w>]: (a,a) has count 2 and wins; greedy merges
    // position 1 only (position 2's left 'a' was consumed) → [aa,a,</w>]
    val d = docs("aaa")
    assert(merges(TextAnalysis.bpeTrainFrom(d, rounds = 1)) ==
      Seq((1L, "a", "a", 2L)))
    assert(bpeCounts(TextAnalysis.bpeTokenCountsFrom(d, rounds = 1)) ==
      Map(0L -> 3L))
  }

  test("overlapping matches merge greedily left-to-right (even run)") {
    // "aaaa" = [a,a,a,a,</w>]: matches at 1,2,3 → greedy takes 1 and 3
    // → [aa,aa,</w>] = 3 symbols
    val d = docs("aaaa")
    assert(merges(TextAnalysis.bpeTrainFrom(d, rounds = 1)) ==
      Seq((1L, "a", "a", 3L)))
    assert(bpeCounts(TextAnalysis.bpeTokenCountsFrom(d, rounds = 1)) ==
      Map(0L -> 3L))
  }

  test("two match runs in one word keep independent island starts") {
    // r15 optimization pins: the merge application computes each
    // match-run's start as a running max of run-start positions over
    // (word, pos) — the rewrite that replaced the per-round
    // (word, grp)-partitioned min(pos) window (and its two extra
    // sorts). The risk class is start LEAKAGE across a gap: a second
    // run must restart its even-offset parity at its own first
    // position, not the previous run's.
    // "aabaaa" = [a,a,b,a,a,a,</w>]: (a,a) count 3 wins; run 1 = pos
    // {1}, run 2 = pos {4,5} with its own start 4 → merge at 1 and 4
    // → [aa,b,aa,a,</w>] = 5 symbols
    val d = docs("aabaaa")
    assert(merges(TextAnalysis.bpeTrainFrom(d, rounds = 1)) ==
      Seq((1L, "a", "a", 3L)))
    assert(bpeCounts(TextAnalysis.bpeTokenCountsFrom(d, rounds = 1)) ==
      Map(0L -> 5L))
  }

  test("count ties break to the lexically smallest pair") {
    // words ab, cd each twice: (a,b), (b,</w>), (c,d), (d,</w>) all
    // count 2 — (a,b) is the lexical minimum
    val m = merges(TextAnalysis.bpeTrainFrom(docs("ab cd ab cd"), rounds = 1))
    assert(m == Seq((1L, "a", "b", 2L)))
  }

  test("merged symbols participate in later rounds") {
    // "abab": round 1 merges (a,b) → [ab,ab,</w>]; round 2 pairs are
    // (ab,ab) and (ab,</w>) at count 1 — '<' sorts before 'a', so
    // (ab,</w>) wins the tie
    val m = merges(TextAnalysis.bpeTrainFrom(docs("abab"), rounds = 2))
    assert(m == Seq((1L, "a", "b", 2L), (2L, "ab", "</w>", 1L)))
  }

  test("pair counts weight by word frequency, and exhaustion stops early") {
    // "xy" three times, "zw" once: (x,y) count 3 wins round 1. By
    // round 4 every word is a single symbol — no pairs remain, so a
    // 10-round request returns only the realizable merges.
    val m = merges(TextAnalysis.bpeTrainFrom(docs("xy xy xy zw"), rounds = 10))
    assert(m.head == ((1L, "x", "y", 3L)), s"got $m")
    assert(m.size < 10, s"expected early exhaustion, got ${m.size} rounds")
    // fully merged corpus: each word is exactly one token
    val c = bpeCounts(TextAnalysis.bpeTokenCountsFrom(docs("xy xy xy zw"), rounds = 10))
    assert(c == Map(0L -> 4L))
  }

  test("trainer leaves no persisted blocks behind after release") {
    Caches.releaseAll(spark)
    TextAnalysis.bpeTrainFrom(docs("abc abd abc"), rounds = 3).collect()
    // bpeTrain releases the state checkpoint itself (merges are
    // driver-side); nothing should survive the query
    assert(Caches.isEmpty(spark))
  }

  private def batchedMerges(df: org.apache.spark.sql.DataFrame) =
    df.select("round", "sel_rank", "sym_a", "sym_b", "pair_count").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq

  /** Plain-Scala exact BPE, one merge per round: each word (weighted
    * by its frequency) starts as its characters plus a `</w>` end
    * marker; a round merges the pair with the maximum weighted
    * adjacent count, ties to the lexically smallest (sym_a, sym_b),
    * applying non-overlapping matches greedily left to right. Returns
    * the merges (round, sym_a, sym_b, count) and each word's final
    * segmentation. */
  private def exactBpe(words: Map[String, Long], rounds: Int)
      : (Seq[(Long, String, String, Long)], Map[String, String]) = {
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    var segs = words.map { case (w, _) => w -> (w.map(_.toString).toVector :+ "</w>") }
    var merges = Vector.empty[(Long, String, String, Long)]
    var exhausted = false
    while (merges.size < rounds && !exhausted) {
      val counts = segs.toSeq
        .flatMap { case (w, syms) => syms.zip(syms.tail).map(_ -> words(w)) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges :+= ((merges.size + 1L, a, b, c))
        segs = segs.map { case (w, syms) => w -> applyMerge(syms, a, b) }
      }
    }
    (merges, segs.map { case (w, syms) => w -> syms.mkString(" ") })
  }

  test("batched trainer with batchM=1, topK=1 is EXACTLY the one-merge-per-round trainer") {
    // on the real corpus: same 8 merges in the same order with the same
    // selection-time counts, and the same final segmentation of every
    // vocabulary word, as the plain-Scala exact trainer above
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val words = d.select("text").as[String].collect().toSeq
      .flatMap(_.split(" ", -1)).groupMapReduce(identity)(_ => 1L)(_ + _)
    val (refMerges, refSegs) = exactBpe(words, rounds = 8)
    assert(refMerges.size == 8)
    assert(merges(TextAnalysis.bpeTrainFrom(d, rounds = 8)) == refMerges)
    val batched = batchedMerges(
      TextAnalysis.bpeTrainBatchedFrom(d, totalMerges = 8, batchM = 1, topK = 1))
    assert(batched.map(m => (m._1, m._3, m._4, m._5)) == refMerges)
    assert(batched.forall(_._2 == 1L), "every round selects exactly one merge")
    val segs = TextAnalysis.bpeSegmentsFrom(d, rounds = 8)
      .select("word", "segmentation").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(segs == refSegs)
  }

  test("batched rounds select symbol-disjoint pairs, rank-1 always kept") {
    val d = docs("ab ab ab cd cd cd ef ef xy")
    // (a,b),(c,d),(e,f) count 3 or 2 and pairwise disjoint -> one round
    // can take all of the top disjoint set
    val m = batchedMerges(TextAnalysis.bpeTrainBatchedFrom(d,
      totalMerges = 3, batchM = 4, topK = 16))
    assert(m.forall(_._1 == 1L), s"all three merges should land in round 1, got $m")
    val syms = m.flatMap(x => Seq(x._3, x._4))
    assert(syms.distinct.size == syms.size, "within-round merges must be symbol-disjoint")
    assert(m.head._3 == "a" && m.head._4 == "b", "rank-1 pair is always kept first")
  }

  test("greedy scan skips conflicting pairs but keeps later disjoint ones") {
    // "abc" x3: candidates (a,b), (b,c), (c,</w>) all count 3, lexical
    // rank order. Greedy: keep (a,b); skip (b,c) (shares b with a
    // KEPT pair); keep (c,</w>) (disjoint from {a,b} — a skipped
    // candidate does NOT block later ones)
    val d = docs("abc abc abc")
    val m = batchedMerges(TextAnalysis.bpeTrainBatchedFrom(d,
      totalMerges = 2, batchM = 4, topK = 16))
    assert(m == Seq((1L, 1L, "a", "b", 3L), (1L, 2L, "c", "</w>", 3L)), s"got $m")
  }

  test("simultaneous batch application follows the full hand-computed evolution") {
    // "abcd" x2: round 1 candidates (all count 2, lexical rank order):
    // (a,b), (b,c), (c,d), (d,</w>). Keeps: (a,b); (b,c) conflicts on
    // b; (c,d) disjoint -> kept; (d,</w>) conflicts on d.
    // State after round 1: [ab, cd, </w>].
    // Round 2: (ab,cd) then (cd,</w>) -> keeps (ab,cd) only.
    // Round 3: (abcd,</w>).
    val m = batchedMerges(TextAnalysis.bpeTrainBatchedFrom(docs("abcd abcd"),
      totalMerges = 4, batchM = 4, topK = 16))
    assert(m == Seq(
      (1L, 1L, "a", "b", 2L), (1L, 2L, "c", "d", 2L),
      (2L, 1L, "ab", "cd", 2L), (3L, 1L, "abcd", "</w>", 2L)), s"got $m")
  }

  /** Seeded diverse corpus: the driver testdata's word generator uses
    * a few dozen distinct words (the whole corpus exhausts at ~105
    * merges), so the production-vocabulary demo needs a corpus whose
    * symbol space actually supports one. 3000 seeded random words,
    * 500 docs — deterministic across runs.
    */
  private def diverseDocs = {
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 3000).map { _ =>
      val len = 4 + rnd.nextInt(7)
      (1 to len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    (0 until 500).map { i =>
      val nw = 30 + rnd.nextInt(40)
      (i.toLong, (1 to nw).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("256-merge vocabulary trains in >=10x fewer rounds than one-merge-per-round") {
    // the production operating point the r8 verdict asked for:
    // batchM=32 over topK=256 candidates; round count must come in at
    // least 10x under the 256 rounds the exact trainer would need
    val m = batchedMerges(TextAnalysis.bpeTrainBatchedFrom(diverseDocs,
      totalMerges = 256, batchM = 32, topK = 256))
    assert(m.size == 256, s"corpus must support a 256-merge vocabulary, got ${m.size}")
    val rounds = m.map(_._1).max
    assert(rounds <= 25,
      s"need >=10x round reduction vs 256 single-merge rounds, used $rounds")
    // the merge table is a usable artifact: all merges distinct
    assert(m.map(x => (x._3, x._4)).distinct.size == 256)
  }

  test("1k-merge production demo: full vocabulary selected, fertility > 1") {
    // r12: the step from production-shaped to production-sized —
    // 1024 merges over the synthesized widened vocabulary, with the
    // fertility audit meaningful (merges < capacity, so words remain
    // multi-token; the exhausted raw-corpus vocabulary gives exactly
    // 1.0 and proves nothing)
    val out = TextAnalysis.bpe1k(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_merges") == 1024L,
        s"must select the full 1k vocabulary, got ${r.getAs[Long]("n_merges")}")
      assert(r.getAs[Double]("fertility") > 1.0,
        "fertility must be meaningful (vocabulary not exhausted)")
    }
  }

  test("batched trainer leaves no persisted blocks behind after release") {
    Caches.releaseAll(spark)
    TextAnalysis.bpeTrainBatchedFrom(docs("abc abd abc"), totalMerges = 4,
      batchM = 2, topK = 8).collect()
    assert(Caches.isEmpty(spark))
  }

  test("unigramFit matches a plain-Scala hard-EM simulation (crafted corpus)") {
    val fit = TextAnalysis.unigramFit(docs("abab abx cd", "abab cd cd x", "ab ababx"))
    // --- simulator: same frozen geometry, same micro-unit log weights,
    // same (score, path) argmax tie-break (tuple max == struct greatest)
    val P = 6
    val words = Seq("abab", "abx", "cd", "abab", "cd", "cd", "x", "ab", "ababx")
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val substrCounts = words.toSeq.flatMap { case (w, f) =>
      for { i <- 0 until w.length; l <- 1 to math.min(P, w.length - i) }
        yield (w.substring(i, i + l), f)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val chars = substrCounts.keySet.filter(_.length == 1)
    def prune(cnts: Map[String, Long], cap: Int): Map[String, Long] =
      cnts.filter(_._1.length > 1).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(cap).toMap ++
        chars.map(c => c -> math.max(cnts.getOrElse(c, 0L), 1L)).toMap
    def micro(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var vocab = prune(substrCounts, 512)
    var segs: Map[String, Seq[String]] = Map.empty
    for (_ <- 1 to 3) {
      val pen = micro(math.log(vocab.values.sum.toDouble))
      val w = vocab.map { case (p, c) => p -> (micro(math.log(c.toDouble)) - pen) }
      segs = words.keys.map { word =>
        val dp = Array.fill[Option[(Long, String)]](word.length + 1)(None)
        dp(0) = Some((0L, ""))
        for (j <- 1 to word.length) {
          val cands = for {
            i <- math.max(0, j - P) until j
            if dp(i).isDefined
            wu <- w.get(word.substring(i, j))
          } yield {
            val (s0, p0) = dp(i).get
            (s0 + wu,
              if (p0.isEmpty) word.substring(i, j) else p0 + " " + word.substring(i, j))
          }
          if (cands.nonEmpty) dp(j) = Some(cands.max)
        }
        word -> dp(word.length).get._2.split(" ").toSeq
      }.toMap
      val cnts = segs.toSeq.flatMap { case (wd, ps) => ps.map(p => (p, words(wd))) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      vocab = prune(cnts, 256)
    }
    val gotVocab = fit.vocab.collect()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("cnt")).toMap
    assert(gotVocab === vocab)
    val gotSegs = fit.segs.collect().map(r =>
      r.getAs[String]("word") ->
        ((r.getAs[String]("path"), r.getAs[Long]("n_pieces")))).toMap
    assert(gotSegs.keySet === words.keySet)
    words.keys.foreach { wd =>
      assert(gotSegs(wd)._1 === segs(wd).mkString(" "), s"path for $wd")
      assert(gotSegs(wd)._2 === segs(wd).size.toLong)
    }
  }

  test("unigramFit fails loudly on a word beyond the frozen Viterbi unroll") {
    val e = intercept[Exception] {
      TextAnalysis.unigramFit(docs("thirteenchars-long normal words"))
    }
    assert(e.getMessage != null && e.getMessage.contains("Viterbi unroll") ||
      (e.getCause != null && e.getCause.getMessage.contains("Viterbi unroll")),
      s"unexpected: $e")
  }

  test("unigram corpus invariants: lossless segmentation, fertility >= 1, bounded pieces") {
    val vocab = TextAnalysis.unigramTrain(spark, sfDir).collect()
    assert(vocab.nonEmpty)
    assert(vocab.map(_.getAs[Long]("vocab_rank")).toSeq ===
      (1L to vocab.length.toLong))
    vocab.foreach { r =>
      assert(r.getAs[Long]("cnt") >= 1L)
      assert(r.getAs[Long]("piece_len") >= 1L &&
        r.getAs[Long]("piece_len") <= TextAnalysis.UnigramMaxPiece.toLong)
    }
    val tc = TextAnalysis.unigramTokenCounts(spark, sfDir).collect()
    assert(tc.length === 500)
    tc.foreach(r => assert(
      r.getAs[Long]("n_unigram_tokens") >= r.getAs[Long]("n_tokens")))
    // a word is at least one piece, so fertility >= 1; pieces cap at
    // UnigramMaxPiece chars so chars_per_token is bounded by it too
    val f = TextAnalysis.unigramFertility(spark, sfDir).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      assert(r.getAs[Double]("fertility") >= 1.0)
      val cpt = r.getAs[Double]("chars_per_token")
      assert(cpt > 0.0 && cpt <= TextAnalysis.UnigramMaxPiece.toDouble)
    }
    // the serve artifact is LOSSLESS: every word's pieces concatenate
    // back to the word exactly
    val segs = TextAnalysis.unigramSegments(spark, sfDir).collect()
    assert(segs.length === 31) // the corpus's whitespace vocabulary
    segs.foreach { r =>
      assert(r.getAs[String]("path").replace(" ", "") === r.getAs[String]("word"))
      assert(r.getAs[Long]("n_pieces") ===
        r.getAs[String]("path").split(" ").length.toLong)
    }
    // head-to-head: both fertilities >= 1 and the ratio divides them
    val cmp = TextAnalysis.tokenizerCompare(spark, sfDir).collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getAs[Double]("bpe_fertility") >= 1.0)
      assert(r.getAs[Double]("unigram_fertility") >= 1.0)
      assert(r.getAs[Double]("unigram_vs_bpe") > 0.0)
    }
  }

  test("unigram trainer leaves no persisted blocks behind after release") {
    Caches.releaseAll(spark)
    TextAnalysis.unigramFit(docs("abab abx cd")).vocab.collect()
    Caches.releaseAll(spark)
    assert(Caches.isEmpty(spark))
  }
}

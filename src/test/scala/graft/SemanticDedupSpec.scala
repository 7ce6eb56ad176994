package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.Similarity

/** SemDeDup granularity contract: k is DERIVED (round(sqrt(n))), and
  * the per-cell quadratic pair join stays bounded even when the
  * embedding space is heavily skewed — the claim the operator's scale
  * story rests on, pinned here on a fixture the corpus never produces.
  */
class SemanticDedupSpec extends SparkSuite {
  import spark.implicits._

  test("coarseK follows the sqrt-n rule") {
    assert(Similarity.coarseK(1) == 1)
    assert(Similarity.coarseK(500) == 22)   // sqrt = 22.36
    assert(Similarity.coarseK(2000) == 45)  // sqrt = 44.72
    assert(Similarity.coarseK(1000000) == 1000)
  }

  test("semanticK derives cluster count from the corpus, not a constant") {
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(Similarity.semanticK(spark, sfDir) == Similarity.coarseK(n))
  }

  test("skewed fixture: cells stay narrow enough that the pair join is never corpus-quadratic") {
    // 400 vectors, 8 dims: 80% piled into one tight blob (the skew an
    // uncurated crawl produces — mass duplication around one template)
    // plus a 20% spread tail. With k = sqrt(400) = 20 DERIVED cells,
    // Lloyd from the deterministic first-k seed must still split the
    // blob across multiple cells: the quadratic term is sum of
    // width^2, so the bound that matters is the LARGEST cell.
    val vecs = (0L until 400L).map { i =>
      val base = if (i % 5 != 0) 0.5f else (i % 97).toFloat / 97f
      (i, Array.tabulate(8)(d =>
        base + (i % 13).toFloat / 1300f + d * 0.001f))
    }.toDF("vec_id", "embedding")
    val yieldTable = Similarity.semanticDedupFrom(vecs, maxD2 = 1000000000L)
      .collect()
    val widths = yieldTable.map(r => r.getLong(1)) // n_members per cell
    assert(widths.sum == 400, s"every vector routed exactly once: ${widths.sum}")
    assert(widths.length > 1, "skew must not collapse training to one cell")
    // the scale claim: max cell width stays a small multiple of n/k
    // (= 20 here), never a constant fraction of n
    assert(widths.max <= 8 * 20,
      s"largest cell ${widths.max} of 400 — pair join going quadratic")
    // yield accounting invariants hold per cell
    yieldTable.foreach { r =>
      assert(r.getLong(1) == r.getLong(3) + r.getLong(4),
        s"n_members != n_dropped + n_kept in $r")
    }
  }

  /** One cell's members `(vec_id, cent_d2, vqa)`. */
  private type Member = (Long, Long, Array[Long])

  /** Plain-Scala SemDeDup per example: a member is dropped iff some
    * other member strictly under `maxD2` ranks strictly above it by
    * (cent_d2, vec_id). Rows `(cell, n_members, n_dup_pairs, n_dropped,
    * n_kept)`. */
  private def reference(cell: Long, ms: Seq[Member], maxD2: Long): (Long, Long, Long, Long, Long) = {
    def d2(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val near = for (a <- ms; b <- ms if a._1 != b._1 && d2(a._3, b._3) < maxD2) yield (a, b)
    val dropped = ms.count(a => near.exists { case (x, y) =>
      x._1 == a._1 && (y._2 > a._2 || (y._2 == a._2 && y._1 > a._1)) })
    (cell, ms.size, near.size / 2, dropped, ms.size - dropped)
  }

  private def pass(cell: Long, ms: Seq[Member], maxD2: Long): (Long, Long, Long, Long, Long) = {
    val y = Similarity.cellPass(cell, ms.toIndexedSeq, maxD2)
    (y.cell, y.n_members, y.n_dup_pairs, y.n_dropped, y.n_kept)
  }

  test("keep rule: ties, the exact threshold, singletons and chains") {
    def m(id: Long, cent: Long, xs: Long*): Member = (id, cent, xs.toArray)
    // a cent_d2 tie breaks on vec_id: the lower id is dropped
    assert(pass(0, Seq(m(7, 5, 0, 0), m(3, 5, 1, 0)), 2) == ((0, 2, 1, 1, 1)))
    assert(Similarity.keepRule(0, Seq((7L, 5L), (3L, 5L)), Seq((3L, 7L))).n_kept == 1)
    // d2 == maxD2 is not a pair
    assert(pass(1, Seq(m(1, 0, 0, 0), m(2, 9, 1, 1)), 2) == ((1, 2, 0, 0, 2)))
    assert(pass(1, Seq(m(1, 0, 0, 0), m(2, 9, 1, 1)), 3) == ((1, 2, 1, 1, 1)))
    // a singleton cell keeps its member
    assert(pass(2, Seq(m(4, 0, 0, 0)), Long.MaxValue) == ((2, 1, 0, 0, 1)))
    // a chain a~b~c with a !~ c: each pair drops its own lower side, so
    // a chain whose middle ranks highest keeps only the middle...
    val line = Seq(m(1, 0, 0, 0), m(2, 5, 1, 0), m(3, 1, 2, 0))
    assert(pass(3, line, 2) == ((3, 3, 2, 2, 1)))
    // ...and an increasing chain drops all but its top end
    val up = Seq(m(1, 0, 0, 0), m(2, 1, 1, 0), m(3, 2, 2, 0))
    assert(pass(3, up, 2) == ((3, 3, 2, 2, 1)))
    // a middle ranked lowest is dropped twice but counts once
    val valley = Seq(m(1, 4, 0, 0), m(2, 0, 1, 0), m(3, 5, 2, 0))
    assert(pass(3, valley, 2) == ((3, 3, 2, 1, 2)))
    for (c <- Seq(line, up, valley)) assert(pass(3, c, 2) == reference(3, c, 2))
  }

  /** Small cells over a 3x3x3 grid with cent_d2 in 0..2: ties, exact
    * threshold distances and chains are common; a third are singletons. */
  private val cellsGen: Gen[(Seq[(Long, Seq[Member])], Long)] = for {
    sizes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.frequency(1 -> Gen.const(1), 2 -> Gen.choose(2, 7))))
    ids <- Gen.pick(sizes.sum, 0L until 40L)
    cents <- Gen.listOfN(sizes.sum, Gen.choose(0L, 2L))
    vqas <- Gen.listOfN(sizes.sum, Gen.listOfN(3, Gen.choose(0L, 2L)).map(_.toArray))
    maxD2 <- Gen.choose(0L, 6L)
  } yield {
    val members = ids.toSeq.lazyZip(cents).lazyZip(vqas).map((i, c, v) => (i, c, v))
    val cells = sizes.scanLeft(0)(_ + _).zip(sizes).zipWithIndex.map { case ((from, n), cell) =>
      (cell.toLong, members.slice(from, from + n))
    }
    (cells, maxD2)
  }

  test("property: the per-cell pass equals the per-example reference (ScalaCheck)") {
    val prop = Prop.forAll(cellsGen) { case (cells, maxD2) =>
      cells.forall { case (cell, ms) => pass(cell, ms, maxD2) == reference(cell, ms, maxD2) }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: the Spark per-cell pass equals the per-example reference (ScalaCheck)") {
    val prop = Prop.forAll(cellsGen) { case (cells, maxD2) =>
      val df = cells.flatMap { case (cell, ms) => ms.map(m => (cell, m._1, m._2, m._3)) }
        .toDF("cid", "vec_id", "cent_d2", "vqa")
      val got = Similarity.semanticCells(df, maxD2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      got == cells.map { case (cell, ms) => reference(cell, ms, maxD2) }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}

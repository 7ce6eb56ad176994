package graft

import graft.operators.Similarity

/** Lloyd k-means invariants on the test corpus (the oracle pins exact
  * values; this pins the structural contract).
  */
class KmeansSpec extends SparkSuite {

  test("kmeans emits k x dim centroid rows with a full partition of the corpus") {
    val nVecs = Tables.embeddings(spark, sfDir).count()
    val rows = Similarity.kmeansCentroids(spark, sfDir, k = 8, iters = 2).collect()
    val byCid = rows.groupBy(_.getLong(0))
    assert(byCid.keys.forall(c => c >= 0 && c < 8))
    byCid.values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (0L until 64L), "one row per dim")
      assert(rs.map(_.getLong(2)).distinct.length == 1, "consistent member count")
    }
    // every vector is assigned to exactly one surviving centroid
    val members = byCid.values.map(_.head.getLong(2)).sum
    assert(members == nVecs, s"assignment must partition the corpus: $members != $nVecs")
  }

  test("kmeans rejects degenerate parameters instead of NPE-ing") {
    intercept[IllegalArgumentException](
      Similarity.kmeansCentroids(spark, sfDir, k = 8, iters = 0))
    intercept[IllegalArgumentException](
      Similarity.kmeansCentroids(spark, sfDir, k = 0, iters = 2))
  }

  test("kmeans frees its per-round generations; only the result's blocks remain") {
    Caches.releaseAll(spark)
    val rows = Similarity.kmeansCentroids(spark, sfDir, k = 8, iters = 3)
    // <= 2 checkpoint sets may remain (final assignment + final cents),
    // not one generation per round plus the exploded corpus
    val live = spark.sparkContext.getPersistentRDDs.size
    assert(live <= 2, s"expected only the final generation's blocks, found $live")
    assert(rows.count() == 512)
    Caches.releaseAll(spark)
    assert(Caches.isEmpty(spark))
  }

  test("a Lloyd round adds at most 2 Spark jobs, the same number every round") {
    def jobs(iters: Int): Int =
      try jobsRun(Similarity.kmeansInertia(spark, sfDir, k = 8, iters = iters).collect())
      finally Caches.releaseAll(spark)
    val counts = Seq(2, 3, 4).map(jobs)
    val perRound = counts.zip(counts.tail).map { case (a, b) => b - a }
    assert(perRound.distinct.size == 1 && perRound.head <= 2,
      s"jobs at iters 2/3/4: ${counts.mkString("/")}")
  }

  test("a second Lloyd round changes the assignment-relevant centroids (it really iterates)") {
    val one = Similarity.kmeansCentroids(spark, sfDir, k = 8, iters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val two = Similarity.kmeansCentroids(spark, sfDir, k = 8, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(one != two, "round 2 must move at least one centroid coordinate")
  }

  test("inertia audit: members partition the corpus, totals improve with more rounds") {
    def stats(iters: Int): (Long, Double) = {
      val rows = Similarity.kmeansInertia(spark, sfDir, k = 8, iters = iters).collect()
      rows.foreach { r =>
        val (n, inertia, meanD2) =
          (r.getLong(1), r.getDouble(2), r.getDouble(3))
        assert(n > 0 && inertia >= 0.0)
        assert(math.abs(meanD2 - BigDecimal(inertia / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      }
      (rows.map(_.getLong(1)).sum, rows.map(_.getDouble(2)).sum)
    }
    val nVecs = Tables.embeddings(spark, sfDir).count()
    val (members1, total1) = stats(1)
    val (members2, total2) = stats(2)
    assert(members1 == nVecs && members2 == nVecs, "every vector is assigned once")
    // Lloyd monotonicity: each assign+update round cannot increase the
    // objective (up to the integer micro-unit rounding of updates)
    assert(total2 <= total1 * 1.001,
      s"round-2 inertia $total2 should not exceed total round-1 $total1")
  }

  test("semantic dedup: counts balance, and the threshold edges pin the keep rule") {
    val nVecs = Tables.embeddings(spark, sfDir).count()
    def rows(maxD2: Long): Seq[(Long, Long, Long, Long, Long)] =
      Similarity.semanticDedup(spark, sfDir, maxD2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    // default threshold: per-cell books balance and cover the corpus
    val dflt = rows(1400000000000L)
    assert(dflt.map(_._2).sum == nVecs, "members must partition the corpus")
    dflt.foreach { case (cell, members, dupPairs, dropped, kept) =>
      assert(kept == members - dropped, s"cell $cell books don't balance")
      // each pair's loser is its strictly-lower side, so a pair
      // witnesses at most one drop: dropped <= dupPairs
      assert(dropped <= members && dropped <= dupPairs,
        s"cell $cell: $dupPairs pairs cannot drop $dropped of $members")
    }
    // maxD2 = 0: nothing is a duplicate, everything survives
    assert(rows(0L).forall { case (_, m, p, d, k) => p == 0 && d == 0 && k == m })
    // maxD2 = inf: every within-cell pair is a dup, so the keep rule
    // retains exactly ONE vector per cell — the (cent_d2, vec_id)-max
    assert(rows(Long.MaxValue).forall { case (_, m, p, d, k) =>
      p == m * (m - 1) / 2 && k == 1 && d == m - 1 })
  }

  test("centroid cosine: full pair coverage, bounded by 1, agrees with a local recompute") {
    val labels = Tables.embeddings(spark, sfDir)
      .select("label").distinct().count().toInt
    val rows = Similarity.centroidSim(spark, sfDir).collect()
    assert(rows.length === labels * (labels - 1) / 2,
      "every nonzero-norm label pair exactly once")
    rows.foreach { r =>
      val c = r.getAs[Double]("centroid_cos")
      assert(c >= -1.000001 && c <= 1.000001, r.toString)
    }
    // local recompute of one pair from the round-6 centroid table
    val cent = Similarity.labelCentroids(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("mean_val")).toMap
    val (la, lb) = (rows.head.getAs[Long]("label_a"), rows.head.getAs[Long]("label_b"))
    def vec(l: Long) = (0L until 8L).map(p => cent((l, p)))
    val (va, vb) = (vec(la), vec(lb))
    val dot = va.zip(vb).map { case (x, y) => x * y }.sum
    val expected = dot / (math.sqrt(va.map(x => x * x).sum) *
      math.sqrt(vb.map(x => x * x).sum))
    assert(math.abs(rows.head.getAs[Double]("centroid_cos") - expected) < 1e-6)
  }

  test("anisotropy: identical vectors read 1, an orthogonal pair reads 0, corpus bounded") {
    import spark.implicits._
    def write(vecs: Seq[Array[Float]]): String = {
      val dir = java.nio.file.Files.createTempDirectory("aniso").toString
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val same = write(Seq.fill(5)(Array(1f, 2f, 3f, 4f)))
    val a1 = Similarity.embAnisotropy(spark, same).head()
    assert(a1.getAs[Long]("n_vectors") === 5L)
    assert(math.abs(a1.getAs[Double]("avg_pair_cos") - 1.0) < 1e-4)
    val ortho = write(Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)))
    val a2 = Similarity.embAnisotropy(spark, ortho).head()
    assert(math.abs(a2.getAs[Double]("avg_pair_cos")) < 1e-6)
    // zero vectors drop rather than poison the norm divide
    val withZero = write(Seq(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 0f, 0f),
      Array(1f, 0f, 0f, 0f)))
    val a3 = Similarity.embAnisotropy(spark, withZero).head()
    assert(a3.getAs[Long]("n_vectors") === 2L)
    assert(math.abs(a3.getAs[Double]("avg_pair_cos") - 1.0) < 1e-4)
    val corpus = Similarity.embAnisotropy(spark, sfDir).head()
    val c = corpus.getAs[Double]("avg_pair_cos")
    assert(c >= -1.0 - 1e-6 && c <= 1.0 + 1e-6, c.toString)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding ARRAY<FLOAT>`, 64-dim in this corpus).
  *
  * Two paths:
  *  - [[knnBruteForce]]: exact top-k by cosine — the baseline. The
  *    query set is broadcast, so the corpus is scanned once with NO
  *    shuffle of the big side; per-query top-k via a rank window.
  *  - [[knnLsh]]: sign-LSH bucketing — the 100 TB path. Bucket ids are
  *    a narrow projection; candidates come from an EQUI-join on the
  *    bucket (broadcast for a small query set, shuffle-on-bucket for
  *    query sets of corpus scale), then exact cosine re-ranks. Recall
  *    is probabilistic (vectors in other buckets are never scored) —
  *    that is the documented ANN trade.
  *
  * Similarities are ranked on round(cos, 6) with vec_id tie-breaks so
  * ordering is bit-stable across engines.
  */
object Similarity {

  /** Cosine numerator on the scoring hot path: the native codegen'd
    * [[graft.functions.DotProduct]] expression (same float→double
    * widening and sequential accumulation as the HOF
    * [[VectorFunctions.dot]], which remains for contexts without a
    * registered session — equality is property-tested).
    */
  private def dotN(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function(graft.functions.DotProduct.Name, a, b)

  val NPlanes = 8
  val Dim     = 64
  // Near-dup banding: 2 independent bands x 12 planes each. One
  // 8-plane code caps the space at 256 buckets — bucket occupancy then
  // grows linearly with the corpus and per-bucket pair counts grow
  // quadratically. 12-plane bands give 4096 buckets per band (and the
  // band count, not the bucket width, buys recall: a pair collides if
  // EITHER band agrees). Global plane index p = band*PlanesPerBand + j
  // feeds the same planeWeight LCG, so the oracle mirrors the exact
  // integer arithmetic.
  val NDBands       = 2
  val PlanesPerBand = 12

  /** Corpus with L2 norm and sign-LSH bucket precomputed in ONE
    * codegen'd pass: posexplode the vector to (vec_id, pos, x) rows,
    * then a hash aggregate computes the squared-norm sum and the eight
    * hyperplane projections as plain `sum` aggregates (the plane
    * weight is scalar arithmetic over `pos`). This replaces the
    * interpreted zip_with/aggregate lambdas of
    * [[VectorFunctions.lshBucket]] on the hot path — HOFs don't
    * codegen — while computing identical values: a vector's rows never
    * split across partitions, so the partial-agg fold order equals the
    * lambda fold order.
    */
  private def corpus(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Repartition BEFORE the posexplode: a small parquet file is one
    // split, so the 64x row fan-out and plane arithmetic would run in
    // a single task (at 100 TB the scan has many splits and this
    // exchange moves vectors, not exploded rows, either way). It also
    // satisfies the groupBy(vec_id) clustering, so the aggregate adds
    // no second shuffle.
    val exploded = Tables.embeddings(spark, dir)
      .repartition(n, col("vec_id"))
      .select(col("vec_id"), col("embedding"), posexplode(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("pos"),
              col("col").cast("double").as("x"))
    val planeSums = (0 until NPlanes).map { j =>
      sum(col("x") * VectorFunctions.planeWeight(lit(j), col("pos")).cast("double")).as(s"p$j")
    }
    val aggs = Seq(
      first(col("embedding")).as("embedding"),
      sqrt(sum(col("x") * col("x"))).as("nrm")) ++ planeSums
    val bucketBits = (0 until NPlanes)
      .map(j => when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    // The (vec_id, embedding, nrm, bucket) projection feeds several
    // subtrees in every consumer (both self-join sides of near-dup,
    // corpus + query sides of each knn) — localCheckpoint (eager)
    // materializes the posexplode + hash-aggregate ONCE per query
    // instead of once per subtree (r2 measured x_emb_neardup at 2x
    // its single-pass cost) and, unlike persist, also truncates the
    // logical plan, so consumers that reference the corpus 2-4 times
    // don't re-analyze the 64-aggregate pipeline per reference
    // (driver-side Catalyst time, measured in seconds on the dedup
    // family). Blocks are released by [[graft.Caches.releaseAll]].
    exploded.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id"), col("embedding"), col("nrm"), bucketBits.as("bucket"))
      .localCheckpoint()
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk", "cos")
      // <= nQueries x k rows: sorted in one partition (an orderBy would
      // add a range-sampling job)
      .repartition(1)
      .sortWithinPartitions("query_id", "rk")
  }

  /** Exact top-k cosine neighbors for each query vector (vec_id <
    * nQueries), self excluded. Broadcast-nested-loop against the tiny
    * query set: the corpus side never shuffles.
    */
  def knnBruteForce(spark: SparkSession, dir: String,
                    k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    knnBruteFrom(corpus(spark, dir), k, nQueries)
  }

  /** Brute-force core over an already-materialized corpus — needs only
    * (vec_id, embedding, nrm), so it runs off either corpus flavor;
    * the recall audits pass the SAME checkpointed corpus to both the
    * exact and approximate paths (one materialization per audit).
    */
  private def knnBruteFrom(c: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val q = c.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotN(col("embedding"), col("q_emb")) /
              (col("nrm") * col("q_nrm")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** LSH-bucketed top-k: candidates are corpus vectors in the SAME
    * sign-LSH bucket as the query (equi-join on bucket), re-ranked by
    * exact cosine. Same output shape as brute force; neighbors outside
    * the query's bucket are (by design) not scored.
    */
  def knnLsh(spark: SparkSession, dir: String,
             k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    knnLshFrom(corpus(spark, dir), k, nQueries)
  }

  private def knnLshFrom(c: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val q = c.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val scored = c.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotN(col("embedding"), col("q_emb")) /
              (col("nrm") * col("q_nrm")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN: the second scale path beside sign-LSH.
    * Coarse quantization assigns every vector to its nearest centroid
    * cell (rank-1 by cosine, centroid-id tie-break); a query probes
    * its `nProbe` nearest cells and exact cosine re-ranks only those
    * members. Centroids here are the first `nCells` corpus vectors —
    * deterministic (k-means would converge data-dependently and break
    * the oracle); swapping in trained centroids changes recall, not
    * the pipeline shape.
    *
    * One pass over the corpus `(vec_id, embedding, nrm)`, with `nrm`
    * computed in the scan's projection (no posexplode, no checkpoint):
    * one collect brings the centroid and query rows to the driver
    * ([[IvfIndex]]), then [[cellAssign]] and [[ivfSearch]] build one
    * plan with no join: a projection that scores each vector against
    * the model's literal arrays, then one that explodes its cell's
    * probes out of a literal map. No cross product against the corpus,
    * no per-vector window, no distinct; IvfSpec pins the job count.
    */
  def knnIvf(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10,
             nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    graft.functions.DotProduct.register(spark)
    knnIvfFrom(withNorm(Tables.embeddings(spark, dir).select("vec_id", "embedding")),
      k, nQueries, nCells, nProbe)
  }

  /** `(vec_id, embedding, nrm)`: the L2 norm as `sqrt(graft_dot(e, e))` —
    * bit-identical to [[corpus]]'s sequential `sum(x * x)`. */
  private def withNorm(vecs: DataFrame): DataFrame =
    vecs.withColumn("nrm", sqrt(dotN(col("embedding"), col("embedding"))))

  private def knnIvfFrom(c: DataFrame, k: Int, nQueries: Int,
                         nCells: Int, nProbe: Int): DataFrame =
    ivfFrom(c, c.filter(col("vec_id") < nCells).select(
      col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm")), k, nQueries, nProbe)

  /** IVF core over an explicit centroid table (centroid_id, c_emb,
    * c_nrm) — shared by the deterministic first-nCells variant and the
    * k-means-trained variant.
    */
  private def ivfFrom(c: DataFrame, cents: DataFrame, k: Int, nQueries: Int,
                      nProbe: Int): DataFrame = {
    val index = IvfIndex.collect(c, cents, nQueries)
    ivfSearch(cellAssign(c, index), index, k, nProbe)
  }

  /** The driver side of an IVF search: the coarse model (centroid ids,
    * vectors widened to DOUBLE — exact — and norms, id-sorted) and the
    * query vectors `(query_id, q_emb, q_nrm)`, collected in ONE job.
    * Both reach executors as literals (see [[CentModel.router]] for the
    * cost): the model's three arrays and the queries as a cell-keyed
    * probe map. Values stay boxed, so a NULL norm or component stays
    * NULL.
    */
  private final class IvfIndex(cents: Seq[Row], queries: Seq[Row]) {
    private def doubles(v: Any): Vector[java.lang.Double] =
      v.asInstanceOf[scala.collection.Seq[java.lang.Double]].toVector
    private val (cids, cembs, cnrms) = (cents.map(_.getLong(0)).toVector,
      cents.map(c => doubles(c.get(1))).toVector, cents.map(_.getAs[java.lang.Double](2)).toVector)

    /** The model's literal arrays `(cids, cembs, cnrms)` for
      * [[graft.functions.NearestCell]]. */
    def model: Seq[Column] = Seq(typedLit(cids), typedLit(cembs), typedLit(cnrms))

    /** The probes as a literal map `cell -> [(query_id, q_emb, q_nrm)]`:
      * each query under each of its `nProbe` best cells, ranked on the
      * driver by the executors' own score. */
    def probes(nProbe: Int): Column = {
      val (ids, embs, nrms) = (new GenericArrayData(cids),
        new GenericArrayData(cembs.map(new GenericArrayData(_))), new GenericArrayData(cnrms))
      typedLit((for {
        q <- queries
        p = IvfProbe(q.getLong(0), doubles(q.get(1)), q.getAs[java.lang.Double](2))
        cell <- graft.functions.NearestCell.ranked(new GenericArrayData(p.q_emb), vFloat = false,
          p.q_nrm, ids, embs, nrms).take(nProbe)
      } yield cell -> p).groupMap(_._1)(_._2))
    }
  }

  /** One probe of an [[IvfIndex]]: a query and its vector. */
  private final case class IvfProbe(query_id: Long, q_emb: Vector[java.lang.Double],
                                    q_nrm: java.lang.Double)

  private object IvfIndex {
    /** Centroids and queries (`vec_id < nQueries` of `c`) in one collect. */
    def collect(c: DataFrame, cents: DataFrame, nQueries: Int): IvfIndex = {
      def side(isCent: Boolean, df: DataFrame, id: String, emb: String, nrm: String) =
        df.select(lit(isCent).as("is_cent"), col(id).cast("bigint").as("id"),
          col(emb).cast("array<double>").as("emb"), col(nrm).as("nrm"))
      val rows = side(isCent = true, cents, "centroid_id", "c_emb", "c_nrm")
        .unionByName(side(isCent = false, c.filter(col("vec_id") < nQueries),
          "vec_id", "embedding", "nrm"))
        .collect().toSeq
      val (cs, qs) = rows.partition(_.getBoolean(0))
      def drop1(rs: Seq[Row]) = rs.map(r => Row(r.get(1), r.get(2), r.get(3))).sortBy(_.getLong(0))
      new IvfIndex(drop1(cs), drop1(qs))
    }
  }

  /** Every corpus vector with its rank-1 cell `(vec_id, embedding, nrm,
    * cell)`: one projection that scores it against the model's literal
    * arrays (the codegen'd [[graft.functions.NearestCell]] — n rows in,
    * n rows out). Factored out so consumers that vary only the probe
    * count ([[knnIvfProbeSweep]]) materialize it ONCE.
    */
  private def cellAssign(c: DataFrame, index: IvfIndex): DataFrame = {
    graft.functions.NearestCell.register(c.sparkSession)
    c.select(col("vec_id"), col("embedding"), col("nrm"),
      call_function(graft.functions.NearestCell.Name,
        col("embedding") +: col("nrm") +: index.model: _*).as("cell"))
  }

  /** Probe + exact re-rank over a [[cellAssign]]ed corpus: each vector
    * explodes the probes of its own cell out of the literal probe map —
    * no join. Each vector sits in exactly one cell and each query's
    * probed cells are distinct, so no (query, neighbor) pair can repeat.
    */
  private def ivfSearch(cells: DataFrame, index: IvfIndex, k: Int, nProbe: Int): DataFrame = {
    val scored = cells
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(element_at(index.probes(nProbe), col("cell"))).as("p"))
      .filter(col("p.query_id") =!= col("vec_id"))
      .select(col("p.query_id").as("query_id"), col("vec_id").as("neighbor_id"),
        round(dotN(col("embedding"), col("p.q_emb")) /
              (col("nrm") * col("p.q_nrm")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Trained centroid table for the IVF path: [[kmeansCentroids]]
    * output rebuilt as (centroid_id, c_emb ARRAY<DOUBLE>, c_nrm).
    * Coordinates are the trainer's exact 6-decimal means, so both
    * engines reconstruct bit-identical centroid vectors; the struct
    * sort on (pos, mean_val) makes the array order deterministic
    * under collect_list's arbitrary arrival order.
    */
  private def trainedCents(spark: SparkSession, dir: String,
                           kCents: Int, iters: Int): DataFrame = {
    val cEmb = transform(
      array_sort(collect_list(struct(col("pos"), col("mean_val")))),
      x => x.getField("mean_val"))
    kmeansCentroids(spark, dir, kCents, iters)
      .groupBy(col("centroid_id"))
      .agg(cEmb.as("c_emb"))
      .withColumn("c_nrm", sqrt(dotN(col("c_emb"), col("c_emb"))))
  }

  /** IVF ANN with TRAINED coarse centroids — the deploy step of the
    * [[kmeansCentroids]] trainer, completing the ANN story: the
    * pipeline shape is identical to [[knnIvf]] (literal model, literal
    * probe map, no join), only the centroid table changes, exactly
    * as the knnIvf scaladoc promises. The recall audit
    * ([[knnIvfTrainedRecall]]) measures what training buys.
    */
  def knnIvfTrained(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = 10, kCents: Int = 8, iters: Int = 2,
                    nProbe: Int = 2): DataFrame = {
    graft.functions.DotProduct.register(spark)
    ivfFrom(corpus(spark, dir), trainedCents(spark, dir, kCents, iters),
      k, nQueries, nProbe)
  }

  /** Multimodal → ANN composition, end to end: opaque binary payloads
    * run through the batched decode plumbing
    * ([[Multimodal.decodeBatched]] with the deterministic
    * [[Multimodal.exactBatchDecoder]]), and the decoded feature
    * vectors become the ANN corpus for the SAME IVF cell-probe
    * pipeline as [[knnIvf]] — the image-embedding-search shape (decode
    * → embed → index → query) a multimodal training pipeline runs,
    * with only the codec behind the decoder stubbed. The decoded
    * corpus is checkpointed once and feeds the driver-side model, the
    * cell assignment and the query rows; candidate generation stays a
    * lookup of each vector's cell in the literal probe map
    * (plan-asserted — no join, no cross product).
    */
  def mediaIvfKnn(spark: SparkSession, dir: String, k: Int = 5,
                  nQueries: Int = 10, nCells: Int = 8, nProbe: Int = 2): DataFrame =
    mediaIvfFrom(
      Multimodal.decodeBatched(
        Multimodal.withPayload(Tables.documents(spark, dir)),
        decoder = Multimodal.exactBatchDecoder),
      k, nQueries, nCells, nProbe)

  /** [[mediaIvfKnn]] with the decode step REAL end to end: payloads
    * are valid BMP containers ([[Multimodal.withBmpPayload]]) and the
    * features come out of an actual `javax.imageio` decode
    * ([[Multimodal.imageBatchDecoder]]) — pixels in, pixels out, then
    * the identical IVF cell-probe pipeline. Oracle-checkable
    * because the fixture pixels derive deterministically from the
    * text bytes and each decoded feature is a dyadic rational: the
    * oracle predicts the decode, so a codec regression (wrong channel
    * order, row flip, padding error) fails CORRECTNESS, not just a
    * unit test.
    */
  def mediaIvfKnnReal(spark: SparkSession, dir: String, k: Int = 5,
                      nQueries: Int = 10, nCells: Int = 8, nProbe: Int = 2): DataFrame =
    mediaIvfFrom(
      Multimodal.decodeBatched(
        Multimodal.withBmpPayload(Tables.documents(spark, dir)),
        decoder = Multimodal.imageBatchDecoder),
      k, nQueries, nCells, nProbe)

  /** Shared decode→index→query tail of the media ANN pair: decoded
    * features become the ANN corpus for the SAME IVF pipeline as
    * [[knnIvf]]; the decoded corpus is checkpointed once and feeds
    * the centroid, cell, and query subtrees.
    */
  private def mediaIvfFrom(decoded: DataFrame, k: Int, nQueries: Int,
                           nCells: Int, nProbe: Int): DataFrame = {
    graft.functions.DotProduct.register(decoded.sparkSession)
    val c = withNorm(decoded.select(col("doc_id").as("vec_id"),
        col("features").as("embedding")))
      .localCheckpoint()
    val cents = c.filter(col("vec_id") < nCells).select(
      col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    ivfFrom(c, cents, k, nQueries, nProbe)
  }

  /** Trained-IVF recall audit against brute-force ground truth. */
  def knnIvfTrainedRecall(spark: SparkSession, dir: String,
                          k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    recallVsBrute(knnBruteFrom(c, k, nQueries),
      ivfFrom(c, trainedCents(spark, dir, kCents = 8, iters = 2), k, nQueries,
        nProbe = 2), k)
  }

  /** Trained-IVF probe sweep: the recall-vs-nProbe curve (2/4/8) that
    * completes the tuning story the measured-verdict audits opened —
    * at 100 TB you pick nProbe from exactly this curve (recall rises
    * monotonically with probes; cost rises linearly). ONE corpus
    * materialization, ONE trained-centroid table, and ONE cell
    * assignment ([[cellAssign]], checkpointed) feed every probe level
    * — the sweep's marginal cost per level is only the candidate join
    * and re-rank; the brute-force ground truth is also computed once
    * and checkpointed (it is probe-independent).
    *
    * Measured (sf0.001, k=8 trained cells): mean recall 0.86 at
    * nProbe=2, 0.92 at 4, 1.00 at 8 — the monotone curve that prices
    * recall in probes.
    */
  def knnIvfProbeSweep(spark: SparkSession, dir: String, k: Int = 5,
                       nQueries: Int = 10, kCents: Int = 8, iters: Int = 2,
                       probes: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    // index build (k-means training + cell routing) and brute-force
    // ground truth are INDEPENDENT given the shared corpus checkpoint —
    // overlap their materializations (optimization guide §2.6)
    val ((index, cells), brute) = graft.Par.run2({
        val index = IvfIndex.collect(c, trainedCents(spark, dir, kCents, iters), nQueries)
        (index, cellAssign(c, index).localCheckpoint())
      },
      knnBruteFrom(c, k, nQueries).localCheckpoint())
    probes.map { p =>
      recallVsBrute(brute, ivfSearch(cells, index, k, p), k)
        .withColumn("n_probe", lit(p.toLong))
    }.reduce(_.unionAll(_))
      .select("n_probe", "query_id", "n_hits", "recall")
      .orderBy("n_probe", "query_id")
  }

  /** Per-query recall of an approximate top-k against the brute-force
    * ground truth (|approx ∩ exact| / k) — the measurement that
    * justifies, vetoes, or tunes an ANN path at scale. Shared by the
    * LSH / banded-LSH / IVF audits; each audit threads ONE
    * checkpointed corpus through both its paths so the expensive
    * projection computes once.
    */
  private def recallVsBrute(brute: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val a = approx.select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    val hits = brute.select("query_id", "neighbor_id")
      .join(a, col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    brute.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6).as("recall"))
      .orderBy("query_id")
  }

  /** int8-quantization recall audit: score neighbors with symmetric
    * per-vector int8-quantized embeddings (q_i = round(x_i / max|x| *
    * 127) — the compression a 100 TB embedding store runs to cut
    * memory 4x) and measure top-k recall against full-precision brute
    * truth. Quantized values are stored as exact small integers in
    * DOUBLE arrays, so the scoring arithmetic (codegen'd DotProduct,
    * integer-valued sums) is bit-identical in any engine — the audit
    * itself is oracle-checked, unlike a float-lossy reimplementation.
    * The quantization map is a narrow per-row transform over the one
    * checkpointed corpus; brute truth shares the same corpus blocks.
    *
    * Measured (sf0.001, k=5, 10 queries): mean recall 0.98 — int8
    * costs ~one neighbor in fifty on this corpus, the number that
    * justifies quantized serving tiers.
    */
  def knnQuantizedRecall(spark: SparkSession, dir: String,
                         k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    val brute = knnBruteFrom(c, k, nQueries)
    recallVsBrute(brute, knnInt8From(c, k, nQueries), k)
  }

  /** int8 retriever core over a materialized corpus — the quantized
    * top-k shared by [[knnQuantizedRecall]] and [[rrfFusion]]. */
  private def knnInt8From(c: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val qc = c.select(col("vec_id"), col("embedding"))
      .withColumn("sc",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("qemb",
        transform(col("embedding"), x => round(x.cast("double") / col("sc") * 127)))
      .withColumn("qnrm", sqrt(dotN(col("qemb"), col("qemb"))))
      .select("vec_id", "qemb", "qnrm")
    val q = qc.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("qemb").as("q_emb"),
      col("qnrm").as("q_nrm"))
    val scored = qc.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotN(col("qemb"), col("q_emb")) /
              (col("qnrm") * col("q_nrm")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Johnson-Lindenstrauss sign-projection recall audit — the
    * DIMENSIONALITY-REDUCTION scale path beside bucketing (LSH/IVF)
    * and code compression (int8/PQ): project 64-dim embeddings to
    * `jlDim` coordinates with the Achlioptas ±1 random-sign matrix
    * (Achlioptas 2001 — the database-friendly JL variant; signs here
    * are the [[VectorFunctions.planeWeight]] LCG signs, so the
    * "random" matrix is deterministic and oracle-replayable), then
    * run brute-force cosine top-k IN THE REDUCED SPACE and measure
    * recall against full-dimension brute truth, at EVERY dimension in
    * `dims` — the recall-vs-dimension curve that prices what the
    * jlDim/64 memory and FLOP reduction costs. Measured at sf0.01:
    * mean recall 0.04 at 8 dims, then FLAT at 0.06 for 16/32/48 —
    * the synthetic near-orthogonal embeddings are the JL worst case
    * (the gap between the 5th and 6th cosine neighbor is smaller
    * than the ±1-projection distortion at ANY sub-64 dimension), and
    * the audit MEASURES that instead of assuming the textbook curve:
    * on this corpus the right scale path is candidate generation +
    * exact re-rank (IVF measures 0.92), not reduced-space ranking —
    * exactly the decision this audit exists to make.
    *
    * One projection serves every dimension: coordinate j of the
    * reduced vector does not depend on the target dimension, so the
    * sweep computes the `dims.max`-wide reduction ONCE and each level
    * reads the `j < d` prefix — the [[knnIvfProbeSweep]] discipline.
    *
    * Exactness: components quantize to micro-units BEFORE projecting
    * (round(x·1e6), the [[labelCentroids]] convention), so every
    * reduced coordinate is an exact BIGINT ±sum, every reduced dot
    * product and squared norm is an exact BIGINT sum (|r_j| <= 64·2^31
    * keeps products inside int64), and the only doubles are the final
    * sqrt/divide over identical integer inputs in both engines.
    *
    * Scale shape: the projection is ONE narrow aggregate per vector
    * (jlDim conditional sums — no per-plane corpus scans); the scoring
    * join broadcasts the nQueries-bounded reduced query side and
    * fans out jlDim rows per (query, vector) pair map-side; exchanges
    * carry (query, vector, dot) aggregates, never embedding
    * components.
    */
  /** Corpus embedding dimensionality the JL sign grid is generated
    * for. NOT the same 64 as the LCG's `j*64+i` seed stride (that one
    * is the frozen [[graft.functions.VectorFunctions.planeWeight]]
    * contract and must never change); this one must track the corpus.
    * The require guards the coupling: with JlGridDim > 64 the fixed
    * stride would alias seeds across adjacent planes ((j, p=64) ==
    * (j+1, p=0)), correlating projection planes with no error on
    * either engine — raising the stride alongside the dim is a
    * CONTRACT change that needs new frozen oracle signs.
    */
  private val JlGridDim = 64
  require(JlGridDim <= 64,
    "JL sign grid: the frozen j*64+i LCG stride aliases seeds beyond 64 dims")

  def knnJlSweep(spark: SparkSession, dir: String, k: Int = 5,
                 nQueries: Int = 10,
                 dims: Seq[Int] = Seq(8, 16, 32, 48)): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val maxDim = dims.max
    // the sign grid below enumerates pos 0 until JlGridDim; an
    // embedding of any other length would silently DROP the
    // out-of-range positions from every projection sum through the
    // inner grid join (skewing recall with no error) — fail loudly
    // instead, the lshBucket discipline (ADVICE r13)
    val rows = Tables.embeddings(spark, dir)
      .repartition(n, col("vec_id"))
      .select(col("vec_id"),
        when(size(col("embedding")) === JlGridDim, col("embedding"))
          .otherwise(raise_error(concat(
            lit(s"knnJlSweep: sign grid assumes $JlGridDim-dim embeddings, got "),
            size(col("embedding")).cast("string")))).as("embedding"))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("vq"))
    // The (j, pos) sign grid is data-INDEPENDENT (the planeWeight LCG
    // over constants), so precompute it driver-side and broadcast-join
    // on pos instead of inlining maxDim LCG+CASE chains into one
    // 48-aggregate codegen method (which plausibly crossed HotSpot's
    // 8 KB JIT limit — the r12 driver-only 5.5× inflation; whether the
    // giant generated method compiles can differ by host). The long
    // grid also yields the (vec_id, j, r) shape directly: one tiny
    // sum(vq*s) hash aggregate, no wide row, no posexplode round-trip.
    // Exact-same integer arithmetic as VectorFunctions.planeWeight;
    // pos 0..63 mirrors the LCG's j*64+i seed layout (corpus dim = 64).
    import spark.implicits._
    val sgrid = broadcast(
      (for { j <- 0 until maxDim; p <- 0 until JlGridDim } yield {
        val w = ((j * 64L + p) * 1103515245L + 12345L) % 65536L - 32768L
        (p.toLong, j.toLong, if (w >= 0L) 1L else -1L)
      }).toDF("pos", "j", "s"))
    // ONE projection serves every sweep level + both scoring sides;
    // the groupBy reuses the vec_id repartition (vec_id ⊂ (vec_id, j)
    // satisfies the clustered distribution — no extra exchange).
    // Brute truth and the JL projection are independent given the
    // shared corpus checkpoint — overlap them (opt guide §2.6).
    val (brute, reduced) = graft.Par.run2(
      knnBruteFrom(c, k, nQueries).localCheckpoint(),
      rows.join(sgrid, Seq("pos"))
        .groupBy("vec_id", "j")
        .agg(sum(col("vq") * col("s")).as("r"))
        .localCheckpoint())
    dims.map { d =>
      val rd = reduced.filter(col("j") < d)
      val norms = rd.groupBy("vec_id").agg(sum(col("r") * col("r")).as("n2"))
      val rc = rd.join(norms, Seq("vec_id"))
      val q = rc.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("j"),
          col("r").as("qr"), col("n2").as("qn2"))
      val approx = rc.join(broadcast(q), Seq("j"))
        .filter(col("query_id") =!= col("vec_id"))
        .groupBy("query_id", "vec_id", "n2", "qn2")
        .agg(sum(col("r") * col("qr")).as("dot"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(col("dot").cast("double") /
            (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))), 6)
            .as("cos"))
      recallVsBrute(brute, rankTopK(approx, k), k)
        .withColumn("jl_dim", lit(d.toLong))
    }.reduce(_.unionAll(_))
      .select("jl_dim", "query_id", "n_hits", "recall")
      .orderBy("jl_dim", "query_id")
  }

  /** Sign-LSH (single 8-plane bucket) recall audit. */
  def knnLshRecall(spark: SparkSession, dir: String,
                   k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    recallVsBrute(knnBruteFrom(c, k, nQueries), knnLshFrom(c, k, nQueries), k)
  }

  /** IVF (coarse-quantized) recall audit. */
  def knnIvfRecall(spark: SparkSession, dir: String,
                   k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    recallVsBrute(knnBruteFrom(c, k, nQueries),
                  knnIvfFrom(c, k, nQueries, nCells = 16, nProbe = 2), k)
  }

  /** Banded-LSH top-k: candidates are corpus vectors sharing ANY of
    * the [[NDBands]] banded codes with the query (the near-dup banding
    * reused for search), exact cosine re-ranks. Candidate generation
    * is an equi-join on (band, code); the query band rows broadcast.
    *
    * The recall audits settle the ANN-family choice for this corpus
    * with numbers: brute-truth recall at sf0.01 is ~0.92 for IVF
    * (nProbe=2), ~0.06 for single-bucket sign-LSH, and ~0.06 for this
    * banded variant — sign-LSH collision probability collapses at the
    * moderate cosines of this corpus's true neighbors, and banding
    * multiplies a number that is already too small. Sign-LSH stays the
    * right tool for HIGH-similarity retrieval (the near-dup pairs it
    * was built for); kNN routes to IVF.
    */
  def knnLshBanded(spark: SparkSession, dir: String,
                   k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    knnLshBandedFrom(corpusBanded(spark, dir), k, nQueries)
  }

  private def knnLshBandedFrom(c: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val bandRecs = array((0 until NDBands).map(b =>
      struct(lit(b).as("band"), col(s"band$b").as("bh"))): _*)
    val br = c.select(col("vec_id"), explode(bandRecs).as("rec"))
      .select(col("vec_id"), col("rec.band").as("band"), col("rec.bh").as("bh"))
    val qb = br.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bh"))
    val cand = br.join(broadcast(qb),
        Seq("band", "bh"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct() // a pair can collide in both bands — score once
    val scored = cand
      .join(c.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm")), "neighbor_id")
      .join(c.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm")), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dotN(col("n_emb"), col("q_emb")) /
              (col("n_nrm") * col("q_nrm")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Banded-LSH recall audit — the after-picture of the tuning loop
    * the single-bucket audit opened.
    */
  def knnLshBandedRecall(spark: SparkSession, dir: String,
                         k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    // brute force needs only (vec_id, embedding, nrm) — run it off the
    // banded corpus so the audit materializes ONE projection, not two
    val c = corpusBanded(spark, dir)
    recallVsBrute(knnBruteFrom(c, k, nQueries), knnLshBandedFrom(c, k, nQueries), k)
  }

  /** Per-label centroid of the leading `nDims` embedding dimensions —
    * the class-prototype computation behind IVF training / cluster
    * audits. Float values quantize to exact integer micro-units
    * (round(x * 1e6)) BEFORE summing, so the aggregate is
    * order-independent and bit-identical across engines — the same
    * exactness trick as the decimal-cast money sums, adapted to
    * floats. One posexplode + one hash aggregate; at 100 TB the
    * partial aggregation reduces each partition to labels x dims rows
    * before the shuffle.
    */
  def labelCentroids(spark: SparkSession, dir: String, nDims: Int = 8): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Tables.embeddings(spark, dir)
      .repartition(n, col("vec_id")) // parallelize the explode — see corpus()
      .select(col("label").cast("bigint").as("label"), posexplode(col("embedding")))
      .filter(col("pos") < nDims)
      .select(col("label"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("micro"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("micro")).cast("double") / (count(lit(1)) * 1e6), 6).as("mean_val"))
      .orderBy("label", "pos")
  }

  /** Distributed k-means (Lloyd) over the embeddings — the trainer the
    * IVF path's scaladoc promises ("swapping in trained centroids
    * changes recall, not the pipeline shape"). `iters` assign/update
    * rounds from a deterministic init (the first `k` vectors); output
    * is the final centroids exploded to (centroid_id, pos, n_members,
    * mean_val) rows.
    *
    * Exactness across engines: coordinates quantize to integer
    * micro-units up front (round(x*1e6), the [[labelCentroids]]
    * trick), so squared distances are BIGINT sums — order-independent
    * and bit-identical in any engine — and centroid updates are
    * integer-sum/count divisions whose operands stay below 2^53
    * (correctly rounded, hence identical, doubles). Ties in the
    * nearest-centroid rank break on centroid id. A centroid that loses
    * every member simply drops out — the same groupBy semantics on
    * both sides.
    *
    * Scale shape: the corpus packs ONCE into one checkpoint; the model
    * (k x dim centroids) lives on the driver, and each round is one
    * aggregate action over the checkpoint ([[lloydRound]]). The result
    * is built on the driver from the final model and its member
    * counts, so its plan reads no corpus block.
    */
  def kmeansCentroids(spark: SparkSession, dir: String,
                      k: Int = 8, iters: Int = 2): DataFrame = {
    val fit = kmeansFit(spark, dir, k, iters)
    graft.Caches.release(spark, fit.vqIds)
    val rows = fit.model.cellRows.map { case (cid, pos, cq) => (cid, pos, fit.members(cid), cq) }
    spark.createDataFrame(rows).toDF("centroid_id", "pos", "n_members", "cq")
      .select(col("centroid_id"), col("pos"), col("n_members"),
        round(col("cq").cast("double") / 1e6, 6).as("mean_val"))
      .orderBy("centroid_id", "pos")
  }

  /** A k-means model on the driver: centroid ids and their packed
    * micro-unit centroids, index-aligned and cid-sorted. */
  private[graft] final case class CentModel(cids: Vector[Long], cqas: Vector[Vector[Long]]) {

    /** The model as the literal columns [[route]] scores against. A
      * literal travels in the task binary, which Spark broadcasts once
      * per stage: the same k x dim payload a one-row broadcast model
      * frame carries, without the job that collects the broadcast. */
    def router: Router = Router(typedLit(cids), typedLit(cqas))

    /** The exploded cell rows `(cid, pos, cq)`. */
    def cellRows: Seq[(Long, Long, Long)] = for {
      j <- cids.indices
      (cq, pos) <- cqas(j).zipWithIndex
    } yield (cids(j), pos.toLong, cq)

    /** The cell table `(cid, pos, cq)` — the published form. */
    def cells(spark: SparkSession): DataFrame =
      spark.createDataFrame(cellRows).toDF("cid", "pos", "cq")
  }

  private[graft] object CentModel {
    /** Model from `(cid, pos, cq)` rows in any order. */
    def of(rows: Seq[(Long, Long, Long)]): CentModel = {
      val byCid = rows.groupBy(_._1).toVector.sortBy(_._1)
      CentModel(byCid.map(_._1), byCid.map(_._2.sortBy(_._2).map(_._3).toVector))
    }

    /** Collect a published cell table `(cid, pos, cq)` (k x dim rows). */
    def collect(cents: DataFrame): CentModel =
      of(cents.select(col("cid").cast("bigint"), col("pos").cast("bigint"),
          col("cq").cast("bigint")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)

    /** The Lloyd seed: the first `k` vectors of a packed corpus `(vec_id,
      * vqa)`, each its own centroid, in one collect. */
    def seed(vqp: DataFrame, k: Int): CentModel = {
      val rows = vqp.filter(col("vec_id") < k).select(col("vec_id").cast("bigint"), col("vqa"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).sortBy(_._1)
      CentModel(rows.map(_._1).toVector, rows.map(_._2).toVector)
    }
  }

  /** A completed Lloyd fit: the PACKED checkpointed corpus (`vqp` —
    * `(vec_id, vqa ARRAY<BIGINT>)`, the block ids the caller releases
    * once the corpus is no longer referenced), the final `model`, the
    * member count of each final centroid by cid, and `prev`, the model
    * the last round routed against — the centroids those members were
    * assigned by.
    */
  private[graft] case class KmeansFit(vqp: DataFrame, vqIds: Set[Int], prev: CentModel,
                                      model: CentModel, members: Map[Long, Long]) {

    /** Final-cells routing `(vec_id, cid)` of the corpus. */
    def routing: DataFrame = route(vqp, model.router).select("vec_id", "cid")
  }

  /** The Lloyd loop shared by [[kmeansCentroids]], [[kmeansInertia]],
    * [[semanticDedup]] and the IVF-PQ composites — see
    * [[kmeansCentroids]] scaladoc for the scale rationale.
    */
  private def kmeansFit(spark: SparkSession, dir: String,
                        k: Int, iters: Int): KmeansFit =
    kmeansFitFrom(Tables.embeddings(spark, dir), k, iters)

  /** [[kmeansFit]] over ANY `(vec_id, embedding, ...)` frame — the
    * seam the SemanticDedupSpec fixture trains through.
    */
  private[graft] def kmeansFitFrom(embs: DataFrame,
                                   k: Int, iters: Int): KmeansFit = {
    require(k >= 1, "kmeans needs at least one centroid")
    require(iters >= 1, "kmeans needs at least one assign/update round")
    val (vqp, vqIds) = graft.Caches.trackedCheckpoint(packEmbeddings(embs))
    lloyd(vqp, vqIds, k, iters)
  }

  /** The Lloyd loop over the packed corpus checkpoint `vqp`: one
    * collect for the seed, then one [[lloydRound]] collect per round —
    * the model reaches executors only as [[route]]'s literals.
    */
  private def lloyd(vqp: DataFrame, vqIds: Set[Int], k: Int, iters: Int): KmeansFit = {
    var prev = CentModel.seed(vqp, k)
    var model = prev
    var members = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val rows = lloydRound(vqp, model).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      prev = model
      model = CentModel.of(rows.map(r => (r._1, r._2, r._3)))
      members = rows.map(r => r._1 -> r._4).toMap
    }
    KmeansFit(vqp, vqIds, prev, model, members)
  }

  /** The packed micro-unit corpus `(vec_id, vqa ARRAY<BIGINT>)`:
    * round(x*1e6) per element. */
  private[graft] def packEmbeddings(embs: DataFrame): DataFrame = {
    val n = embs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    embs
      .repartition(n, col("vec_id")) // parallelize the transform — see corpus()
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("bigint")).as("vqa"))
  }

  /** One Lloyd round as one aggregate over the packed corpus: route
    * every vector against `model`'s literals, then [[lloydMeans]]. No
    * join, so the round is one action. Output `(cid, pos, cq, n)`,
    * k x dim rows for the driver.
    */
  private[graft] def lloydRound(vqp: DataFrame, model: CentModel): DataFrame =
    lloydMeans(route(vqp, model.router))

  /** The sufficient statistics of a Lloyd update over [[route]]d rows:
    * per `(keys..., cid, pos)` the coordinate sum `sum_vq` and the
    * member count `n`. The routed rows posexplode AFTER routing
    * (routing in the explode's own select would run once per element).
    * Integer sums are order- and split-independent, so the streamed
    * k-means fold ([[graft.streaming.StreamingKmeansStats]]) stores
    * these very rows and still equals the batch round.
    */
  private[graft] def lloydSums(routed: DataFrame, keys: String*): DataFrame =
    routed.select(keys.map(col) ++ Seq(col("cid"), posexplode(col("vqa"))): _*)
      .groupBy(keys.map(col) ++ Seq(col("cid"), col("pos").cast("bigint").as("pos")): _*)
      .agg(sum(col("col")).as("sum_vq"), count(lit(1)).as("n"))

  /** [[lloydSums]] rounded to the updated centroids: `(keys..., cid,
    * pos, cq, n)` with `cq` the integer mean. */
  private def lloydMeans(routed: DataFrame, keys: String*): DataFrame =
    lloydSums(routed, keys: _*).select(keys.map(col) ++ Seq(col("cid"), col("pos"),
      round(col("sum_vq").cast("double") / col("n")).cast("bigint").as("cq"), col("n")): _*)

  /** A quantizer model as the columns [[route]] scores against:
    * index-aligned centroid ids `cids ARRAY<BIGINT>` and packed
    * centroids `cqas ARRAY<ARRAY<BIGINT>>` — literals of one
    * [[CentModel]], or of the codebook a row's `sub` selects
    * ([[PqBooks]]). */
  private[graft] final case class Router(cids: Column, cqas: Column)

  /** THE router of every vector quantizer here: packed rows `(vec_id,
    * vqa, ...)` with their nearest centroid `cid` under `model` (the
    * codegen'd [[graft.functions.NearestCid]] argmin — `min(struct(d2,
    * cid))` semantics exactly). One projection, no join: n rows in, n
    * rows out.
    */
  private def route(packed: DataFrame, model: Router): DataFrame = {
    graft.functions.NearestCid.register(packed.sparkSession)
    packed.withColumn("cid", call_function(graft.functions.NearestCid.Name,
      col("vqa"), model.cids, model.cqas))
  }

  /** A routed row's centroid: its `cid` looked up in `model`. */
  private def routedCentroid(model: Router): Column =
    element_at(model.cqas, array_position(model.cids, col("cid")).cast("int"))

  /** Exact squared distance of a routed row's `vqa` to its cell's
    * centroid in `model`. */
  private def centD2(model: Router): Column =
    call_function(graft.functions.SqDistLong.Name, col("vqa"), routedCentroid(model))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — the embedding-space dedup a pretraining corpus
    * runs AFTER lexical dedup): cluster the embedding space with the
    * k-means trainer, call two vectors semantic duplicates when their
    * squared L2 distance within the SAME cluster is below `maxD2`,
    * and keep the duplicate farthest from its centroid (the paper's
    * low-centroid-similarity keep rule — the boundary example carries
    * more information than the cluster-typical one). A vector is
    * dropped iff some same-cell neighbor within `maxD2` ranks
    * strictly higher by (centroid distance, vec_id) — deterministic
    * and component-free, exactly the paper's per-example rule (two
    * mutually-near boundary examples can both survive; that is the
    * rule, not a bug).
    *
    * Output: per cell, the member count, dup-pair count, dropped and
    * kept counts — the yield table a curation pipeline budgets
    * against.
    *
    * Scale shape: a fixed handful of Spark jobs whatever the round
    * count — the driver-side fit ([[kmeansFitFrom]], one aggregate
    * action per round), then ONE projection that routes each packed
    * vector against the final model's literals and measures its
    * centrality, then ONE per-cell pass
    * ([[semanticCells]]): pairs are never formed across cells, so the
    * quadratic term is (n/k)^2 per cell and a task holds one cell,
    * O(width x d). k is DERIVED as round(sqrt(n)) ([[semanticK]]) so
    * cells stay ~sqrt(n) wide at any corpus size (the banded-LSH
    * family is the non-clustered alternative at the same scale);
    * SemanticDedupSpec pins the cell-width bound on a skewed
    * fixture. Everything stays BIGINT micro-units → the whole scheme
    * (training included) is oracle-checked end to end.
    */
  def semanticDedup(spark: SparkSession, dir: String,
                    maxD2: Long = 1400000000000L): DataFrame =
    semanticDedupFrom(Tables.embeddings(spark, dir), maxD2)

  /** [[semanticDedup]] over ANY `(vec_id, embedding, ...)` frame —
    * the spec seam for skewed fixtures; k is always the sqrt-n rule.
    */
  private[graft] def semanticDedupFrom(embs: DataFrame, maxD2: Long): DataFrame = {
    val (vqp, vqIds) = graft.Caches.trackedCheckpoint(packEmbeddings(embs))
    // n counted over the checkpoint's blocks: one job, no second scan
    val fit = lloyd(vqp, vqIds, k = coarseK(vqp.queryExecution.toRdd.count()), iters = 2)
    // membership by routing against the FINAL cells (the paper
    // clusters with the finished fit; also the only membership a
    // streaming ingest can reproduce — the in-loop assignment is vs
    // the previous round's centroids, a training artifact)
    graft.functions.SqDistLong.register(embs.sparkSession)
    val members = route(fit.vqp, fit.model.router)
      .select(col("cid"), col("vec_id"), centD2(fit.model.router).as("cent_d2"), col("vqa"))
    semanticCells(members, maxD2)
  }

  /** SemDeDup cluster granularity: k = round(sqrt(n)) over the corpus
    * — the production operating point the scaladoc's (n/k)^2 scale
    * claim REQUIRES (with k ~ sqrt(n), cells stay ~sqrt(n) wide and
    * the per-cell quadratic term is linear in n overall; a fixed k
    * would let cell width — and the pair join — grow linearly with
    * the corpus). One bounded 1-row count action; both the batch
    * operator and [[coarseCells]] (the streaming twin's published
    * artifact) derive k HERE, so batch and stream granularity cannot
    * drift.
    */
  def semanticK(spark: SparkSession, dir: String): Int =
    coarseK(Tables.embeddings(spark, dir).count())

  /** k = max(1, round(sqrt(n))) — the [[semanticK]] rule over any
    * corpus size. */
  def coarseK(n: Long): Int =
    math.max(1L, math.round(math.sqrt(n.toDouble))).toInt

  /** The trained final cells `(cid, pos, cq)` in raw micro-units —
    * the routing artifact a deployment publishes (ivfPqModel bundles
    * the same frame; this accessor trains only the coarse fit, for
    * consumers that need no PQ side — e.g. the streaming SemDeDup
    * ingest). Granularity is [[semanticK]]'s sqrt-n rule — the same k
    * the batch dedup trains with.
    */
  def coarseCells(spark: SparkSession, dir: String): DataFrame = {
    val fit = kmeansFit(spark, dir, k = semanticK(spark, dir), iters = 2)
    graft.Caches.release(spark, fit.vqIds)
    fit.model.cells(spark)
  }

  /** One row of the SemDeDup yield table. */
  private[graft] final case class CellYield(cell: Long, n_members: Long, n_dup_pairs: Long,
                                            n_dropped: Long, n_kept: Long)

  /** The SemDeDup keep rule over ONE cell: `members` are its
    * `(vec_id, cent_d2)`, `pairs` its distinct duplicate pairs `(u, v)`.
    * Each pair drops its lower side by (cent_d2, vec_id), so a vector
    * survives iff no neighbor ranks strictly above it. Shared by the
    * batch pass and the streaming report.
    */
  private[graft] def keepRule(cell: Long, members: Seq[(Long, Long)],
                              pairs: Seq[(Long, Long)]): CellYield = {
    val cent = members.toMap
    val dropped = pairs.map { case (u, v) =>
      val (cu, cv) = (cent(u), cent(v))
      if (cu < cv || (cu == cv && u < v)) u else v
    }.toSet
    CellYield(cell, members.size, pairs.size, dropped.size, members.size - dropped.size)
  }

  /** One cell of the batch pass: members `(vec_id, cent_d2, vqa)`, the
    * exact pairs under `maxD2`, then [[keepRule]]. */
  private[graft] def cellPass(cell: Long, members: IndexedSeq[(Long, Long, Array[Long])],
                              maxD2: Long): CellYield = {
    val pairs = for {
      i <- members.indices
      j <- i + 1 until members.size
      if sqDist(members(i)._3, members(j)._3) < maxD2
    } yield (members(i)._1, members(j)._1)
    keepRule(cell, members.map(m => (m._1, m._2)), pairs)
  }

  /** Exact squared L2 of two packed micro-unit vectors of equal length. */
  private def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** The per-cell SemDeDup yield table over routed members `(cid,
    * vec_id, cent_d2, vqa)`: one `groupByKey(cid)` pass, each group
    * one cell ([[cellPass]]). The table is k rows, so it sorts in one
    * partition (an `orderBy` would add a range-sampling job).
    */
  private[graft] def semanticCells(members: DataFrame, maxD2: Long): DataFrame = {
    import members.sparkSession.implicits._
    members.select("cid", "vec_id", "cent_d2", "vqa").as[(Long, Long, Long, Array[Long])]
      .groupByKey(_._1)
      .mapGroups((cid, it) => cellPass(cid, it.map(m => (m._2, m._3, m._4)).toVector, maxD2))
      .toDF()
      .repartition(1)
      .sortWithinPartitions("cell")
  }

  /** Nearest coarse centroid per vector `(vec_id, cid, vqa)` of
    * `(vec_id, embedding, ...)` rows against a published cell table
    * `(cid, pos, cq)`. The streaming routers' seam: it packs the rows
    * ([[packEmbeddings]]), collects the cells into the same driver-side
    * model the Lloyd loop routes with, and delegates to [[route]], so
    * batch and streamed routing cannot drift.
    */
  private[graft] def coarseAssign(rows: DataFrame, cents: DataFrame): DataFrame =
    route(packEmbeddings(rows), CentModel.collect(cents).router).select("vec_id", "cid", "vqa")

  /** Cluster-quality audit of the trained fit: per final centroid, the
    * member count and the inertia (sum of squared distances of members
    * to their UPDATED centroid) — the number a k sweep minimizes and
    * the convergence measure a production trainer logs every round.
    * Closes the train→deploy→audit loop from the fit side, the way
    * the recall audits close it from the search side.
    *
    * Exactness: per-vector d2 is a BIGINT micro-unit sum (max ~2.6e14
    * for 64 dims — no overflow), the per-cluster inertia accumulates
    * in DECIMAL(38,0) (BIGINT sums would overflow near ~36k members),
    * and surfaces as a correctly-rounded double — identical digits in
    * any engine (the oracle bridges DuckDB's HUGEINT sum through
    * VARCHAR, SURVEY §4b lesson 9).
    *
    * Scale shape: one projection over the checkpointed corpus against
    * the literals of two models, then a k-row aggregate — auditing
    * costs one corpus pass, nothing new shuffles.
    */
  def kmeansInertia(spark: SparkSession, dir: String,
                    k: Int = 8, iters: Int = 2): DataFrame = {
    val fit = kmeansFit(spark, dir, k, iters)
    // the last round's membership (routed against `prev`), each member
    // measured against its UPDATED centroid in the final model
    graft.functions.SqDistLong.register(spark)
    val d2 = route(fit.vqp, fit.prev.router).select(col("cid"), centD2(fit.model.router).as("d2"))
    d2.groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
           sum(col("d2").cast("decimal(38,0)")).cast("string").cast("double")
             .as("inertia"))
      .select(col("cid").as("centroid_id"), col("n_members"),
        col("inertia"),
        round(col("inertia") / col("n_members"), 6).as("mean_d2"))
      .orderBy("centroid_id")
  }

  /** `(vec_id, label, pos, vq)` micro-unit rows of the embeddings
    * table — the integer-exact exploded form ([[kmeansFit]]'s `vq`
    * convention) with the label carried through the explode, so
    * label-aware consumers ([[hardNegatives]]) never join the corpus
    * back onto itself for it. Repartitioned BEFORE the posexplode for
    * the same reason as [[corpus]].
    */
  private def microRows(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Tables.embeddings(spark, dir)
      .repartition(n, col("vec_id"))
      .select(col("vec_id"), col("label").cast("bigint").as("label"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("vq"))
  }

  /** Semantic decontamination — the embedding-space twin of
    * [[CorpusOps.decontaminate]]: an eval suite leaks into a training
    * corpus not only verbatim (the word-gram probe) but as paraphrases
    * and translations, which land NEAR the benchmark item in embedding
    * space. Flags every corpus vector whose squared L2 distance to its
    * nearest benchmark vector (`vec_id < benchVecs`, the stand-in for
    * the embedded eval set) is below `maxD2`, reporting that nearest
    * benchmark item and the exact micro-unit distance. Completes the
    * decontamination axis the way [[semanticDedup]] completes the
    * dedup axis: lexical + semantic, batch + streaming
    * ([[graft.streaming.StreamingSemanticDecontam]]).
    *
    * Exactness: BIGINT micro-unit distances (max ~2.6e14 for 64 dims
    * — no overflow); nearest-bench tie-breaks by (d2, bench_id) via
    * min(struct(...)), the same lexicographic ordering both engines
    * use. The default threshold is calibrated to this corpus's
    * distance distribution (~5th percentile of nearest-bench d2) so
    * the report is non-empty but bounded — production would calibrate
    * it against labeled paraphrase pairs the same way.
    *
    * Scale shape: the benchmark side is eval-suite-bounded and
    * broadcasts (the [[CorpusOps.decontaminate]] bound); the corpus
    * explodes once and never shuffles for the probe — the
    * per-(vector, bench) distance fan-out happens map-side under the
    * broadcast hash join, and the only exchanges carry (vec_id,
    * bench_id, d2) aggregates, never embedding components.
    */
  def semanticDecontam(spark: SparkSession, dir: String,
                       benchVecs: Int = 20,
                       maxD2: Long = 1300000000000L): DataFrame = {
    val rows = microRows(spark, dir)
    val bench = rows.filter(col("vec_id") < benchVecs)
      .select(col("vec_id").as("bench_id"), col("pos"), col("vq").as("bq"))
    nearestBenchFlags(rows.filter(col("vec_id") >= benchVecs), bench, maxD2)
      .orderBy("vec_id")
  }

  /** The nearest-benchmark probe over micro-unit rows — the
    * [[semanticDecontam]] arithmetic factored out so the streaming
    * twin ([[graft.streaming.StreamingSemanticDecontam]]) flags with
    * the SAME code and the two cannot drift. `corpus` carries
    * `(vec_id, pos, vq)`, `bench` carries `(bench_id, pos, bq)`
    * (eval-suite-bounded — it broadcasts); returns the flagged
    * `(vec_id, bench_id, d2)` rows, unordered.
    */
  private[graft] def nearestBenchFlags(corpus: DataFrame, bench: DataFrame,
                                       maxD2: Long): DataFrame =
    corpus.join(broadcast(bench), Seq("pos"))
      .groupBy("vec_id", "bench_id")
      .agg(sum((col("vq") - col("bq")) * (col("vq") - col("bq"))).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("bench_id"))).as("m"))
      .select(col("vec_id"), col("m.bench_id").as("bench_id"), col("m.d2").as("d2"))
      .filter(col("d2") < lit(maxD2))

  /** Cluster-vs-label agreement audit of the trained k-means fit: per
    * final cell (membership by FINAL-cells routing, the
    * [[semanticDedup]] convention), the member count, how many
    * distinct labels landed in it, the majority label with its count,
    * and the purity (majority share). [[kmeansInertia]] scores the fit
    * geometrically; this scores it against the labels the corpus
    * already carries — the audit that decides whether
    * cluster-balanced sampling or [[semanticDedup]]'s cell-scoped
    * pairing can stand in for label-aware curation.
    *
    * Majority ties break to the smallest label (explicit (n DESC,
    * label) rank — max_by would be nondeterministic on ties).
    *
    * Scale shape: routing is checkpointed (one corpus materialization,
    * one broadcast-model projection — no window), the label join is
    * a narrow (vec_id, label) shuffle against corpus-sized routing
    * rows, and everything after the (cid, label) aggregate is
    * k×labels-sized. The exploded-corpus blocks release once routing
    * materializes ([[kmeansCentroids]]'s discipline).
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val fit = kmeansFit(spark, dir, k = 8, iters = 2)
    val (routing, _) = graft.Caches.trackedCheckpoint(fit.routing)
    graft.Caches.release(spark, fit.vqIds)
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val byLabel = routing.join(labels, Seq("vec_id"))
      .groupBy("cid", "label").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("cid").orderBy(col("n").desc, col("label"))
    byLabel
      .withColumn("rk", row_number().over(w))
      .groupBy("cid")
      .agg(sum(col("n")).as("n_members"),
           count(lit(1)).as("n_labels"),
           max(when(col("rk") === 1, col("label"))).as("top_label"),
           max(when(col("rk") === 1, col("n"))).as("top_n"))
      .withColumn("purity",
        round(col("top_n").cast("double") / col("n_members"), 6))
      .select(col("cid").as("cell"), col("n_members"), col("n_labels"),
        col("top_label"), col("top_n"), col("purity"))
      .orderBy("cell")
  }

  /** Hard-negative mining audit — the contrastive-training data op:
    * for each query vector (`vec_id < nQueries`), the nearest
    * SAME-label corpus vector (the easy positive a triplet loss
    * anchors on) and the nearest DIFFERENT-label vector (the hard
    * negative it mines), by exact micro-unit squared L2, self
    * excluded. The margin (neg_d2 − pos_d2) is the per-anchor
    * separation a metric-learning run tracks: a non-positive margin
    * means the hardest negative sits inside the positive radius —
    * exactly the anchors a miner feeds back into training.
    *
    * Exactness: BIGINT micro-unit distances; both argmins tie-break by
    * (d2, vec_id) via conditional min(struct(...)).
    *
    * Scale shape: the query side is bounded and broadcasts (the
    * [[knnBruteForce]] bound); labels ride through the corpus explode
    * ([[microRows]]) so no corpus self-join materializes; the
    * per-(query, candidate) distances aggregate map-side and only
    * (query_id, vec_id, d2, label) rows reach an exchange. One corpus
    * pass, two conditional aggregates, queries-sized output.
    */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = 10): DataFrame = {
    val rows = microRows(spark, dir)
    val q = rows.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("pos").as("qpos"), col("vq").as("qq"))
    val d2 = rows.join(broadcast(q),
        col("pos") === col("qpos") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("q_label"), col("vec_id"), col("label"))
      .agg(sum((col("vq") - col("qq")) * (col("vq") - col("qq"))).as("d2"))
    d2.groupBy("query_id", "q_label")
      .agg(
        min(when(col("label") === col("q_label"),
          struct(col("d2"), col("vec_id")))).as("p"),
        min(when(col("label") =!= col("q_label"),
          struct(col("d2"), col("vec_id")))).as("ng"))
      .select(col("query_id"), col("q_label").as("label"),
        col("p.vec_id").as("pos_id"), col("p.d2").as("pos_d2"),
        col("ng.vec_id").as("neg_id"), col("ng.d2").as("neg_d2"),
        (col("ng.d2") - col("p.d2")).as("margin"))
      .orderBy("query_id")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998, distance form) — the diversified top-k a retrieval-based
    * curation pipeline serves instead of raw nearest neighbors: from
    * each query's `shortlistN` exact-L2 shortlist, greedily pick `k`
    * items minimizing `lam*d2(query, cand) − (1−lam)*min_{s∈S}
    * d2(cand, s)` — relevance traded against redundancy with what is
    * already selected. Round 1 is the plain nearest (empty S);
    * `lam = 7/10` enters as INTEGER weights (7, 3) over micro-unit
    * distances, so every score is exact BIGINT (`mmr_scaled` = the
    * deci-unit objective) and ties break on (score, cand_id) — fully
    * engine-exact, which is why a greedy re-ranker can be
    * oracle-checked at all.
    *
    * Scale shape: the shortlist is the [[knnBruteForce]] broadcast
    * scan (corpus never shuffles; swap in the IVF shortlist to prune
    * reads at scale — the re-rank below is shortlist-scoped either
    * way); candidate-pair distances materialize once
    * (nQueries × shortlistN² rows, bounded by the serving
    * configuration, never corpus-sized); each greedy round is a
    * bounded anti-join + argmin over those frames — k driver-paced
    * rounds over query-set-sized state, no collect.
    */
  def mmrRerank(spark: SparkSession, dir: String, k: Int = 5,
                shortlistN: Int = 20, nQueries: Int = 10): DataFrame = {
    graft.functions.SqDistLong.register(spark)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (pk, _) = graft.Caches.trackedCheckpoint(
      Tables.embeddings(spark, dir)
        .repartition(n, col("vec_id")) // parallelize the transform — see corpus()
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("bigint")).as("vqa")))
    val q = pk.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vqa").as("qva"))
    val w = Window.partitionBy("query_id").orderBy(col("d2q"), col("cand_id"))
    val (sl, _) = graft.Caches.trackedCheckpoint(
      pk.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          call_function(graft.functions.SqDistLong.Name,
            col("vqa"), col("qva")).as("d2q"), col("vqa"))
        .withColumn("rk0", row_number().over(w))
        .filter(col("rk0") <= shortlistN)
        .drop("rk0"))
    val (pd, _) = graft.Caches.trackedCheckpoint(
      sl.alias("a").join(sl.alias("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.cand_id") =!= col("b.cand_id"))
        .select(col("a.query_id").as("query_id"), col("a.cand_id").as("cand_id"),
          col("b.cand_id").as("other_id"),
          call_function(graft.functions.SqDistLong.Name,
            col("a.vqa"), col("b.vqa")).as("d2c")))
    val slim = sl.select("query_id", "cand_id", "d2q")
    var picks = slim
      .groupBy("query_id").agg(min(struct(col("d2q"), col("cand_id"))).as("m"))
      .select(col("query_id"), col("m.cand_id").as("cand_id"), lit(1L).as("rk"),
        col("m.d2q").as("d2q"), (lit(7L) * col("m.d2q")).as("mmr_scaled"))
    for (r <- 2 to k) {
      val selIds = picks.select(col("query_id"), col("cand_id"))
      val minSel = pd
        .join(selIds.withColumnRenamed("cand_id", "other_id"),
          Seq("query_id", "other_id"))
        .groupBy("query_id", "cand_id").agg(min(col("d2c")).as("min_d2_sel"))
      val pick = slim
        .join(selIds, Seq("query_id", "cand_id"), "left_anti")
        .join(minSel, Seq("query_id", "cand_id"))
        .select(col("query_id"), col("cand_id"), col("d2q"),
          (lit(7L) * col("d2q") - lit(3L) * col("min_d2_sel")).as("mmr_scaled"))
        .groupBy("query_id")
        .agg(min(struct(col("mmr_scaled"), col("cand_id"), col("d2q"))).as("m"))
        .select(col("query_id"), col("m.cand_id").as("cand_id"),
          lit(r.toLong).as("rk"), col("m.d2q").as("d2q"),
          col("m.mmr_scaled").as("mmr_scaled"))
      picks = picks.union(pick).localCheckpoint()
    }
    picks.select("query_id", "rk", "cand_id", "d2q", "mmr_scaled")
      .orderBy("query_id", "rk")
  }

  /** Product-quantization (PQ) ADC recall audit — the memory-bound
    * compression trade at embedding scale: split each 64-dim vector
    * into 8 subvectors, train a 16-code codebook PER SUBSPACE
    * (hash-spread seeding + two Lloyd rounds — see
    * [[pqTrain]]), encode every
    * vector as 8 codes (4 bits each → 4 bytes where the raw vector is
    * 256 — a 64x memory cut), and search with Asymmetric Distance
    * Computation: the query precomputes its exact distance to every
    * (subspace, code) centroid (a 128-entry table) and a candidate's
    * distance is the sum of 8 table lookups. Recall is measured
    * against exact integer-L2 brute-force truth — the same
    * measure-don't-claim audit as the IVF/LSH family, pricing the
    * 64x compression in top-k hits.
    *
    * Exactness: all arithmetic is BIGINT micro-units (the k-means
    * trainer's convention), codebook means round once, ADC sums are
    * integer — the whole audit is engine-exact, which is why a
    * quantization SCHEME can be oracle-checked at all.
    *
    * Scale shape: training is the k-means Lloyd loop per subspace on a
    * driver-side model ([[pqTrain]]); encoding is one projection of
    * the packed corpus against the books' literals, each subvector
    * scored against its subspace's codebook — no window over corpus
    * rows except the per-query top-k ranks. The brute-force side is
    * the audit's oracle truth, bounded by the fixed query count, not a
    * production path.
    */
  def pqRecall(spark: SparkSession, dir: String, nSubs: Int = 8,
               nCodes: Int = 16, k: Int = 5, nQueries: Int = 10): DataFrame =
    pqRecallImpl(spark, dir, nSubs, nCodes, k, nQueries, rerankN = 0)

  /** PQ-ADC with the production fix [[pqRecall]]'s measured raw
    * recall demands: ADC ranks a WIDE candidate list (top-`rerankN`
    * by table-lookup distance — the cheap pass over the 64x-compressed
    * codes), then only those candidates are re-ranked with the exact
    * distance (the expensive pass touches rerankN vectors per query,
    * not the corpus). This two-stage fetch-then-rerank is how every
    * production PQ/IVFPQ index is actually served; the audit measures
    * what the candidate width buys back.
    */
  def pqRerankRecall(spark: SparkSession, dir: String, rerankN: Int = 50,
                     k: Int = 5, nQueries: Int = 10): DataFrame =
    pqRecallImpl(spark, dir, nSubs = 8, nCodes = 16, k, nQueries, rerankN)

  /** The PQ artifacts shared by the PQ audits and the IVF-PQ
    * composites: micro-unit subvector rows `sq` (`(vec_id, pos, vq,
    * sub)`, the exact side), the published codebooks `books`, per-vector
    * codes, and the per-query ADC distance table `qd`.
    */
  private case class PqArtifacts(sq: DataFrame, books: DataFrame,
                                 codes: DataFrame, qd: DataFrame)

  /** The published artifacts of ONE PQ training run — what a
    * deployment ships to its serving/ingest tier: the trained
    * `codebooks` (the streaming encoder's fixed reference), the batch
    * `codes` (the stream==batch oracle for the encoder AND the code
    * store an ADC search scans), and the per-query ADC distance
    * `queryTable`. One struct from one training — accessors that each
    * retrained privately would double the work and leave two redundant
    * checkpointed corpora behind.
    */
  case class PqModel(codebooks: DataFrame, codes: DataFrame, queryTable: DataFrame)

  /** Train the PQ model once and return every published artifact. */
  def pqModel(spark: SparkSession, dir: String, nQueries: Int = 10): PqModel = {
    val a = pqArtifacts(spark, dir, nSubs = 8, nCodes = 16, nQueries)
    PqModel(a.books, a.codes, a.qd)
  }

  /** Micro-unit subvector rows `(vec_id, pos, vq, sub)` of any
    * `(vec_id, embedding, ...)` frame — the exploded unit the streaming
    * semantic decontamination probes with.
    */
  private[graft] def pqMicroUnits(df: DataFrame, nSubs: Int = 8): DataFrame =
    subRows(packEmbeddings(df), nSubs)

  /** PQ codes `(vec_id, sub, cid)` of `(vec_id, embedding, ...)` rows
    * against published books `(cid, sub, pos, cq)` — the streaming
    * encoder's seam, the [[coarseAssign]] pattern: pack, collect the
    * books into the trainer's driver-side model, [[PqBooks.codes]].
    */
  private[graft] def pqAssign(rows: DataFrame, books: DataFrame): DataFrame =
    PqBooks.collect(books).codes(packEmbeddings(rows))

  /** Packed subvectors `(vec_id, sub, vqa)`: each packed `vqa` cut into
    * `nSubs` equal position-ordered slices — what a PQ codebook routes.
    */
  private def subVectors(vqp: DataFrame, nSubs: Int): DataFrame = {
    val subDim = Dim / nSubs
    vqp.select(col("vec_id"), posexplode(array((0 until nSubs).map(s =>
        slice(col("vqa"), s * subDim + 1, subDim)): _*)))
      .select(col("vec_id"), col("pos").cast("bigint").as("sub"), col("col").as("vqa"))
  }

  /** Exploded micro-unit rows `(vec_id, pos, vq, sub)` of a packed
    * corpus, `sub` the PQ subspace of `pos` — a narrow posexplode for
    * the paths that need per-position rows (ADC query tables, exact
    * re-rank, brute truth).
    */
  private def subRows(vqp: DataFrame, nSubs: Int): DataFrame =
    vqp.select(col("vec_id"), posexplode(col("vqa")))
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"), col("col").as("vq"))
      .withColumn("sub", expr(s"pos div ${Dim / nSubs}"))

  /** PQ codebooks on the driver: one k-means [[CentModel]] per subspace,
    * `subs(s)` routing subvector `s`. */
  private final case class PqBooks(subs: Vector[CentModel]) {

    /** The books as [[route]]'s literals: a row's `sub` picks its
      * subspace's codebook. */
    def router: Router = {
      val sub = (col("sub") + 1).cast("int")
      Router(element_at(typedLit(subs.map(_.cids)), sub),
        element_at(typedLit(subs.map(_.cqas)), sub))
    }

    /** The published books `(cid, sub, pos, cq)`, `pos` the position in
      * the whole vector. */
    def books(spark: SparkSession): DataFrame = {
      val subDim = Dim / subs.size
      spark.createDataFrame(for {
        (m, s) <- subs.zipWithIndex
        (cid, pos, cq) <- m.cellRows
      } yield (cid, s.toLong, s * subDim + pos, cq)).toDF("cid", "sub", "pos", "cq")
    }

    /** The codes `(vec_id, sub, cid)` of a packed corpus `(vec_id, vqa)`. */
    def codes(vqp: DataFrame): DataFrame =
      route(subVectors(vqp, subs.size), router).select("vec_id", "sub", "cid")
  }

  private object PqBooks {
    /** Books of `nSubs` subspaces from `(sub, cid, pos, cq)` rows in any
      * order. */
    def of(nSubs: Int, rows: Seq[(Long, Long, Long, Long)]): PqBooks = {
      val bySub = rows.groupBy(_._1)
      PqBooks(Vector.tabulate(nSubs)(s =>
        CentModel.of(bySub.getOrElse(s.toLong, Nil).map(r => (r._2, r._3, r._4)))))
    }

    /** Collect published books `(cid, sub, pos, cq)`. */
    def collect(books: DataFrame): PqBooks = {
      val rows = books.select(col("sub").cast("bigint"), col("cid").cast("bigint"),
          col("pos").cast("bigint"), col("cq").cast("bigint")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      of(if (rows.isEmpty) 0 else rows.map(_._1).max.toInt + 1, rows)
    }
  }

  private def pqArtifacts(spark: SparkSession, dir: String, nSubs: Int,
                          nCodes: Int, nQueries: Int): PqArtifacts = {
    val (vqp, _) = graft.Caches.trackedCheckpoint(packEmbeddings(Tables.embeddings(spark, dir)))
    pqArtifactsFrom(vqp, subRows(vqp, nSubs), nSubs, nCodes, nQueries)
  }

  /** The PQ artifacts of a packed corpus `vqp` with its exploded rows
    * `sq` — the seam that lets the IVF-PQ composites train on the
    * k-means fit's own packed checkpoint: [[pqTrain]], the books
    * published, the corpus encoded by the same [[route]], and the
    * per-query exact distance to every (subspace, code) centroid (the
    * ADC table, nQueries x nSubs x nCodes rows).
    */
  private def pqArtifactsFrom(vqp: DataFrame, sq: DataFrame, nSubs: Int, nCodes: Int,
                              nQueries: Int): PqArtifacts = {
    val trained = pqTrain(vqp, nSubs, nCodes)
    val books = trained.books(vqp.sparkSession)
    val qd = sq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("pos"),
        col("vq").as("qv"))
      .join(broadcast(books), Seq("sub", "pos"))
      .groupBy("query_id", "sub", "cid")
      .agg(sum((col("qv") - col("cq")) * (col("qv") - col("cq"))).as("d2q"))
    PqArtifacts(sq, books, trained.codes(vqp), qd)
  }

  /** The PQ trainer: the k-means Lloyd loop run once per subspace, all
    * subspaces in the same jobs. Seeds are the `nCodes` vectors with the
    * smallest (PolyHash(vec_id), vec_id) — a deterministic uniform
    * sample spread across the corpus (the first-`nCodes` seed would
    * take adjacent, crawl-correlated vectors), selected by a
    * distributed top-k (TakeOrderedAndProject) and collected. Each of
    * the two rounds is one aggregate action: [[route]] every packed
    * subvector against its subspace's codebook, then the integer means
    * of [[lloydMeans]] with `sub` as one more key, collected into the
    * next books; the books reach executors only as [[route]]'s
    * literals. At sf0.01 with 50 queries the second
    * round lifts raw ADC 0.248 -> 0.256, rerank 0.716 -> 0.748, IVF-PQ
    * 0.408 -> 0.420; a third is not worth a corpus pass per composite.
    * All arithmetic stays BIGINT micro-units, so the trained scheme
    * remains oracle-checkable end to end.
    */
  private def pqTrain(vqp: DataFrame, nSubs: Int, nCodes: Int): PqBooks = {
    val spark = vqp.sparkSession
    graft.functions.PolyHash.register(spark)
    val subDim = Dim / nSubs
    val seeds = vqp
      .orderBy(call_function(graft.functions.PolyHash.Name, col("vec_id").cast("string")),
        col("vec_id"))
      .limit(nCodes)
      .select(col("vec_id").cast("bigint"), col("vqa")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).sortBy(_._1).toVector
    val seed = PqBooks(Vector.tabulate(nSubs)(s =>
      CentModel(seeds.map(_._1), seeds.map(_._2.slice(s * subDim, (s + 1) * subDim)))))
    val subs = subVectors(vqp, nSubs)
    (1 to 2).foldLeft(seed) { (books, _) =>
      PqBooks.of(nSubs, lloydMeans(route(subs, books.router), "sub").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
    }
  }

  /** Exact integer-L2 re-rank of a per-query candidate shortlist:
    * top-`k` among ONLY the candidate pairs (rerank-width vectors per
    * query, never the corpus). Shared by the fetch-then-rerank audit
    * and both IVF-PQ composites.
    */
  private def exactRerank(sq: DataFrame, cand: DataFrame, k: Int,
                          nQueries: Int): DataFrame = {
    val qrows = sq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("pos"), col("vq").as("qv"))
    val rr = cand.join(qrows, Seq("query_id"))
      .join(sq.select(col("vec_id").as("neighbor_id"), col("pos"), col("vq")),
        Seq("neighbor_id", "pos"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum((col("qv") - col("vq")) * (col("qv") - col("vq"))).as("rd2"))
    val w = Window.partitionBy("query_id").orderBy(col("rd2"), col("neighbor_id"))
    rr.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "neighbor_id")
  }

  /** Per-query recall of an approximate top-k `topA` against exact
    * integer-L2 brute-force truth over the same micro-unit rows — the
    * measure-don't-claim report every ANN audit here ends in. The
    * brute side is bounded by the fixed query count, not a production
    * path.
    */
  private def recallReport(sq: DataFrame, topA: DataFrame, k: Int,
                           nQueries: Int): DataFrame = {
    val brute = sq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("pos"), col("vq").as("qv"))
      .join(sq.select(col("vec_id").as("neighbor_id"), col("pos"), col("vq")),
        Seq("pos"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum((col("qv") - col("vq")) * (col("qv") - col("vq"))).as("d2"))
    val wB = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val topB = brute.withColumn("rk", row_number().over(wB)).filter(col("rk") <= k)
      .select("query_id", "neighbor_id")
    val hits = topB.join(topA, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    topB.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall", round(col("n_hits").cast("double") / k, 6))
      .orderBy("query_id")
  }

  /** Top-`n` ADC shortlist per query over a code store: a candidate's
    * asymmetric distance is the sum of its 8 codes' entries in the
    * query's precomputed distance table. THE serving primitive — the
    * batch audits and the streamed-code-store search both call this,
    * so "the stream serves what batch computed" is shared code, not a
    * reimplementation.
    */
  private[graft] def adcShortlist(codes: DataFrame, qd: DataFrame,
                                  n: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    codes.join(qd, Seq("sub", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2q")).as("adist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select("query_id", "neighbor_id")
  }

  private def pqRecallImpl(spark: SparkSession, dir: String, nSubs: Int,
                           nCodes: Int, k: Int, nQueries: Int,
                           rerankN: Int): DataFrame = {
    val PqArtifacts(sq, _, codes, qd) =
      pqArtifacts(spark, dir, nSubs, nCodes, nQueries)
    val topA =
      if (rerankN <= 0) adcShortlist(codes, qd, k)
      else
        // fetch-then-rerank: wide ADC candidate list, exact distance
        // only on those candidates (rerankN vectors per query, never
        // the corpus)
        exactRerank(sq, adcShortlist(codes, qd, rerankN), k, nQueries)
    recallReport(sq, topA, k, nQueries)
  }

  /** IVF-PQ: the production ANN serving composite — coarse k-means
    * cells PRUNE the corpus (only the query's `nProbe` nearest cells
    * are visited), PQ-ADC SCORES the surviving candidates from their
    * 8-code compressed form, and an exact re-rank of the narrow
    * shortlist returns the top-k. This is the FAISS-style index
    * shape: pruning bounds how much is read, compression bounds what
    * a read costs, re-ranking restores exactness on the shortlist.
    * (Production IVFPQ encodes cell RESIDUALS for tighter codes —
    * that refinement is [[ivfPqResidualRecall]], same pipeline.)
    * Both stages reuse the trained artifacts their standalone audits
    * measure: the [[kmeansCentroids]] L2 cells and the [[pqRecall]]
    * codebooks.
    *
    * Everything is BIGINT micro-units, so the composite — like its
    * parts — is oracle-checked end to end.
    */
  def ivfPqRecall(spark: SparkSession, dir: String, nProbe: Int = 2,
                  rerankN: Int = 20, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val m = ivfPqModel(spark, dir, nQueries)
    val probes = coarseProbes(m.microRows, m.cells, nProbe, nQueries)
    val wide = ivfShortlist(m.assignment, m.codes, m.queryTable, probes, rerankN)
    // exact re-rank of the shortlist, recall vs exact integer-L2 truth
    recallReport(m.microRows, exactRerank(m.microRows, wide, k, nQueries),
      k, nQueries)
  }

  /** The published artifacts of ONE IVF-PQ training run — what a
    * vector-store deployment ships to its ingest and serving tiers:
    * coarse `cells` (the streaming router's fixed centroids), the
    * batch `assignment` (the streamed routing table's stream==batch
    * oracle), PQ `codebooks` and batch `codes`, and the per-query ADC
    * `queryTable`. `microRows` is the shared exploded-corpus
    * checkpoint (exact re-rank / brute-truth side — an audit
    * artifact, not something serving ships).
    */
  case class IvfPqModel(cells: DataFrame, assignment: DataFrame,
                        codebooks: DataFrame, codes: DataFrame,
                        queryTable: DataFrame, microRows: DataFrame)

  /** Train the coarse cells and the PQ books once and return every
    * published artifact; [[ivfPqRecall]] and the streaming
    * vector-store lifecycle compose the same pieces. The PQ trainer
    * reads the SAME packed checkpoint the k-means fit trained on — one
    * corpus materialization feeds both trainings and every audit below.
    */
  def ivfPqModel(spark: SparkSession, dir: String,
                 nQueries: Int = 10): IvfPqModel = {
    val fit = kmeansFit(spark, dir, k = 8, iters = 2)
    // the PQ trainer slices subvectors out of the fit's packed
    // checkpoint; the query table and the audits read the exploded+sub
    // rows many times (query table, exact re-rank, brute truth), so
    // materialize that projection ONCE — recomputing the explode per
    // consumer measured +45% on x_ivfpq at the N=100 probe point.
    // Route the corpus against the FINAL cells — the deployment
    // convention (a FAISS index add() assigns against the trained
    // coarse quantizer), matching the codes-vs-final-books convention
    // of the PQ side. The training loop's own last assignment is vs
    // the PREVIOUS round's centroids — a training artifact, not what
    // a router computes — and using it here would make the batch
    // composite disagree with any router that ships `cells`.
    // PQ training and coarse routing are independent given the
    // finished fit — overlap them (opt guide §2.6).
    val ((sq, a), routing) = graft.Par.run2(
      {
        val (sq0, _) = graft.Caches.trackedCheckpoint(subRows(fit.vqp, 8))
        (sq0, pqArtifactsFrom(fit.vqp, sq0, nSubs = 8, nCodes = 16, nQueries))
      },
      graft.Caches.trackedCheckpoint(fit.routing)._1)
    IvfPqModel(fit.model.cells(spark), routing, a.books, a.codes, a.qd, sq)
  }

  /** Each query's `nProbe` nearest coarse cells by exact L2 to the
    * trained centroids (broadcast — k x 64 rows).
    */
  private[graft] def coarseProbes(sq: DataFrame, cents: DataFrame,
                                  nProbe: Int, nQueries: Int): DataFrame = {
    val qcd = sq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("pos"), col("vq").as("qv"))
      .join(broadcast(cents), Seq("pos"))
      .groupBy("query_id", "cid")
      .agg(sum((col("qv") - col("cq")) * (col("qv") - col("cq"))).as("cd2"))
    val w = Window.partitionBy("query_id").orderBy(col("cd2"), col("cid"))
    qcd.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nProbe).select("query_id", "cid")
  }

  /** IVF-pruned ADC shortlist: candidates are the vectors ROUTED to a
    * probed cell (the equi-join prune that reads nProbe/k of the
    * corpus), scored by asymmetric distance from their 8 codes only.
    * THE pruned serving primitive — the batch composite and the
    * search over the streamed code store share it, so "the stream
    * serves what batch computed" is shared code, not a
    * reimplementation.
    */
  private[graft] def ivfShortlist(routing: DataFrame, codes: DataFrame,
                                  qd: DataFrame, probes: DataFrame,
                                  n: Int): DataFrame = {
    val cand = probes.join(routing, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val adc = cand
      .join(codes, Seq("vec_id"))
      .join(qd, Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2q")).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select("query_id", "neighbor_id")
  }

  /** Residual-encoded IVF-PQ — the production refinement of
    * [[ivfPqRecall]]: PQ codes compress each vector's RESIDUAL
    * against its coarse cell's centroid rather than the raw vector.
    * Residuals concentrate near zero (the coarse cell already
    * explains the vector's position), so the same 16-code budget per
    * subspace spends its resolution on a much tighter distribution —
    * tighter codes, higher recall at the same nProbe/rerank budget.
    * This is the FAISS IVFPQ encoding proper.
    *
    * Serving-side difference vs the raw composite: the query's ADC
    * table is PER PROBED CELL — the query residual (query minus cell
    * centroid) differs in each probed cell, so the table is
    * nQueries x nProbe x 8 x 16 entries (still bounded by the fixed
    * query set and probe budget, never corpus-sized), and a
    * candidate is scored with the table of the cell it lives in.
    *
    * Scale shape: residuals derive from the SAME packed checkpoint the
    * coarse fit trained on (one corpus materialization feeds coarse
    * training, residual encoding, exact re-rank, and the brute truth),
    * in the projection that routes each vector to its final cell; that
    * routing checkpoint feeds the PQ trainer's passes. Everything stays
    * BIGINT micro-units (a difference of micro-units is a micro-unit),
    * so the full residual scheme is oracle-checked end to end.
    */
  def ivfPqResidualRecall(spark: SparkSession, dir: String, nProbe: Int = 2,
                          rerankN: Int = 20, k: Int = 5,
                          nQueries: Int = 10): DataFrame = {
    val fit = kmeansFit(spark, dir, k = 8, iters = 2)
    val subDim = Dim / 8
    // the exploded+sub rows (exact re-rank + truth, materialized ONCE —
    // the ivfPqModel lesson) and the final-cell routing are independent
    // given the finished fit — overlap (opt guide §2.6). Residuals are
    // vs the cell the vector is STORED in (the ivfPqModel deployment
    // convention), so the routing checkpoint carries each packed
    // residual too: one projection against the final model, the cell
    // lookup of centD2.
    val (sq, routed) = graft.Par.run2(
      graft.Caches.trackedCheckpoint(subRows(fit.vqp, 8))._1,
      graft.Caches.trackedCheckpoint(route(fit.vqp, fit.model.router)
        .select(col("vec_id"), col("cid"),
          zip_with(col("vqa"), routedCentroid(fit.model.router), (x, c) => x - c).as("vqa")))._1)
    val routing = routed.select("vec_id", "cid")
    val cents = fit.model.cells(spark)
    // PQ trained on residuals — same seeding/rounds as the raw scheme
    // (the serving query table is per probed cell — built below)
    val trained = pqTrain(routed, nSubs = 8, nCodes = 16)
    val (books, codes) = (trained.books(spark), trained.codes(routed))
    // query -> nProbe nearest coarse cells (exact L2, broadcast cells)
    val qrows = sq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("pos"), col("vq").as("qv"))
    val probes = coarseProbes(sq, cents, nProbe, nQueries)
    // per-(query, probed cell) residual ADC table: the query residual
    // vs THAT cell, distanced to every (subspace, code) book entry —
    // nQueries x nProbe x 128 rows
    val qres = probes.join(qrows, Seq("query_id"))
      .join(broadcast(cents), Seq("cid", "pos"))
      .select(col("query_id"), col("cid").as("cell"), col("pos"),
        expr(s"pos div $subDim").as("sub"), (col("qv") - col("cq")).as("qv"))
    val qd = qres.join(broadcast(books.withColumnRenamed("cid", "code")),
        Seq("sub", "pos"))
      .groupBy("query_id", "cell", "sub", "code")
      .agg(sum((col("qv") - col("cq")) * (col("qv") - col("cq"))).as("d2q"))
    // candidates: vectors ROUTED to a probed cell, scored with that
    // cell's table via their residual codes
    val cand = probes.join(routing, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cid").as("cell"), col("vec_id"))
    val adc = cand
      .join(codes.withColumnRenamed("cid", "code"), Seq("vec_id"))
      .join(qd, Seq("query_id", "cell", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2q")).as("adist"))
    val wA = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    val wide = adc.withColumn("rk", row_number().over(wA))
      .filter(col("rk") <= rerankN).select("query_id", "neighbor_id")
    recallReport(sq, exactRerank(sq, wide, k, nQueries), k, nQueries)
  }

  /** Generator (UDTF-analog) surface: posexplode flattens each vector
    * to (vec_id, pos, val) rows — the lateral-view shape; kept to the
    * leading positions so the output is bounded.
    */
  def embeddingLeadingDims(spark: SparkSession, dir: String, nDims: Int = 3): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .filter(col("pos") < nDims)
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"),
              round(col("col").cast("double"), 6).as("val"))
      .orderBy("vec_id", "pos")

  /** Array-function surface over the embedding vectors: max/min
    * element, slice, and the index of the max — all built-in array
    * functions (narrow, codegen where non-HOF).
    */
  def embeddingArrayStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        round(array_max(col("embedding")).cast("double"), 6).as("max_val"),
        round(array_min(col("embedding")).cast("double"), 6).as("min_val"),
        array_position(col("embedding"), array_max(col("embedding"))).as("argmax_1based"),
        size(col("embedding")).cast("bigint").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"))
      .orderBy("vec_id")

  /** Corpus with L2 norm and [[NDBands]] banded sign-LSH codes, same
    * one-pass posexplode + hash-aggregate shape as [[corpus]] (see its
    * scaladoc for why this beats the interpreted HOF path and why the
    * repartition precedes the explode).
    */
  private def corpusBanded(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val exploded = Tables.embeddings(spark, dir)
      .repartition(n, col("vec_id"))
      .select(col("vec_id"), col("embedding"), posexplode(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("pos"),
              col("col").cast("double").as("x"))
    val planeSums = (0 until NDBands * PlanesPerBand).map { p =>
      sum(col("x") * VectorFunctions.planeWeight(lit(p), col("pos")).cast("double")).as(s"p$p")
    }
    val aggs = Seq(
      first(col("embedding")).as("embedding"),
      sqrt(sum(col("x") * col("x"))).as("nrm")) ++ planeSums
    val bandCols = (0 until NDBands).map { b =>
      (0 until PlanesPerBand)
        .map(j => when(col(s"p${b * PlanesPerBand + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"band$b")
    }
    exploded.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +: col("embedding") +: col("nrm") +: bandCols: _*)
      .localCheckpoint() // eager materialization + plan truncation — see corpus()
  }

  /** Embedding near-duplicate pairs: candidates are pairs agreeing on
    * ANY of the [[NDBands]] banded LSH codes (equi-join on
    * (band, code) over the exploded band rows — both sides
    * hash-partition on the band key, no cross product), then exact
    * cosine re-checks every candidate. This is the embedding-space
    * analog of MinHash-banded text dedup.
    *
    * SCALE CONTRACT (measured, r9 probe): the band space is FIXED
    * (2 × 4096 buckets), so random collisions put a quadratic floor
    * under the candidate count — E[pairs] ≈ n²·bands·2^-12 — and the
    * amplified-corpus probe measures a ~2 scaling exponent, exactly
    * as that floor predicts. This operator is the fixed-precision
    * BASELINE of the family (the north-star brief's "LSH-bucketed
    * variant" next to brute force); the measured-at-scale paths are
    * [[semanticDedup]] (√n-derived cells, exponent 1.24 ≤ its Θ(n^1.5)
    * bound) and the IVF family (exponent ≤ 0.4 at probe range).
    * Production operation of THIS shape scales PlanesPerBand with
    * log₂(n) to hold occupancy constant (and band count with the
    * recall target) — a parameterization, not a plan change; the
    * oracle pins the 12-bit operating point.
    */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.35): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpusBanded(spark, dir)
    val bandRecs = array((0 until NDBands).map(b =>
      struct(lit(b).as("band"), col(s"band$b").as("bh"))): _*)
    val br = c.select(col("vec_id"), explode(bandRecs).as("rec"))
      .select(col("vec_id"), col("rec.band").as("band"), col("rec.bh").as("bh"))
    val pairs = br.as("a")
      .join(br.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct() // a pair can collide in both bands — score it once
    pairs
      .join(c.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a")), "vec_a")
      .join(c.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(dotN(col("emb_a"), col("emb_b")) /
              (col("nrm_a") * col("nrm_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Per-dimension embedding statistics — the feature-drift /
    * dead-dimension audit an embedding pipeline runs before trusting a
    * new encoder drop (a collapsed dimension has ~zero variance; a
    * shifted one moves its mean). Values quantize to exact integer
    * MICRO-units (the semantic-dedup convention), so mean and variance
    * are integer sums with one double division each — engine-exact.
    * Both Σm and Σm² accumulate as decimal(38,0) (matching DuckDB's
    * silent SUM(BIGINT)→HUGEINT promotion), so the exact-integer
    * variance form n·Σm² - (Σm)² holds to ~1e12 rows per dimension at
    * |m| ≤ 1e6 (n·Σm² ≈ 1e36 < 1e38); past that, switch to Welford
    * moments (documented trade, same plan shape).
    *
    * Scale shape: one narrow posexplode (rows × dims) then a 64-group
    * hash aggregate with map-side partials.
    */
  def embDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos").cast("bigint").as("pos"),
        round(col("v").cast("double") * 1000000).cast("bigint").as("m"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
           sum(col("m").cast("decimal(38,0)")).as("s1"),
           sum((col("m") * col("m")).cast("decimal(38,0)")).as("s2"),
           min(col("m")).as("mn"),
           max(col("m")).as("mx"))
      .select(col("pos"), col("n"),
        round(col("s1").cast("double") / (col("n") * lit(1000000.0)), 6).as("mean_v"),
        round(sqrt((col("n").cast("decimal(18,0)") * col("s2") -
                    col("s1") * col("s1")).cast("double") /
                   (col("n") * (col("n") - 1))) / 1000000.0, 6).as("std_v"),
        round(col("mn") / lit(1000000.0), 6).as("min_v"),
        round(col("mx") / lit(1000000.0), 6).as("max_v"))
      .orderBy("pos")

  /** Linear-kernel MMD^2 between label populations (Gretton et al.
    * 2012): `MMD^2 = ||mu_a - mu_b||^2` over the embedding means —
    * the distribution-shift distance a training pipeline watches
    * between data slices (here: labels; sources/shards at
    * production). Per-(label, dim) micro-unit sums are exact BIGINTs
    * (the [[embDimStats]] convention); each dimension's squared mean
    * gap is computed in one fixed double expression, nano-unit
    * rounded, and integer-summed over the 64 dims — engine-exact, no
    * pair of VECTORS is ever joined (the ||.||^2 collapse makes the
    * O(na*nb) kernel sum a function of the two mean vectors).
    *
    * Scale shape: one (label, pos) aggregate (labels x dims rows),
    * a broadcast self-join on pos over that bounded table, a pair
    * rollup. Corpus size only enters through the sums.
    */
  def embMmd(spark: SparkSession, dir: String): DataFrame = {
    val sums = Tables.embeddings(spark, dir)
      .select(col("label").cast("bigint").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        round(col("v").cast("double") * 1000000).cast("bigint").as("vq"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum(col("vq")).as("s"))
      .localCheckpoint() // consumers: both pair sides
    val a = sums.select(col("label").as("label_a"), col("pos"),
      col("n").as("na"), col("s").as("sa"))
    val b = sums.select(col("label").as("label_b"), col("pos").as("pos_b"),
      col("n").as("nb"), col("s").as("sb"))
    a.join(broadcast(b), col("pos") === col("pos_b") && col("label_a") < col("label_b"))
      .drop("pos_b")
      .withColumn("diff",
        col("sa").cast("double") / (col("na").cast("double") * 1e6) -
        col("sb").cast("double") / (col("nb").cast("double") * 1e6))
      .withColumn("t_u", round(col("diff") * col("diff") * 1e9).cast("bigint"))
      .groupBy("label_a", "label_b")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
           sum(col("t_u")).as("mmd_u"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("mmd_u").cast("double") / 1e9, 6).as("mmd_sq"))
      .orderBy("label_a", "label_b")
  }

  /** Pairwise cosine between per-label centroid vectors — the
    * label-confusability screen run after [[labelCentroids]] (two
    * labels whose centroids nearly coincide will not separate under
    * any cosine retrieval). Centroid coordinates are the integer-
    * micro-unit means ROUNDED to 6 and locked into DECIMAL(12,6), so
    * the per-pair dot products and squared norms are EXACT decimal
    * sums over the labels × dims grid (both label count and dims are
    * bounded); the cosine is one double expression of VARCHAR-bridged
    * decimal exits. Zero-norm centroids drop on both engines.
    */
  def centroidSim(spark: SparkSession, dir: String, nDims: Int = 8): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cent = Tables.embeddings(spark, dir)
      .repartition(n, col("vec_id"))
      .select(col("label").cast("bigint").as("label"), posexplode(col("embedding")))
      .filter(col("pos") < nDims)
      .select(col("label"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("micro"))
      .groupBy("label", "pos")
      .agg(round(sum(col("micro")).cast("double") /
        (count(lit(1)) * 1e6), 6).cast("decimal(12,6)").as("m6"))
      .localCheckpoint() // bounded: labels x dims
    val norms = cent.groupBy("label")
      .agg(sum(col("m6") * col("m6")).as("q")) // exact decimal(·,12) sum
      .filter(col("q") > 0)
    val a = cent.select(col("label").as("label_a"), col("pos"), col("m6").as("a6"))
    val b = cent.select(col("label").as("label_b"), col("pos"), col("m6").as("b6"))
    val dots = a.join(b, Seq("pos")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("a6") * col("b6")).as("dot")) // exact decimal sum
    val bridge = (c: Column) => c.cast("string").cast("double")
    dots
      .join(broadcast(norms.select(col("label").as("label_a"), col("q").as("qa"))),
        "label_a")
      .join(broadcast(norms.select(col("label").as("label_b"), col("q").as("qb"))),
        "label_b")
      .select(col("label_a"), col("label_b"),
        round(bridge(col("dot")) / (sqrt(bridge(col("qa"))) * sqrt(bridge(col("qb")))), 6)
          .as("centroid_cos"))
      .orderBy("label_a", "label_b")
  }

  /** Corpus anisotropy: the exact average pairwise cosine between all
    * unit-normalized embeddings — the Ethayarajh/Mu-Viswanath
    * "embeddings cluster in a cone" diagnostic an encoder drop is
    * screened with (isotropic ≈ 0; a high value says one dominant
    * direction carries everything, so cosine similarity loses
    * contrast). The O(n²) pair sum collapses algebraically to
    * ‖Σu‖² − Σ‖u‖² over per-DIMENSION sums: each u component is the
    * per-row IEEE divide rounded to 12 and locked into decimal, so
    * both the dimension sums and the squared-norm total are EXACT
    * decimal arithmetic; the only cross-engine float ops left are 64
    * squares of already-agreed doubles, themselves round-6-locked
    * before the final 64-term sum (exact again). Zero-norm vectors
    * drop on both engines.
    *
    * Scale shape: one narrow posexplode then a 64-group hash
    * aggregate (map-side partials carry the mass) and a 64-row final
    * fold — no pair join ever materializes at any corpus size.
    */
  def embAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val dims = Tables.embeddings(spark, dir)
      .withColumn("nrm", nrm)
      .filter(col("nrm") > 0)
      .select(col("nrm"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"),
        round(col("v").cast("double") / col("nrm"), 12)
          .cast("decimal(16,12)").as("u"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("u")).as("s"),
           sum(col("u") * col("u")).as("qq"))
    // every decimal exits through the VARCHAR bridge (the x_cmf
    // discipline): decimal->string is exact and string->double parses
    // correctly-rounded in both engines, where a direct decimal->double
    // cast can differ by an ulp
    val sD = col("s").cast("string").cast("double")
    dims
      .agg(max(col("n")).as("n_vectors"),
           sum(round(sD * sD, 6).cast("decimal(28,6)")).as("s2"),
           sum(col("qq")).as("q"))
      .select(col("n_vectors"),
        round((col("s2").cast("string").cast("double") -
               col("q").cast("string").cast("double")) /
              (col("n_vectors").cast("double") *
               (col("n_vectors").cast("double") - lit(1.0))), 6)
          .as("avg_pair_cos"))
  }

  /** Micro-unit NDCG position weights, 1e6/log2(pos+1) for pos 1..k —
    * computed ONCE here and embedded as literals in BOTH engines (the
    * published DCG discount, frozen to integers so no engine ever
    * evaluates a transcendental in the hot comparison).
    *
    * Memoized `val` + `StrictMath` (the r13 aaWeights discipline):
    * `math.log`/`math.pow` are JIT intrinsics whose compiled form may
    * differ from the interpreted path by 1 ulp, so a per-call `def`
    * risks the oracle-literal and Spark-side evaluations disagreeing.
    * rint cushions integers against 1 ulp almost everywhere, but a
    * single evaluation of a bit-reproducible function removes the
    * class entirely. */
  private[graft] val ndcgWeightsUAll: Seq[Long] =
    (1 to 64).map(p => math.rint(
      1e6 / (StrictMath.log(p + 1.0) / StrictMath.log(2.0))).toLong)

  private[graft] def ndcgWeightsU(k: Int): Seq[Long] = {
    require(k <= 64, s"ndcgWeightsU frozen table caps at 64, got $k")
    ndcgWeightsUAll.take(k)
  }

  /** Micro-unit RBO rank weights p^(d-1) (p = 9/10) for d = 1..k —
    * the [[ndcgWeightsU]] frozen-literal discipline applied to
    * Webber's persistence parameter (same memoized-StrictMath move). */
  private[graft] val rboWeightsUAll: Seq[Long] =
    (1 to 64).map(d => math.rint(1e6 * StrictMath.pow(0.9, d - 1)).toLong)

  private[graft] def rboWeightsU(k: Int): Seq[Long] = {
    require(k <= 64, s"rboWeightsU frozen table caps at 64, got $k")
    rboWeightsUAll.take(k)
  }

  /** Per-depth RBO contribution of a shared neighbor FIRST co-present
    * at depth m: `C(m) = Σ_{d=m..k} w_d · (60/d)` — 60 = lcm(1..5)
    * multiplies the 1/d agreement denominators away, so every term is
    * an exact integer; the final ratio divides by `60 · Σ w_d` once.
    */
  private[graft] def rboContribU(k: Int): Seq[(Int, Long)] = {
    val w = rboWeightsU(k)
    (1 to k).map(m => (m, (m to k).map(d => w(d - 1) * (60L / d)).sum))
  }

  /** Truncated rank-biased overlap (Webber, Moffat & Zobel 2010,
    * RBO@k) between the IVF shortlist and brute-force truth — the
    * third member of the serving-quality triad: recall counts set
    * overlap, NDCG grades the order of what was returned, RBO grades
    * TOP-WEIGHTED agreement between the two rankings themselves
    * (disagreement at rank 1 costs more than at rank k, controlled by
    * the persistence p = 0.9).
    *
    * Exactness: a shared neighbor at ranks (rk, pos) contributes to
    * every depth d ≥ max(rk, pos), so RBO@k collapses to ONE
    * inner join + a frozen integer lookup C(max(rk, pos))
    * ([[rboContribU]] — weights and agreement denominators both
    * pre-multiplied into exact BIGINT literals shared by both
    * engines), one sum, one final divide.
    *
    * Scale shape: both rankings are (nQueries × k)-bounded
    * shortlists; the eval join and aggregate never touch corpus rows
    * beyond the shared checkpointed corpus the two rankers read.
    */
  def knnIvfRbo(spark: SparkSession, dir: String,
                k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    val brute = knnBruteFrom(c, k, nQueries).localCheckpoint()
    val approx = knnIvfFrom(c, k, nQueries, nCells = 16, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rk").as("pos"))
    val mCol = greatest(col("rk"), col("pos"))
    val cCol = rboContribU(k).foldLeft(lit(0L)) { case (acc, (m, cm)) =>
      when(mCol === m, lit(cm)).otherwise(acc) }
    val den = 60L * rboWeightsU(k).sum
    val num = brute.join(approx, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), cCol.as("c_u"))
      .groupBy("query_id").agg(sum(col("c_u")).as("num_u"))
    brute.select("query_id").distinct()
      .join(num, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("num_u"), lit(0L)).cast("double") /
              lit(den.toDouble), 6).as("rbo"))
      .orderBy("query_id")
  }

  /** Ranking-quality audit of the IVF shortlist beyond recall:
    * NDCG@k and reciprocal rank per query against brute-force truth.
    * Recall counts set overlap; NDCG grades the ORDER the serving
    * tier actually returns — graded relevance = k+1-brute_rank, DCG
    * discount = the frozen [[ndcgWeightsU]] integer weights, so
    * DCG/IDCG is a ratio of exact BIGINT sums. The reciprocal rank of
    * brute #1 in the approximate ranking is one divide of exact
    * integers. Missing neighbors contribute 0 on both engines.
    *
    * Same plan shape as [[knnIvfRecall]]: one checkpointed corpus
    * feeds both paths, candidate generation is a cell-probe lookup, the
    * eval joins run on (nQueries x k)-bounded shortlists.
    */
  /** Micro-unit RRF rank weights `round(1e12 / (60 + rank))` for rank
    * 1..k — Cormack, Clarke & Buettcher 2009's reciprocal-rank-fusion
    * constant k=60, frozen to BIGINT literals shared by both engines
    * (the [[ndcgWeightsU]] memoized-frozen-literal discipline; plain
    * IEEE division is bit-reproducible, so no StrictMath needed, but
    * the single-evaluation `val` still removes the JIT-vs-interpreter
    * class entirely).
    */
  private[graft] val rrfWeightsUAll: Seq[Long] =
    (1 to 64).map(r => math.rint(1e12 / (60.0 + r)).toLong)

  private[graft] def rrfWeightsU(k: Int): Seq[Long] = {
    require(k <= 64, s"rrfWeightsU frozen table caps at 64, got $k")
    rrfWeightsUAll.take(k)
  }

  /** Reciprocal rank fusion (Cormack, Clarke & Buettcher 2009) over
    * three equal-cost, DECORRELATED candidate generators — IVF
    * retrievers whose coarse quantizers use disjoint centroid seed
    * ranges — plus the recall audit that justifies fusion: each
    * retriever's mean recall vs brute-force truth NEXT TO the fused
    * list's, in one table. RRF is the standard multi-retriever serving
    * op (a candidate's fused score is the sum of `1/(60+rank)` over
    * the lists that returned it), completing the serving triad next to
    * NDCG/RBO (grade one ranking) and MMR (re-rank one list).
    *
    * Retriever-set choice is MEASURED, not assumed (the knnJlSweep
    * ethos): on this corpus sign-LSH retrieves at 0.06 recall (the
    * documented near-orthogonal worst case) and a low-recall list
    * POISONS RRF — its wrong rank-1 single vote (1e12/61) outranks a
    * true rank-5 single vote (1e12/65), so fusing {lsh, ivf, int8}
    * measured fused=ivf exactly (0.92 vs int8's 0.98 at sf0.01): the
    * fusion never beat its best input. int8 is excluded for the
    * opposite reason — it is a full-scan scorer (≈ truth, 0.98), not
    * a pruned candidate generator, so fusing it answers nothing. The
    * production question fusion exists for is "do k cheap decorrelated
    * candidate generators fused substitute a scan?" — and with three
    * same-cost IVF paths over disjoint coarse quantizers the measured
    * answer is yes: sf0.01 recalls 0.20/0.32/0.20 fuse to 0.42 (1.3×
    * the best input, 2.1× the weakest); sf0.001 0.28/0.30/0.24 → 0.58.
    * Seed ranges start at nCells (not 0) so no retriever's centroid
    * set contains the query vectors themselves — centroid-queries
    * route their own neighborhoods into probed cells and inflate that
    * one retriever's recall (measured 0.92 vs 0.20-0.32), breaking the
    * equal-cost comparison.
    *
    * Exactness: fused scores are sums of the frozen [[rrfWeightsU]]
    * BIGINT micro-units (the x_ndcg/x_link_predict discipline — zero
    * new numeric risk); fused ranking breaks ties on neighbor_id; the
    * only double is the final round-6 recall ratio of exact counts.
    *
    * Scale shape: the three retrievers share ONE checkpointed corpus
    * (each a literal-model cell assign + literal probe-map lookup, the
    * knnIvf shape); fusion and the recall joins run on (retrievers × nQueries
    * × k)-bounded shortlists — never corpus-sized. The one crossJoin
    * broadcasts a 1-row count aggregate (the documented pattern).
    */
  def rrfFusion(spark: SparkSession, dir: String,
                k: Int = 5, nQueries: Int = 10,
                nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    graft.functions.DotProduct.register(spark)
    import spark.implicits._
    val c = corpus(spark, dir)
    def cents(lo: Int): DataFrame = c
      .filter(col("vec_id") >= lo && col("vec_id") < lo + nCells)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val lists = Seq(
      "ivf_a" -> ivfFrom(c, cents(nCells), k, nQueries, nProbe),
      "ivf_b" -> ivfFrom(c, cents(2 * nCells), k, nQueries, nProbe),
      "ivf_c" -> ivfFrom(c, cents(3 * nCells), k, nQueries, nProbe))
    val w = rrfWeightsU(k)
    val wCol = w.zipWithIndex.foldLeft(lit(0L)) { case (acc, (wu, i)) =>
      when(col("rk") === (i + 1).toLong, lit(wu)).otherwise(acc) }
    // 3 × nQueries × k rows; checkpoint so the three retriever plans
    // run once and feed both the fusion and the per-retriever audit.
    // Brute truth and the retriever shortlists are INDEPENDENT given
    // the shared corpus checkpoint — overlap them (opt guide §2.6).
    val (brute, ranked) = graft.Par.run2(
      knnBruteFrom(c, k, nQueries).localCheckpoint(),
      lists.map { case (name, df) =>
        df.select(lit(name).as("retriever"), col("query_id"),
          col("neighbor_id"), wCol.as("w_u"))
      }.reduce(_ unionByName _).localCheckpoint())
    val fw = Window.partitionBy("query_id")
      .orderBy(col("rrf_u").desc, col("neighbor_id"))
    val fused = ranked.groupBy("query_id", "neighbor_id")
      .agg(sum(col("w_u")).as("rrf_u"))
      .withColumn("frk", row_number().over(fw))
      .filter(col("frk") <= k)
      .select(lit("rrf_fused").as("retriever"), col("query_id"),
        col("neighbor_id"))
    val all = ranked.select("retriever", "query_id", "neighbor_id")
      .unionByName(fused)
    val truth = brute.select("query_id", "neighbor_id")
    val hits = all.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("retriever").agg(count(lit(1)).as("n_hits"))
    val denom = truth.agg(count(lit(1)).as("n_truth"))
    val names = (lists.map(_._1) :+ "rrf_fused").toDF("retriever")
    names.crossJoin(broadcast(denom))
      .join(hits, Seq("retriever"), "left")
      .select(col("retriever"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_truth"), 6).as("recall"))
      .orderBy("retriever")
  }

  def knnIvfNdcg(spark: SparkSession, dir: String,
                 k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(spark)
    val c = corpus(spark, dir)
    // truth and approx shortlists are independent given the shared
    // corpus checkpoint — overlap (opt guide §2.6)
    val (brute, approx) = graft.Par.run2(
      knnBruteFrom(c, k, nQueries).localCheckpoint(),
      knnIvfFrom(c, k, nQueries, nCells = 16, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rk").as("pos"))
        .localCheckpoint())
    val w = ndcgWeightsU(k)
    val wCol = w.zipWithIndex.foldLeft(lit(0L)) { case (acc, (wu, i)) =>
      when(col("pos") === (i + 1), lit(wu)).otherwise(acc) }
    val idcgU = w.zipWithIndex.map { case (wu, i) => (k - i).toLong * wu }.sum
    val rel = brute.select(col("query_id"), col("neighbor_id"),
      (lit((k + 1).toLong) - col("rk")).as("rel"))
    val dcg = approx
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .withColumn("term_u", coalesce(col("rel"), lit(0L)) * wCol)
      .groupBy("query_id").agg(sum(col("term_u")).as("dcg_u"))
    val rr = brute.filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        when(col("pos").isNotNull,
          round(lit(1e6) / col("pos").cast("double")).cast("bigint"))
          .otherwise(lit(0L)).as("rr_u"))
    brute.select("query_id").distinct()
      .join(dcg, Seq("query_id"), "left")
      .join(rr, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("dcg_u"), lit(0L)).cast("double") /
              lit(idcgU.toDouble), 6).as("ndcg"),
        round(coalesce(col("rr_u"), lit(0L)).cast("double") / 1e6, 6)
          .as("reciprocal_rank"))
      .orderBy("query_id")
  }
}

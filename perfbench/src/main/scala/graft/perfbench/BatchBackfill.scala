package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Tables}
import graft.operators.{Dedup, Finance, RefPipeline, Similarity}

/** Seeded `events` table for the batch backfill path, generated in
  * parallel from counter-based hashes of (seed, row, salt) so the same
  * seed always yields the same table:
  *
  *  - `event_id` 0..n-1 in `ts` order over `days` days from 2024-01-01
  *    (TIMESTAMP_NTZ, microseconds);
  *  - `user_id` skewed over `users` keys (`u*u` ranks, hashed with the
  *    seed to key ids);
  *  - `event_type` view / click / signup / purchase / error in equal
  *    shares, so every `normalizeUnion` source slice is present;
  *  - `value`: per-user mean in [95, 106] plus bounded noise (a sum of
  *    four uniforms; no transcendental functions anywhere, so the table
  *    is bit-identical on every JVM), 2 decimals; 1% null,
  *    1% zero and 0.5% negative for `clean`;
  *  - `props` `{"k": v}` with v in 0..100; 1% without `k` (null volume)
  *    and 0.5% with a negative `k` (clamped by `clean`).
  */
object EventsGen {
  private def u(seed: Long, salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(1L << 31)).cast("double") / (1L << 31).toDouble

  def events(spark: SparkSession, seed: Long, n: Long, users: Int,
             days: Int, files: Int): DataFrame = {
    val id = col("id")
    val stepUs = days.toLong * 86400L * 1000000L / n
    val startUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    val rank = floor(u(seed, 1, id) * u(seed, 1, id) * users).cast("long")
    val user = pmod(xxhash64(lit(seed), rank, lit(2)), lit(users.toLong))
    val userMean = lit(95.0) + lit(11.0) * u(seed, 3, user)
    val noise = (u(seed, 4, id) + u(seed, 5, id) + u(seed, 6, id) + u(seed, 7, id) - 2.0) * 6.0
    val v = u(seed, 8, id)
    val value = when(v < 0.01, lit(null).cast("double"))
      .when(v < 0.02, lit(0.0))
      .when(v < 0.025, -round(lit(1.0) + u(seed, 9, id) * 99.0, 2))
      .otherwise(round(userMean + noise, 2))
    val k = u(seed, 10, id)
    val props = when(k < 0.01, lit("{\"x\": 1}"))
      .when(k < 0.015, concat(lit("{\"k\": -"), (floor(u(seed, 11, id) * 50) + 1).cast("long").cast("string"), lit("}")))
      .otherwise(concat(lit("{\"k\": "), floor(u(seed, 11, id) * 101).cast("long").cast("string"), lit("}")))
    val types = array(lit("view"), lit("click"), lit("signup"), lit("purchase"), lit("error"))
    spark.range(0, n, 1, files).select(
      id.as("event_id"),
      timestamp_micros(lit(startUs) + id * stepUs + floor(u(seed, 12, id) * stepUs).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      user.as("user_id"),
      element_at(types, (floor(u(seed, 13, id) * 5) + 1).cast("int")).as("event_type"),
      value.as("value"),
      props.as("props"))
  }

  def write(spark: SparkSession, a: Args, dir: String, n: Long): Unit =
    events(spark, a.seed, n, a.int("users"), a.int("days"),
      a.int("files")).write.mode("overwrite").parquet(s"$dir/events.parquet")
}

/** batch-backfill: the batch paths, which bypass streaming state and
  * sinks. Per iteration, each query executed in full by a no-op write:
  *  - tick-history replay over a seeded `events` table:
  *    `RefPipeline.pipeline`, `Finance.ohlcBars` (scan, JSON and cast
  *    normalization, shuffle, window sort);
  *  - corpus curation over a seeded re-keyed corpus: `Dedup.exactDedup`,
  *    `Similarity.semanticDedup`, `Similarity.knnIvf` (hashing and
  *    dot-product kernels, checkpoints, many small jobs), then
  *    `Caches.releaseAll`.
  * (`Dedup.dedupSurvivorsUnified` is left out: one cold pass plus its
  * DuckDB oracle costs about a minute, more than a run can spend.
  * `Finance.vwap` is left out until it rounds exact half-way ties the
  * way its `x_vwap` oracle does; see perfbench/README.md.)
  */
object BatchBackfill extends Workload {
  private def ticks(a: Args) = s"${a.work}/ticks"
  private def corpus(a: Args) = s"${a.work}/corpus"
  private def events(a: Args): Long = a.int("events").toLong
  @volatile private var corpusRows = 0L

  private val queries: Seq[(String, (SparkSession, Args) => DataFrame)] = Seq(
    "operators.pipeline" -> ((s, a) => RefPipeline.pipeline(s, ticks(a))),
    "operators.ohlc" -> ((s, a) => Finance.ohlcBars(s, ticks(a))),
    "operators.exact_dedup" -> ((s, a) => Dedup.exactDedup(s, corpus(a))),
    "operators.semantic_dedup" -> ((s, a) => Similarity.semanticDedup(s, corpus(a))),
    "operators.knn" -> ((s, a) => Similarity.knnIvf(s, corpus(a))))

  /** Generate both inputs and read them back once; the queries warm up in
    * the correctness pass that precedes measurement. */
  def setup(spark: SparkSession, a: Args): Unit = {
    EventsGen.write(spark, a, ticks(a), events(a))
    require(Tables.events(spark, ticks(a)).count() == events(a))
    corpusRows = CorpusGen.write(spark, a, corpus(a), a.int("docs"), a.int("embs"))
    require(Tables.documents(spark, corpus(a)).count() +
      Tables.embeddings(spark, corpus(a)).count() == corpusRows)
  }

  private def persistedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def measure(c: Ctx): Map[String, Any] = {
    val blocks = mutable.ArrayBuffer.empty[Long]
    val release = mutable.ArrayBuffer.empty[Double]
    val r = Iterations.run(c, events(c.args) + corpusRows, "batch") { run =>
      val timed = queries.map { case (name, q) =>
        val (ok, ms) = Clock.timed(c.trace.span(name, run)(c.ops.action(Session.noop(q(c.spark, c.args)))))
        (name, ms, ok.isDefined)
      }
      blocks += persistedBytes(c.spark)
      release += Clock.timed(c.trace.span("caches.release_all", run)(
        c.ops.action(Caches.releaseAll(c.spark))))._2
      timed
    }
    r ++ Map("blocks_b" -> blocks.toSeq, "release_ms" -> release.toSeq)
  }

  /** Cumulative pipeline prefixes (scan, +normalize, +clean, +sma,
    * +alerts): a stage's self time is its prefix minus the previous one. */
  override def probe(c: Ctx): Map[String, Any] = {
    val d = ticks(c.args)
    val s = c.spark
    def normalized = RefPipeline.normalizeUnion(s, d)
    def cleaned = RefPipeline.clean(normalized)
    def sma = RefPipeline.movingAverage(cleaned, 5)
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "sources.scan" -> (() => Tables.events(s, d)),
      "sources.normalize" -> (() => normalized),
      "operators.clean_prefix" -> (() => cleaned),
      "operators.sma_prefix" -> (() => sma),
      "operators.alerts_prefix" -> (() => RefPipeline.alerts(sma, 108.0)))
    val out = mutable.LinkedHashMap.empty[String, Seq[Double]]
    for (r <- 1 to c.args.int("probe_reps"); (name, df) <- prefixes) {
      val (_, ms) = Clock.timed(c.trace.span(name, s"probe-$r")(c.ops.action(Session.noop(df()))))
      out(name) = out.getOrElse(name, Seq.empty) :+ ms
    }
    Map("prefix_ms" -> out)
  }

  override def check(c: Ctx): Unit = {
    val (d, k, s) = (ticks(c.args), corpus(c.args), c.spark)
    Oracle.dump(c, Seq(
      "ref_pipeline" -> (() => RefPipeline.pipeline(s, d).orderBy("id")),
      "x_ohlc_bars" -> (() => Finance.ohlcBars(s, d)),
      "x_dedup_exact" -> (() => Dedup.exactDedup(s, k)),
      "x_semantic_dedup" -> (() => Similarity.semanticDedup(s, k)),
      "x_knn_ivf" -> (() => Similarity.knnIvf(s, k))),
      tables = Map("events" -> s"$d/events.parquet", "documents" -> s"$k/documents.parquet",
        "embeddings" -> s"$k/embeddings.parquet"))
    Caches.releaseAll(s)
  }
}

/** The repeated-iteration loop shared by the batch workloads. */
object Iterations {
  /** Run `iteration` for about `seconds`: at least once, and another one
    * while less than `seconds` have passed, so an iteration time between
    * a half and the whole of `seconds` always gives two iterations. Each
    * iteration returns (action name, ms, ok) per query action. */
  def run(c: Ctx, rows: Long, prefix: String)(
      iteration: String => Seq[(String, Double, Boolean)]): Map[String, Any] = {
    // untimed warm-up iterations before the first pass: the JIT is still
    // compiling after the correctness pass
    val warm = if (c.trace.enabled || c.throughputOnly) 0 else c.args.int("warm_iters")
    (1 to warm).foreach(w => iteration(s"$prefix-warm-$w"))
    val before = c.stats.snapshot()
    c.stats.resetPeak()
    val t0 = Clock.ms()
    val budget = c.args.seconds * 1000
    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (i < 1 || Clock.ms() - t0 < budget) {
      val run = s"$prefix-$i"
      val (actions, ms) = Clock.timed(c.trace.span(s"$prefix.iteration", run)(iteration(run)))
      iters += Map("ms" -> ms, "rows" -> rows,
        "actions" -> actions.map { case (n, m, ok) => Map("name" -> n, "ms" -> m, "ok" -> ok) })
      i += 1
    }
    val wallMs = Clock.ms() - t0
    c.stats.sync(c.spark)
    Map("iterations" -> iters.toSeq, "spark" -> c.stats.window(before, wallMs, c.args.cores))
  }
}

/** Untimed oracle outputs: each query's result as parquet plus its
  * `SparkEntry.oracleSql` text and the input tables it reads, for the
  * DuckDB comparison in `perfbench/oracle.py`. */
object Oracle {
  def dump(c: Ctx, outputs: Seq[(String, () => DataFrame)], tables: Map[String, String]): Unit = {
    val base = s"${c.args.out}/oracle"
    val written = outputs.flatMap { case (name, df) =>
      c.ops.action(df().write.mode("overwrite").parquet(s"$base/$name")).map(_ => name)
    }
    Json.write(s"$base.json", Map(
      "tables" -> tables,
      "queries" -> written.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
  }
}

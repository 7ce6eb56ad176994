package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static contract checks on the driver interface — a typo'd oracle
  * key silently downgrades a query to the weaker rows-only check, so
  * the map invariants are pinned here where they fail loudly.
  */
class SparkEntrySpec extends AnyFunSuite {

  /** Queries allowed to ship without a DuckDB oracle. NONE from r8
    * through r11 (the engine-specific sketches are checked as exact
    * values plus verified accuracy-guarantee booleans). r12 admits
    * exactly one: the production-vocabulary BPE demo — a 1024-merge
    * greedy unroll is not CTE-expressible, and its trainer semantics
    * are pinned by the 8-merge oracles (x_bpe_train/x_bpe_batched)
    * plus BpeSpec's n_merges==1024 / fertility>1 assertions.
    */
  private val rowsOnlyByDesign = Set("x_bpe_1k")

  test("every oracle key names a registered query (no orphaned oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("every query has an oracle, except the documented rows-only sketches") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == rowsOnlyByDesign,
      s"queries silently downgraded to rows-only: ${missing -- rowsOnlyByDesign}; " +
      s"sketches unexpectedly gaining oracles: ${rowsOnlyByDesign -- missing}")
  }

  test("oracle SQL carries no tz-converting timestamp constructors") {
    // to_timestamp returns TIMESTAMPTZ in DuckDB and casting it
    // converts through the HOST session TimeZone — an oracle using it
    // false-fails the gate on any non-UTC box (found live on
    // x_hopping_window; naive epoch interval arithmetic is the
    // replacement)
    val offenders = SparkEntry.oracleSql.collect {
      case (k, sql) if sql.toLowerCase.contains("to_timestamp") => k
    }
    assert(offenders.isEmpty, s"tz-dependent oracle SQL in: $offenders")
  }

  /** DuckDB widens integer SUMs to HUGEINT (Arrow decimal128(38,0))
    * while Spark emits BIGINT, so any uncast SUM that reaches an
    * oracle's output schema fails the driver's TYPED hash even when
    * the values match — exactly how r5 shipped `x_variant` and
    * `x_vocab_coverage` red. A SUM is "naked" unless its result is
    * immediately cast (`SUM(...)::T` or `CAST(SUM(...) AS T)`).
    * Naked SUMs are allowed only where audited not to escape to the
    * output uncast, and the per-query count is pinned here: adding a
    * new naked SUM (or removing an audited one) fails this test and
    * forces re-auditing the escape path.
    */
  private val auditedNakedSums: Map[String, Int] = Map(
    // kmeansCtes: 2× `SUM((vq-cq)^2) AS d2` — consumed only by
    // ROW_NUMBER ORDER BY, never projected
    "x_kmeans"            -> 2,
    "x_knn_ivf_trained"   -> 2,
    "x_ivf_probe_sweep"   -> 2,
    "x_ivf_trained_recall"-> 2,
    // kmeansCtes + one more ORDER BY-only d2 in the body
    "x_cluster_quality"   -> 3,
    // SUM(DECIMAL) (not HUGEINT) escaping through the VARCHAR bridge
    "x_join_left_outer"   -> 1,
    "x_scalar_subquery"   -> 1,
    // r10 TPC-H wave: CTE SUM(DECIMAL)s consumed only through the
    // VARCHAR bridge (promo/market-share ratios, Q10 revenue cut,
    // Q15 max-equality on exact decimals)
    "x_promo_share"       -> 2,
    "x_returned_customers"-> 1,
    "x_top_supplier"      -> 1,
    "x_market_share"      -> 2,
    // r10 indicator wave: per-supplier SUM(DECIMAL) consumed only
    // through the VARCHAR bridge (HHI shares)
    "x_hhi"               -> 1,
    // HITS unrolled rounds: ROUND(SUM(double), 12) per stage — double
    // sums quantized per round (the pageRank discipline), never
    // HUGEINT, never projected raw
    "x_hits"              -> 5,
    // window-SUM session counter, escapes via CAST(session_idx AS BIGINT)
    "x_sessionize"        -> 1,
    // window-SUM island counter — GROUP BY key only, never projected
    "x_substring_dedup"   -> 1,
    "x_substring_strip"   -> 1,
    // 4 sweep points x (island counter [GROUP BY-only] +
    // CAST(COALESCE(SUM(..)) AS BIGINT) — cast outside the coalesce,
    // so the scanner misses it, but nothing escapes uncast)
    "x_substring_sweep"   -> 8,
    // totals consumed only as ::DOUBLE division denominators
    "x_repetition"        -> 2,
    "x_heavy_hitters"     -> 1,
    "x_epoch_mix"         -> 1,
    "x_lang_confusion"    -> 1,
    // window-SUM share denominator, consumed only as ::DOUBLE (the
    // x_lang_confusion class)
    "x_langid_ngram"      -> 1,
    "x_langid_holdout"    -> 1,
    // window sums: escape via MAX(total)::BIGINT / ratio / comparison
    "x_vocab_coverage"    -> 2,
    // PQ distances (assignment d2 x3 — two Lloyd rounds + encoding,
    // query table d2q, ADC adist, brute d2 [, rerank rd2]) — all
    // consumed only by ROW_NUMBER ORDER BY or an inner re-sum; the
    // output carries only COUNT hits and a rounded ratio
    "x_pq_recall"         -> 6,
    "x_pq_rerank"         -> 7,
    // cum_av window SUM consumed only via `// 500` bucketing (integer
    // volumes, HUGEINT-safe), and the SUM(vol) vpin denominator whose
    // numerator is already ::DOUBLE — both audited safe (r12 verdict)
    "x_vpin"              -> 2,
    // kmeansCtes (2) + routeCte + PQ chain (pa1, pa2, pcodes, pqd) +
    // cell ranking, ADC re-sum, rerank, brute — all ORDER BY-only
    "x_ivfpq"             -> 11,
    // kmeansCtes (2) + routeCte + residual PQ chain (ra1, ra2,
    // rcodes) + cell ranking cd2, per-cell query table d2q, ADC
    // re-sum, rerank, brute — all ORDER BY-only
    "x_ivfpq_residual"    -> 11,
    // kmeansCtes (2) + routeCte + centrality cent_d2
    // (row-comparison-only) + pair distance d2 (threshold-filter-
    // only); outputs are COUNTs
    "x_semantic_dedup"    -> 5,
    // kmeansCtes (2) + routeCte (ORDER BY-only) + one SUM(n) consumed
    // only as the ::DOUBLE purity denominator
    "x_cluster_purity"    -> 4,
    // the DECIMAL nll sum `sn` is consumed only as sn::DOUBLE in the
    // avg_nll projection — never escapes as a DECIMAL output column
    "x_bigram_ppl"        -> 1,
    "x_ppl_holdout"       -> 1,
    // the DECIMAL c·ln(c) sum `sc` is consumed only as sc::DOUBLE in
    // the entropy projection
    "x_char_entropy"      -> 1,
    // zipf OLS: sx/sy/sxy/sxx are DECIMAL(18,6) sums consumed only
    // inside the slope's ::DOUBLE-cast numerator/denominator — the
    // projected columns are r_used (COUNT) and the rounded slope
    "x_zipf"              -> 4,
    // PMI totals n_uni/n_big are consumed only as factors of the
    // ::DOUBLE log expression — never projected
    "x_token_pmi"         -> 2,
    // 3× SUM(greatest(ng-.., 1)) window-count denominators, consumed
    // only under the ::DOUBLE density division
    "x_winnow_sweep"      -> 3,
    // vwap family (finVwapCte): SUM(volume) as the integer rounding
    // division's divisor + the HAVING comparison — the projected copy
    // is vol::BIGINT
    "x_vwap"              -> 2,
    "x_top_movers"        -> 2,
    // SUM(n_orders) OVER () — obs_freq denominator inside ROUND only
    "x_benford"           -> 1,
    // SUM(n_ticks) in the symbol-universe CTE — ORDER BY/LIMIT only
    "x_pair_corr"         -> 1,
    // SUM(CAST(.. AS DECIMAL)) AS mon — rank ORDER BY + VARCHAR
    // bridge; never escapes uncast to the output
    "x_rfm"               -> 1,
    // sp's HUGEINT cents (rank key + arithmetic only) + the three
    // SUMs inside the gini ROUND(...)::DOUBLE expression; the
    // projected total is SUM(cents)::BIGINT (cast)
    "x_gini"              -> 4,
    // the MI term sum and both entropy sums, each inside ROUND — the
    // projected marginals are SUM(c_xy)::BIGINT (cast)
    "x_mutual_info"       -> 3,
    // the KL term sum inside ROUND; marginal CTEs are ::BIGINT-cast
    "x_kl_sources"        -> 1,
    // 5 power-iteration rounds: each SUM(r) consumed only inside
    // ROUND(.,12) — the x_pagerank class
    "x_eigencentrality"   -> 5,
    // the two n_at window sums escape through the outer (a - b)::BIGINT
    // risk-set cast; the DECIMAL factor sum `cum` is consumed only as
    // CAST(cum AS DOUBLE) inside exp() — the x_bigram_ppl class
    "x_kaplan_meier"      -> 3,
    // window-SUM boundary counter — chunk_id is a GROUP BY key only,
    // never projected (the substring-island-counter class)
    "x_cdc_chunks"        -> 1,
    // SUM(dd)/COUNT inside ROUND (mean_delay)
    "x_ship_delay"        -> 1,
    // two SUM(lag_s)/COUNT inside ROUND (mean lag per step)
    "x_funnel_timing"     -> 2,
    // SUM(gap_days)/COUNT inside ROUND (mean_gap)
    "x_reorder_gap"       -> 1,
    // row-normalization window SUM inside ROUND (transition p)
    "x_transition_matrix" -> 1,
    // fm's HUGEINT cents — dominance comparisons + a ::BIGINT-cast
    // output projection only
    "x_skyline"           -> 1,
    // accept-rate SUM inside ROUND; the counters are ::BIGINT-cast and
    // the quality sum goes through the VARCHAR bridge
    "x_weighted_sample"   -> 1,
    // five unrolled rounds of SUM(r/d): a DOUBLE sum (never HUGEINT),
    // consumed in the next round's rank arithmetic and finally
    // ROUND(r, 6)
    "x_pagerank"          -> 5,
    // the DECIMAL score sum is consumed only by the argmin ORDER BY;
    // the confusion-share window SUM is the ::DOUBLE denominator
    "x_nb_holdout"        -> 2,
    // per LM (target + raw): SUM(c) is consumed only as the avg_nll
    // division's denominator (the nll sum itself is ::DOUBLE-cast)
    "x_dsir_select"       -> 2,
    // SUM(n_events) is consumed only as the suppressed-share
    // division's denominator
    "x_kanon"             -> 1,
    // SUM(wl.n_syms) is consumed only as the chars_per_token
    // division's denominator
    "x_bpe_fertility"     -> 1,
    // the per-image SUM(gray) OVER window is consumed only inside the
    // exact integer bit comparison gray*16 > tot
    "x_media_ahash"       -> 1,
    // pos/neg window flow sums: emitted through ::BIGINT projections,
    // otherwise only CAST(... AS DOUBLE) and the >0 gate
    "x_mfi"               -> 2,
    // mfv DECIMAL window sum exits via the VARCHAR bridge; the volume
    // window sum via its ::BIGINT projection
    "x_cmf"               -> 2,
    // ssum/adev feed only integer arithmetic inside CAST(... AS DOUBLE)
    // and the adev>0 gate
    "x_cci"               -> 2,
    // the quantity sum inside HAVING is a comparison operand only (the
    // projected copy is ::BIGINT-cast)
    "x_large_orders"      -> 1,
    // both DECIMAL value sums exit via the VARCHAR bridge or the
    // all-integer dominance gate vald*1000 > totd
    "x_important_stock"   -> 2,
    // ssum/rsum window sums are consumed only inside CAST(... AS DOUBLE)
    "x_keltner"           -> 2,
    // tr/vm window sums: CAST(... AS DOUBLE) ratios + the tr_sum>0 gate
    "x_vortex"            -> 3,
    // up/dn window sums: CAST ratios + the up+dn>0 gate
    "x_cmo"               -> 2,
    // the force window sum is consumed only inside CAST(... AS DOUBLE)
    "x_force_index"       -> 1,
    // five unrolled rounds of SUM(r/d), the x_pagerank escape shape
    "x_ppr"               -> 5,
    // the per-pair JS term sum is a DOUBLE sum consumed inside ROUND
    "x_js_sources"        -> 1,
    // all four decimal sums (per-dim s/qq, folded s2/q) exit ONLY via
    // the VARCHAR bridge
    "x_emb_anisotropy"    -> 4,
    // the two cumulative window sums feed only the all-integer dev
    // product (emitted through a CAST) and its comparisons
    "x_ks_lengths"        -> 2,
    // prefix/total window sums: integer class-gate comparisons only;
    // the projected copies are CAST(... AS DOUBLE)
    "x_abc_classes"       -> 2,
    // decimal dot/norm sums (incl. the HAVING copy) exit ONLY via the
    // VARCHAR bridge or the >0 gate
    "x_centroid_sim"      -> 3,
    // the per-from-type window sum feeds only CAST ratios inside the
    // locked term
    "x_markov_entropy"    -> 1,
    // same shape: the per-source window sum exits via CAST/MAX copies
    "x_hill_diversity"    -> 1,
    // the flow power sums feed only the all-integer slope inside CASTs
    // and the variance gate
    "x_kyle_lambda"       -> 2,
    // the 12 per-lag power sums (qx/qy/xy x 4 lags) feed only the
    // CAST-wrapped Pearson expansions and their >0 gates
    "x_acf_profile"       -> 12,
    // the sp/sm/st directional frame sums and the adx_u window sum
    // exit only via CAST ratios, the micro-unit CAST round, and the
    // st > 0 / rn gates
    "x_adx"               -> 4,
    // the displaced frame sum feeds only the CAST-wrapped integer
    // detrend expression
    "x_dpo"               -> 1,
    // the two cumulative band window sums feed only the CAST ratio
    // inside the micro-unit round
    "x_tcloseness"        -> 2,
    // (SUM(chg) + 1)::BIGINT — cast outside the paren, scanner
    // misses it, nothing escapes uncast
    "x_runs_test"         -> 1
  )

  /** Count SUM( occurrences whose result is not immediately cast.
    * "Immediately cast" covers all four DuckDB spellings, so oracle
    * SQL never has to be styled around this scanner (r14 verdict):
    * `SUM(x)::T`, `CAST(SUM(x) AS T)`, the window forms
    * `SUM(x) OVER (...)::T` (the cast binds to the window function
    * call), and `(SUM(x) [OVER ...])::T` (a bare wrapper paren whose
    * cast applies to nothing but the sum).
    */
  private def nakedSums(sql: String): Int = {
    val lower = sql.toLowerCase
    def matchParen(from: Int): Int = { // `from` at '(' -> matching ')'
      var depth = 0
      var j = from
      var end = -1
      while (j < sql.length && end < 0) {
        if (sql(j) == '(') depth += 1
        else if (sql(j) == ')') { depth -= 1; if (depth == 0) end = j }
        j += 1
      }
      end
    }
    var count = 0
    var i = lower.indexOf("sum(")
    while (i >= 0) {
      val identChar = i > 0 && (lower(i - 1).isLetterOrDigit || lower(i - 1) == '_')
      if (!identChar) {
        val end = matchParen(i + 3)
        // a window SUM's `::` cast sits after the OVER clause
        var rest = end + 1
        while (rest < sql.length && sql(rest).isWhitespace) rest += 1
        if (lower.startsWith("over", rest)) {
          var p = rest + 4
          while (p < sql.length && sql(p).isWhitespace) p += 1
          if (p < sql.length && sql(p) == '(') {
            rest = matchParen(p) + 1
            while (rest < sql.length && sql(rest).isWhitespace) rest += 1
          }
        }
        val after = sql.drop(rest)
        val before = sql.take(i).reverse.dropWhile(_.isWhitespace).reverse
        val castPrefix = before.toLowerCase.endsWith("cast(")
        // `(SUM(..) [OVER ..])::T`: the opening paren is a bare
        // grouping paren (not a function call) and the char after the
        // close is the cast — nothing else shares the paren
        val wrapped = !castPrefix && before.endsWith("(") && {
          val pre = before.dropRight(1).reverse.dropWhile(_.isWhitespace).reverse
          pre.isEmpty || !(pre.last.isLetterOrDigit || pre.last == '_')
        } && after.startsWith(")") &&
          after.drop(1).dropWhile(_.isWhitespace).startsWith("::")
        if (!castPrefix && !after.startsWith("::") && !wrapped) count += 1
      }
      i = lower.indexOf("sum(", i + 4)
    }
    count
  }

  test("uncast DuckDB SUMs are pinned to the audited non-escaping set") {
    val actual = SparkEntry.oracleSql.view.mapValues(nakedSums)
      .filter(_._2 > 0).toMap
    assert(actual == auditedNakedSums,
      s"naked-SUM drift — unexpected: ${(actual.toSet -- auditedNakedSums.toSet).toMap}; " +
      s"missing audited: ${(auditedNakedSums.toSet -- actual.toSet).toMap}. " +
      "Cast the sum (::BIGINT / VARCHAR bridge) or audit its escape path " +
      "and update auditedNakedSums with a reason comment.")
  }

  test("query names follow the ref_/x_ naming contract") {
    val bad = SparkEntry.queries.keySet.filterNot(n =>
      n.startsWith("ref_") || n.startsWith("x_"))
    assert(bad.isEmpty, s"unprefixed query names: $bad")
  }
}

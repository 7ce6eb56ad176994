package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PolyHash

/** The word n-gram unit of the dedup, decontamination and text-analysis
  * operators: `n` consecutive tokens of a single-space split, joined by
  * one space, hashed with the codegen'd [[graft.functions.PolyHash]]
  * expression (the DuckDB oracles apply the identical hash to the
  * identical string, so gram hashes are engine-exact). Every
  * gram-hashing operator builds its rows here, so the gram definition
  * cannot drift between them.
  */
object WordGrams {

  /** One row per word-`n`-gram POSITION of every row of `df` whose
    * token array `toks` holds at least `n` tokens: the `keep` columns,
    * `pos` (the gram's first token, 1 to size − n + 1) and `gh` (the
    * PolyHash of [[text]]). Rows with fewer than `n` tokens yield no
    * gram (the guard also keeps `sequence` from counting down); an
    * empty token (two adjacent spaces) counts as a token. Repeats are
    * kept — per-doc dedup, partitioning and checkpoints are the
    * caller's.
    *
    * The token array is projected BEFORE the positions explode, so a
    * `toks` expression (a split) runs once per row, not once per gram;
    * positions explode via `sequence` (a Generate, no interpreted
    * lambdas) and the hash is the codegen'd PolyHash. A caller that
    * hash-repartitions `df` on doc_id gets the guard pushed below the
    * shuffle by the optimizer, so short documents never cross it.
    */
  def hashed(df: DataFrame, toks: Column, n: Int, keep: String*): DataFrame = {
    PolyHash.register(df.sparkSession)
    val kept = keep.map(col)
    df.filter(size(toks) >= n)
      .select(kept :+ toks.as("toks"): _*)
      .select(kept :+ col("toks") :+
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("pos"): _*)
      .select(kept :+ col("pos") :+
        call_function(PolyHash.Name, text(col("toks"), col("pos"), n)).as("gh"): _*)
  }

  /** The gram text at 1-based position `pos` of `toks`: `n` tokens
    * joined by one space. A slice + join keeps the generated code the
    * same size for every `n`; an unrolled concat of `n` lookups grows
    * with `n` and measured slower at n = 50 (`x_substring_hotspots50`)
    * while tying at n <= 13. */
  def text(toks: Column, pos: Column, n: Int): Column =
    array_join(slice(toks, pos, lit(n)), " ")
}

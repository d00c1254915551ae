package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Boilerplate n-gram detection: find word n-grams that repeat across the
  * corpus far more often than natural text allows (headers, footers,
  * licenses, navigation chrome) and score every document by how much of it
  * is made of them — the C4/RefinedWeb-style "frequent line/gram" cleanup
  * generalized to grams, which also works on corpora with no line structure.
  *
  * Scale shape: gram occurrences shuffle as narrow (doc_id, 8-byte gram
  * hash) rows — no gram STRING is ever built. The frequent set is
  * tiny by construction (true boilerplate is a few thousand grams even at
  * 100 TB — the threshold scales with corpus size while the number of
  * distinct above-threshold grams doesn't), so it broadcasts and the
  * per-document scoring join is map-side. Grouping by the 64-bit hash gives
  * counts identical to grouping by the gram string short of a 64-bit
  * collision inside one corpus, which is what lets the DuckDB oracle (q56)
  * group by the strings and still hash-match.
  */
object Boilerplate {

  /** Per-document boilerplate coverage: (id, n_grams, n_boiler,
    * boiler_frac) where n_boiler counts gram occurrences whose corpus-wide
    * frequency is ≥ `minCount`. Downstream filters on boiler_frac drop
    * template-dominated documents.
    *
    * The ABSOLUTE threshold is right when the caller derives it for the
    * corpus at hand; at 100× corpus growth a fixed `minCount` silently
    * grows the frequent set. [[coverageFrac]] keeps the broadcast-tiny
    * invariant true by construction instead.
    */
  def coverage(
      corpus: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int,
      minCount: Long): DataFrame =
    scored(corpus, textCol, keyCol, n, _.filter(col("cnt") >= minCount))

  /** [[coverage]] with a FRACTION-of-corpus threshold: a gram is frequent
    * when its occurrence count is ≥ `max(2, minFrac · n_docs)`.
    * Scale-invariant — "appears in ≥5% of document slots" means the same
    * thing at 10⁴ and 10¹² docs, so the frequent set stays bounded (true
    * boilerplate is a few thousand grams at any corpus size) without
    * callers re-deriving an absolute count per run. The floor of 2 matters
    * only for tiny corpora: below `2/minFrac` docs the raw product drops
    * under 1 and every single-occurrence gram would count as "frequent" —
    * a gram that occurs once is never corpus-wide boilerplate. The corpus
    * row count joins as a broadcast one-row aggregate — no driver-side
    * action.
    */
  def coverageFrac(
      corpus: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int,
      minFrac: Double): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, "minFrac in (0, 1]")
    val nDocs = corpus.agg(count(lit(1)).cast("double").as("n_docs"))
    scored(corpus, textCol, keyCol, n,
      _.crossJoin(broadcast(nDocs))
        .filter(col("cnt").cast("double") >=
          greatest(lit(2.0), lit(minFrac) * col("n_docs")))
        .drop("n_docs"))
  }

  /** Shared shape: hash grams map-side, count per 8-byte hash, apply the
    * caller's frequent-set filter, broadcast it back onto the gram stream.
    */
  private def scored(
      corpus: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int,
      frequentFilter: DataFrame => DataFrame): DataFrame = {
    // positional gram hashes via the compiled expression (the Decontam
    // pattern): no gram string, no interpreted per-position lambda; gram
    // equality ⟺ word-sequence equality, so per-hash counts — and thus
    // every coverage number — are identical modulo 64-bit collisions.
    val grams = corpus
      .select(col(keyCol).as("id"), Dedup.splitWords(col(textCol)).as("__w"))
      .select(col("id"), explode(graft.functions.WordGramHashes
        .wordGramHashes(col("__w"), Seq(n))).as("g"))
      .select(col("id"), col("g.h").as("gh"))
    val frequent = frequentFilter(
      grams.groupBy("gh").agg(count(lit(1)).as("cnt")))
      .select(col("gh"), lit(1).as("hit"))
    grams
      .join(broadcast(frequent), Seq("gh"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum("hit"), lit(0L)).cast("long").as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_grams"), 4))
  }
}

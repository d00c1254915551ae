package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear bag-of-words quality classifier — multinomial Naive Bayes with
  * add-1 smoothing, trained AND applied distributedly. This is the
  * classifier-based quality gate of the big pretraining pipelines (the
  * GPT-3/WebText "pages a high-quality reference set would link to"
  * filter, CCNet's fasttext stage): a linear model over token counts,
  * where training is nothing but two aggregates and scoring is a
  * weighted-sum join — exactly the shapes a 100 TB corpus can afford.
  *
  * Scale shape:
  *  - the corpus is tokenized ONCE; per-(doc, token) counts come from one
  *    explode + hash aggregate whose partial combine runs map-side on
  *    doc-contiguous rows;
  *  - class-conditional token counts reduce the per-doc frame again by
  *    token only — vocabulary-scale rows (narrow, no text);
  *  - corpus totals ride the house one-row broadcast crossJoin
  *    (cf. Tfidf/NgramStats), and the weight table joins back onto the
  *    per-doc counts (vocab-sized side — AQE broadcasts it when it fits);
  *  - scoring is an exact INTEGER sum (count · weight_ppm), so the result
  *    is independent of partitioning and addition order — no double
  *    accumulation anywhere.
  *
  * Parity contract (q117): weights land as `floor(ln-chain · 10⁶)` with
  * the chain literally mirrored in the DuckDB twin (the q104 PMI recipe):
  * every ln argument is an exact integer cast to double, so both engines
  * evaluate identical IEEE doubles before the floor. Smoothed per-class
  * weight for token t:
  *   w(t) = ln(cp+1) − ln(totP+V) − ln(cn+1) + ln(totN+V)   (that order)
  * with cp/cn the class token counts, totP/totN the class token totals,
  * V the FULL vocabulary size (totals are computed over all tokens;
  * `minTotal` prunes only the EMITTED weight rows, pinned in the spec).
  * Doc score = prior_ppm + Σ count(t)·w_ppm(t) over tokens with an
  * emitted weight; unseen/pruned tokens contribute exactly 0; an empty
  * document scores exactly prior_ppm (join-back keeps it alive).
  */
object NaiveBayes {

  /** Letters-only tokens of length ≥ `minTokenLen` — the collocations
    * tokenizer (NgramStats), whose cross-engine parity q104 established.
    */
  private def tokens(textCol: String, minTokenLen: Int): Column =
    filter(split(lower(coalesce(col(textCol), lit(""))), "[^a-z]+"),
      w => length(w) >= minTokenLen)

  /** Per-(id, token) counts — one explode, map-side partial combine. */
  private[graft] def docTf(df: DataFrame, idCol: String, textCol: String,
      labelCol: Column, minTokenLen: Int): DataFrame =
    df.select(col(idCol), labelCol.cast("int").as("__lab"),
        tokens(textCol, minTokenLen).as("__w"))
      .select(col(idCol), col("__lab"), explode(col("__w")).as("__t"))
      .groupBy(col(idCol), col("__lab"), col("__t"))
      .agg(count(lit(1)).as("__cnt"))

  /** Weights from an already-materialized per-(id, token) count frame —
    * the class-conditional counts reduce [[docTf]]'s output by token only,
    * so train-and-score pipelines tokenize the corpus exactly once.
    */
  private def weightsFromDocTf(tf: DataFrame, minTotal: Long): DataFrame = {
    val cc = tf.groupBy(col("__t"))
      .agg(sum(when(col("__lab") === 1, col("__cnt")).otherwise(0L))
          .as("__cp"),
        sum(when(col("__lab") === 0, col("__cnt")).otherwise(0L)).as("__cn"))
    val tot = cc.agg(sum("__cp").as("__tp"), sum("__cn").as("__tn"),
      count(lit(1)).as("__v"))
    cc.crossJoin(broadcast(tot))
      .filter(col("__cp") + col("__cn") >= minTotal)
      .select(col("__t").as("token"),
        floor((log(col("__cp").cast("double") + 1.0) -
          log((col("__tp") + col("__v")).cast("double")) -
          log(col("__cn").cast("double") + 1.0) +
          log((col("__tn") + col("__v")).cast("double"))) * lit(1000000.0))
          .cast("long").as("w_ppm"))
  }

  /** Smoothed log-odds token weights `(token, w_ppm)`. `label` must be a
    * 0/1 (or boolean) column; both classes must be non-empty.
    */
  def tokenWeights(df: DataFrame, textCol: String, labelCol: Column,
      minTotal: Long = 1L, minTokenLen: Int = 3): DataFrame = {
    val tf = df
      .select(labelCol.cast("int").as("__lab"),
        tokens(textCol, minTokenLen).as("__w"))
      .select(col("__lab"), explode(col("__w")).as("__t"),
        lit(1L).as("__cnt"))
    weightsFromDocTf(tf, minTotal)
  }

  /** Class prior `floor((ln(nPos) − ln(nNeg))·10⁶)` as a 1-row frame. */
  def priorPpm(df: DataFrame, labelCol: Column): DataFrame =
    df.agg(floor((log(sum(when(labelCol.cast("int") === 1, 1L)
        .otherwise(0L)).cast("double")) -
      log(sum(when(labelCol.cast("int") === 0, 1L).otherwise(0L))
        .cast("double"))) * lit(1000000.0)).cast("long").as("__prior"))

  /** Train on `df` (labels from `labelCol`) and score every document:
    * `(idCol, score_ppm)`. See object doc for the exact semantics.
    */
  def qualityScores(df: DataFrame, idCol: String, textCol: String,
      labelCol: Column, minTotal: Long = 1L, minTokenLen: Int = 3): DataFrame = {
    // ONE tokenization + explode serves both faces: training reduces the
    // per-doc counts by token, scoring weights them back per doc. The tf
    // frame is a lazy localCheckpoint because its two consumers prune
    // different columns (no ReusedExchange possible — verified on the
    // physical plan), and it is NARROW (id, label, token, count) — far
    // smaller than the text it replaces re-scanning. Unlike a persist, it
    // leaves no CacheManager entry behind.
    val tf = docTf(df, idCol, textCol, labelCol, minTokenLen)
      .localCheckpoint(false)
    val w = weightsFromDocTf(tf, minTotal)
    val sums = tf
      .join(w, tf("__t") === w("token"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt") * col("w_ppm")).as("__s"))
    df.select(col(idCol))
      .join(sums, Seq(idCol), "left")
      .crossJoin(broadcast(priorPpm(df, labelCol)))
      .select(col(idCol),
        (coalesce(col("__s"), lit(0L)) + col("__prior")).as("score_ppm"))
  }
}

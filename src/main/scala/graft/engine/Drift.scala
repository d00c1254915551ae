package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection between partitions (SURVEY.md §2.5 drift
  * row): Pearson chi-square of each partition's categorical frequency vector
  * (role or tool) against the pooled table, in pure `Column` arithmetic — no
  * UDF, no MLlib dependency.
  *
  * Only the first `groupBy(part_id, col)` touches big data (and it partial-
  * aggregates map-side to ≤ parts × |vocab| rows); everything after operates
  * on that tiny contingency table.
  */
object Drift {

  /** Per-partition chi-square statistic over `category` frequencies.
    * Output: (part_id, chi2, dof, n, drifted).
    *
    * A zero cell adds its `e`, and a partition's `e`s sum to its row total
    * `r`, so Σ (o − e)²/e over all cells = Σ o²/e over present cells − r.
    * The contingency table is coalesced into one task, where the totals are
    * window sums: one shuffle for the whole statistic.
    */
  def chiSquare(
      df: DataFrame,
      category: String,
      threshold: Double = 30.0): DataFrame = {
    val all = Window.partitionBy()
    val r = sum("o").over(Window.partitionBy("part_id"))
    df
      .groupBy(col("part_id"), coalesce(col(category), lit("__null__")).as("cat"))
      .agg(count(lit(1)).as("o"))
      .coalesce(1)
      .withColumn("k", dense_rank().over(Window.orderBy("cat")))
      .select(col("part_id"), col("o"), r.as("r"),
        (r * sum("o").over(Window.partitionBy("cat")) / sum("o").over(all))
          .as("e"),
        max("k").over(all).as("k"))
      .groupBy("part_id")
      .agg(
        (sum(col("o") * col("o") / col("e")) - max("r")).as("chi2"),
        (max("k") - 1).cast("long").as("dof"),
        max("r").as("n"))
      .withColumn("drifted", col("chi2") > threshold)
  }

  /** Population Stability Index of each partition's category distribution
    * against the pooled table: Σ (p − q)·ln(p/q), proportions floored at
    * `eps` so zero cells contribute finitely (the standard PSI smoothing).
    * One big groupBy, then arithmetic on the tiny contingency table, where
    * a parts × vocab cross join restores the zero cells. Common reading:
    * < 0.1 stable, 0.1–0.25 moderate, > 0.25 drifted.
    */
  def psi(
      df: DataFrame,
      category: String,
      threshold: Double = 0.25,
      eps: Double = 1e-6): DataFrame = {
    val counts = df
      .groupBy(col("part_id"), coalesce(col(category), lit("__null__")).as("cat"))
      .agg(count(lit(1)).as("o"))
    val rowTot = counts.groupBy("part_id").agg(sum("o").as("r"))
    val colTot = counts.groupBy("cat").agg(sum("o").as("c"))
    val grand = counts.agg(sum("o").as("g"))
    rowTot
      .crossJoin(broadcast(colTot))
      .join(counts, Seq("part_id", "cat"), "left_outer")
      .crossJoin(broadcast(grand))
      .withColumn("p", greatest(coalesce(col("o"), lit(0L)) / col("r"), lit(eps)))
      .withColumn("q", greatest(col("c") / col("g"), lit(eps)))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy("part_id")
      .agg(sum("term").as("psi"), max("r").as("n"))
      .withColumn("drifted", col("psi") > threshold)
  }

  /** Per-slice KL divergence KL(slice ‖ global) over a category column, in
    * ppm bits — the directional companion of [[chiSquare]]/[[psi]]: which
    * partitions' role/tool mixes have drifted furthest from the corpus,
    * on an information scale comparable across slices.
    *
    * Shape: one partial-combine (slice, cat) count; slice totals, global
    * category counts, and the grand total re-aggregate from it (bounded
    * frames, broadcast back — the category contract). Categories absent
    * from a slice contribute 0 (the p→0 limit) and are naturally absent
    * from the join; every slice category exists globally, so q > 0
    * always.
    *
    * Parity (q111): each (slice, cat) cell contributes
    * `floor((c/T)·ln((c/T)/(g/G))/ln2 · 10⁶)` — pinned double chain over
    * exact longs — and the slice KL is the EXACT INTEGER SUM of those
    * floors (the columnEntropy rule: order-independent, ≤ 1 ppm/cell
    * bias; cells can be negative but the sum is ≥ −n_cats ppm of true
    * KL ≥ 0).
    */
  def klDivergence(
      df: DataFrame, sliceCol: String, catCol: String): DataFrame = {
    val counts = df
      .filter(col(catCol).isNotNull)
      .groupBy(col(sliceCol).as("slice"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("c"))
    val sliceTot = counts.groupBy("slice").agg(sum("c").as("t"))
    val catTot = counts.groupBy("cat").agg(sum("c").as("g"))
    val grand = counts.agg(sum("c").as("gt"))
    val ln2 = lit(graft.ops.LangModel.Ln2)
    counts
      .join(broadcast(sliceTot), Seq("slice"))
      .join(broadcast(catTot), Seq("cat"))
      .crossJoin(broadcast(grand))
      .select(col("slice"),
        floor((col("c").cast("double") / col("t")) *
          log((col("c").cast("double") / col("t")) /
            (col("g").cast("double") / col("gt"))) /
          ln2 * lit(1000000.0)).cast("long").as("__term_ppm"))
      .groupBy("slice")
      .agg(count(lit(1)).as("n_cats"), sum("__term_ppm").as("kl_ppm_bits"))
  }

  /** Benford first-significant-digit audit over a 2-decimal money-like
    * column — the classic synthetic/fabricated-numbers detector: organic
    * multiplicative data follows P(d) = log10(1 + 1/d); uniform or
    * hand-typed values do not. One row out: the nine exact digit counts,
    * the chi-square against the Benford expectations, and the flag.
    *
    * Parity discipline: the first digit comes from the STRING of an exact
    * integer — the value casts to DECIMAL(18,2) (deterministic half-up in
    * both engines, the exactSum2 contract), scales to cents, and lands a
    * BIGINT whose decimal rendering is identical everywhere; no log10 of
    * a double anywhere near the digit. The chi-square is a LITERAL
    * nine-term chain in digit order (each p_d spelled ln(1+1/d)/ln(10) so
    * both engines derive the same doubles) — no sum aggregate, no
    * ordering ambiguity. Zero values are excluded (no first digit).
    */
  def benford(
      df: DataFrame, valueCol: String, threshold: Double = 50.0): DataFrame = {
    val cents = abs((col(valueCol).cast("decimal(18,2)") * 100)
      .cast("long"))
    val fd = substring(cents.cast("string"), 1, 1).cast("int")
    val aggs = count(lit(1)).cast("double").as("n") +:
      (1 to 9).map(d =>
        sum(when(col("__d") === d, 1L).otherwise(0L)).as(s"d$d"))
    val counted = df
      .select(cents.as("__c"), fd.as("__d"))
      .filter(col("__c") > 0)
      .agg(aggs.head, aggs.tail: _*)
    val chi2 = (1 to 9).map { d =>
      val pd = log(lit(1.0) + lit(1.0) / lit(d.toDouble)) / log(lit(10.0))
      val e = col("n") * pd
      val diff = col(s"d$d").cast("double") - e
      diff * diff / e
    }.reduceLeft(_ + _)
    counted.select((col("n").cast("long").as("n") +:
      (1 to 9).map(d => col(s"d$d"))) ++ Seq(
      round(chi2, 4).as("chi2"),
      (chi2 <= threshold).as("benford_ok")): _*)
  }
}

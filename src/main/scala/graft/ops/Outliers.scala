package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group-wise z-score outlier detection: flag rows whose numeric value sits
  * more than `zThreshold` sample standard deviations from their group mean —
  * the standard per-slice anomaly screen a validation engine runs over
  * metric columns (here events.value per event_type; in the transcript
  * engine, e.g. turn length per role).
  *
  * Scale shape: one narrow aggregation computes per-group moments (count,
  * Σx, Σx²) — group count is tiny (distinct event types / roles), so the
  * moments table broadcasts and the scoring pass is map-only over the full
  * table: no wide shuffle, no window. Moments accumulate as exact DECIMALs
  * (values carry fixed decimal precision), so mean/stddev — and therefore
  * every z-score — are bit-identical regardless of partitioning, executor
  * count, or engine: the DuckDB oracle (q59) replays the same decimal sums
  * and gets the same doubles.
  */
object Outliers {

  /** Rows of `df` where |value - mean(group)| / stddev_samp(group) >
    * `zThreshold`, with the z-score attached (rounded to 3 decimals).
    */
  def zOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      zThreshold: Double): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    val moments = df
      .groupBy(groupCol)
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(v).cast("double").as("s1"),
        sum(v * v).cast("double").as("s2"))
      // single-row groups have no sample variance (n−1 = 0): no outlier
      // can be defined there, and ANSI mode (Spark 4 default) makes the
      // division an error rather than a NaN — drop them before dividing
      .filter(col("n") > 1)
      .select(col(groupCol),
        (col("s1") / col("n")).as("mu"),
        // sample variance from exact sums: (Σx² − (Σx)²/n) / (n−1)
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("sigma"))
    df.join(broadcast(moments), Seq(groupCol))
      // sigma = 0 (constant group) admits no outliers; guarding inside the
      // expression also keeps ANSI division happy
      .withColumn("z",
        when(col("sigma") > 0, (col(valueCol) - col("mu")) / col("sigma")))
      .filter(abs(col("z")) > zThreshold)
      .withColumn("z", round(col("z"), 3))
      .drop("mu", "sigma")
  }

  /** Robust (median/MAD) variant of [[zOutliers]]: flags rows where
    * |value − median| / (1.4826·MAD) > `threshold`. Median-based scoring
    * doesn't let the outliers themselves inflate the scale the way μ/σ does
    * (a heavy-tailed metric column shifts z-scores; it barely moves MAD).
    *
    * Exact `percentile` is a sort-based aggregate — fine when the GROUP
    * count is small and per-group rows fit a partition's sort (event types,
    * roles); for high-cardinality groups use the t-digest sketch quantiles
    * in `engine/Stats` instead. Two narrow aggregation passes (median, then
    * median-of-deviations), both broadcast back; scoring is map-only.
    */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      threshold: Double): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.5)).as("med"))
    val scale = df.join(broadcast(med), Seq(groupCol))
      .groupBy(groupCol)
      .agg(percentile(abs(col(valueCol) - col("med")), lit(0.5)).as("mad"),
        max("med").as("med"))
    df.join(broadcast(scale), Seq(groupCol))
      .withColumn("rz",
        when(col("mad") > 0,
          (col(valueCol) - col("med")) / (lit(1.4826) * col("mad"))))
      .filter(abs(col("rz")) > threshold)
      .withColumn("rz", round(col("rz"), 3))
      .drop("med", "mad")
  }

  /** Exact percentile rank WITHOUT a global sort: per row, the ppm
    * fraction of the corpus whose `valueCol` is ≤ this row's — the
    * primitive behind "keep the top 30% by quality" selection (filter on
    * `pct_le_ppm ≥ 700000` and the cut is exact, corpus-wide, and
    * reproducible on any partitioning).
    *
    * Contract: `valueCol` must be a BOUNDED-CARDINALITY integer score
    * (the engine's quality/xent scores are exact 4-dp-scaled ints with a
    * ≤ 10⁴-value domain by construction — the [[graft.engine.Drift]] /
    * topValues category contract). The shape: one partial-combine count
    * per distinct value, a cumulative window over that DOMAIN-BOUNDED
    * frame (one small task by construction), and a broadcast map-side
    * join-back — the full corpus is never sorted or shuffled beyond the
    * one count aggregate. A billion-value continuous double column is
    * the WRONG input here; bucket it first (histogram/lengthBuckets) or
    * use t-digest quantiles.
    *
    * The contract is ENFORCED, not assumed: the distinct-value frame is
    * persisted and counted before the window runs, and a domain wider
    * than `maxDomain` fails fast with the remediation in the message —
    * a measured abort up front instead of one window task OOMing an
    * executor (and a broadcast blowing the driver) later. The count is
    * over the already-aggregated domain frame, so the guard costs one
    * small job, not a second corpus scan.
    */
  def rankPpmByValue(
      df: DataFrame, valueCol: String, maxDomain: Long = 1000000L)
      : DataFrame = {
    require(maxDomain >= 1, "maxDomain >= 1")
    // LAZY localCheckpoint, not persist (the r5 ADVICE leak): the guard
    // count below materializes it in one job, the require-failure path
    // leaves no CacheManager entry behind, and the blocks are
    // ContextCleaner-managed once the caller drops the frame — a persist
    // here pinned executor storage for the JVM lifetime.
    val counts = df.groupBy(col(valueCol)).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    // ONE driver action fetches the guard cardinality AND the row total
    // (Σ of the domain counts ≡ count(*) of the corpus): the total used to
    // be a second full corpus scan inside a broadcast crossJoin subtree —
    // it now reads the already-materialized domain blocks and lands as a
    // literal in the ppm expression (identical integers, identical floor).
    val grow = counts.agg(count(lit(1)).as("__nd"), sum("__c").as("__t"))
      .first()
    val nDistinct = grow.getLong(0)
    val total = if (grow.isNullAt(1)) 0L else grow.getLong(1)
    require(nDistinct <= maxDomain,
      s"rankPpmByValue: $valueCol has $nDistinct distinct values " +
        s"(maxDomain=$maxDomain) — an unbounded/continuous score breaks " +
        "the single-task cumulative window; bucket it first " +
        "(histogram/lengthBuckets) or use t-digest quantiles")
    val w = Window.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__cum", sum("__c").over(w))
      .select(col(valueCol),
        floor(col("__cum").cast("double") * lit(1000000.0) / lit(total))
          .cast("long").as("pct_le_ppm"))
    df.join(broadcast(cum), Seq(valueCol))
  }
}

package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.FreqItems.freqItems
import graft.functions.TDigestQuantiles.tdigestQuantiles

/** Single-pass wide column-stats aggregate (SURVEY.md §2.5 engine row):
  * one `agg(...)` → one scan → one shuffle-free partial+final aggregation:
  * count, null rate, min/max, HLL++ distinct (`approx_count_distinct`), and
  * t-digest quantiles (p50/p90/p99) on a numeric proxy per column (value for
  * numerics/timestamps, `length` for strings). The single-row result is then
  * reshaped to one `ColStats` row per column — driver-side trivial.
  */
object Stats {

  val defaultPercentiles: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Numeric proxy used for quantile sketching of non-numeric columns. */
  private def proxy(df: DataFrame, c: String): Option[Column] =
    df.schema(c).dataType.typeName match {
      case "integer" | "long" | "double" | "float" | "short" =>
        Some(col(c).cast("double"))
      case "timestamp" => Some(unix_timestamp(col(c)).cast("double"))
      case "string"    => Some(length(col(c)).cast("double"))
      case _           => None
    }

  /** One row per column of `df` (all columns when `columns` is empty):
    * column, n, null_rate, n_distinct_approx, min, max, q_tdigest. Every
    * field but `q_tdigest` is exact or an order-independent sketch.
    * `q_tdigest` depends on the order in which the partial t-digests merge,
    * which the scheduler picks, so its quantiles differ from run to run on
    * the same input and `t03_col_stats` cannot be byte-compared between
    * commits. StatsDriftSpec's cross-check against exact `quantile_cont`
    * values is what bounds its error.
    */
  def colStats(
      df: DataFrame,
      columns: Seq[String] = Nil,
      percentiles: Seq[Double] = defaultPercentiles): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val aggs: Seq[Column] = cols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"${c}__n_nonnull"),
        avg(col(c).isNull.cast("double")).as(s"${c}__null_rate"),
        approx_count_distinct(col(c)).as(s"${c}__n_distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
      val td = proxy(df, c).map(p =>
        tdigestQuantiles(p, percentiles).as(s"${c}__q"))
      base ++ td
    } :+ count(lit(1)).as("__n_rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)

    val perCol = cols.map { c =>
      val q =
        if (proxy(df, c).isDefined) col(s"${c}__q")
        else lit(null).cast("array<double>")
      struct(
        lit(c).as("column"),
        col("__n_rows").as("n"),
        col(s"${c}__null_rate").as("null_rate"),
        col(s"${c}__n_distinct").as("n_distinct_approx"),
        col(s"${c}__min").as("min"),
        col(s"${c}__max").as("max"),
        q.as("q_tdigest"))
    }
    wide
      .select(explode(array(perCol: _*)).as("s"))
      .select(col("s.*"))
  }

  /** Approximate per-column top-k values via the frequent-items sketch
    * ([[graft.functions.FreqItems]]): one scan, one shuffle-free
    * partial+final aggregation regardless of column cardinality — the
    * 100 TB replacement for `groupBy(col).count().orderBy(...).limit(k)`
    * when the distinct domain is too large to shuffle. Exact (and fully
    * deterministic) while a column's distinct count stays under
    * `maxMapSize`; beyond that, estimates carry the sketch's
    * no-false-negative guarantee. Returns (column, item, est) rows.
    */
  def topValues(
      df: DataFrame,
      columns: Seq[String],
      k: Int = 10,
      maxMapSize: Int = 256): DataFrame = {
    val aggs = columns.map(c => freqItems(col(c), k, maxMapSize).as(s"${c}__top"))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = columns.map(c =>
      struct(lit(c).as("column"), col(s"${c}__top").as("top")))
    wide
      .select(explode(array(perCol: _*)).as("s"))
      .select(col("s.column").as("column"), explode(col("s.top")).as("t"))
      .select(col("column"), col("t.item").as("item"), col("t.est").as("est"))
  }

  /** Per-column Shannon entropy in ppm-bits — the distribution-shape
    * companion of [[graft.engine.Drift]]'s chi-square/PSI checks: a
    * near-zero entropy flags a collapsed category column (every row one
    * value), a jump flags an upstream schema/logging change, before any
    * reference profile exists to drift against. Nulls are excluded
    * (null-rate is [[colStats]]' signal).
    *
    * Scale shape: all columns ride ONE explode into a (col_name, value)
    * frame → one partial-combine count aggregate; per-column totals are a
    * second tiny aggregate broadcast back (one row per column). Works for
    * bounded-cardinality category columns — the same contract as
    * [[topValues]]/Drift.
    *
    * Parity (q106): each value contributes
    * `floor((c/T)·ln(T/c)/ln2 · 10⁶)` — a pinned double chain over exact
    * longs with the shared ln(2) literal — and the per-column entropy is
    * the EXACT INTEGER SUM of those floors: order-independent under any
    * partitioning, at the price of ≤ 1 ppm downward bias per distinct
    * value (documented; floor-of-sum would be order-dependent).
    */
  def columnEntropy(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "at least one column")
    val pairs = df
      .select(explode(array(columns.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value"))): _*))
        .as("p"))
      .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
      .filter(col("value").isNotNull)
    val counts = pairs.groupBy("col_name", "value")
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("col_name").agg(sum("c").as("t"))
    counts
      .join(broadcast(totals), Seq("col_name"))
      .select(col("col_name"),
        floor((col("c").cast("double") / col("t")) *
          log(col("t").cast("double") / col("c")) /
          lit(graft.ops.LangModel.Ln2) * lit(1000000.0))
          .cast("long").as("__term_ppm"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_values"),
        sum("__term_ppm").as("entropy_ppm_bits"))
  }

  /** Per-group Wilson lower confidence bound on a boolean rate — the
    * small-sample-corrected way to RANK groups (sources, domains, crawls)
    * by quality: a source with 3/3 passing docs must not outrank one with
    * 9500/10000, which a raw pass-rate sort does. Standard z=1.96 (95%)
    * score interval, lower bound.
    *
    * One partial-combined aggregate per group (count + conditional sum);
    * the bound itself is a map-side scalar chain on the two exact
    * integers. Parity: the chain uses only +,−,×,÷ on exact-integer-
    * derived doubles plus ONE sqrt — IEEE-754 requires sqrt be correctly
    * rounded (the alphaShares argument), so both engines produce the
    * identical double, floored to ppm in literal order.
    */
  def wilsonLowerByGroup(
      df: DataFrame, groupCols: Seq[String], passCol: Column,
      z: Double = 1.96): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val agged = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(passCol, 1L).otherwise(0L)).as("n_pass"))
    val n = col("n_rows").cast("double")
    val p = col("n_pass").cast("double") / n
    val z2 = z * z
    val center = p + lit(z2) / (n * 2.0)
    val rad = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      lit(z2) / (n * n * 4.0))
    val denom = lit(1.0) + lit(z2) / n
    // clamp: at p=0 the exact bound is 0 but the float chain leaves a
    // -1-ppm residue (center and rad agree only mathematically)
    agged.select(groupCols.map(col) ++ Seq(col("n_rows"), col("n_pass"),
      greatest(least(floor((center - rad) / denom * lit(1000000.0))
        .cast("long"), lit(1000000L)), lit(0L)).as("wilson_low_ppm")): _*)
  }

  /** Key-skew audit — the "do I need to salt this key?" answer, computed
    * BEFORE the expensive job instead of discovered in its straggler task.
    * One row: key cardinality, total rows, the hottest key's row count and
    * ppm share, exact p50/p99 key sizes, and the salt factor that would
    * bring the hottest key under `targetPerTask` rows per task
    * (`ceil(max/target)` — feed it to the salted-dedup/window family).
    *
    * Scale shape: per-key counts are one partial-combined shuffle; the
    * percentile machinery then runs on DISTINCT KEY SIZES with
    * multiplicities — provably ≤ √(2·n_keys) rows (the zipfCurve lemma:
    * distinct positive integers summing to n), so the unpartitioned
    * cumulative window is one bounded task by construction, never a global
    * sort of the keys. Percentiles are integer-exact: p_f = the smallest
    * size s with (#keys of size ≤ s)·100 ≥ f·n_keys — no doubles anywhere
    * except the two ppm/salt divisions of exact integers (q88 parity rule).
    */
  def skewAudit(
      df: DataFrame,
      keyCols: Seq[String],
      targetPerTask: Long = 1000000L): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    require(targetPerTask >= 1L, "targetPerTask >= 1")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val sizes = counts.groupBy("__cnt").agg(count(lit(1)).as("__nk"))
    val cum = sizes.withColumn("__cumk",
      sum("__nk").over(Window.orderBy("__cnt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = counts.agg(sum("__cnt").as("__rows"),
      count(lit(1)).as("__keys"), max("__cnt").as("__max"))
    cum.crossJoin(broadcast(tot))
      .groupBy("__keys", "__rows", "__max")
      .agg(
        min(when(col("__cumk") * 2 >= col("__keys"), col("__cnt")))
          .as("p50_key_rows"),
        min(when(col("__cumk") * 100 >= col("__keys") * 99, col("__cnt")))
          .as("p99_key_rows"))
      .select(col("__keys").as("n_keys"), col("__rows").as("n_rows"),
        col("__max").as("max_key_rows"),
        floor(col("__max") * lit(1000000L) / col("__rows"))
          .cast("long").as("top1_share_ppm"),
        col("p50_key_rows"), col("p99_key_rows"),
        floor((col("__max") + lit(targetPerTask - 1)) / lit(targetPerTask))
          .cast("long").as("salt_suggest"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * `df.sample()` is seed-stable only for a fixed partitioning — repartition
  * the input (or scale the cluster) and the sample changes, which poisons
  * reproducibility of 100 TB corpus builds. These operators instead derive
  * membership from a cryptographic hash of a row key: the same row lands in
  * the same sample on any cluster size, any partitioning, any engine (md5 is
  * byte-identical everywhere, so the DuckDB oracle replays them exactly).
  */
object Sampling {

  /** Hex-threshold membership: keep rows whose `md5(key)` prefix sorts below
    * `threshold`. Four hex chars ⇒ fraction = parsedHex / 65536 (e.g.
    * "1999" ≈ 10%). Map-only — no shuffle, fully pushdown-friendly.
    */
  def hashSample(df: DataFrame, keyCol: String, thresholdHex4: String): DataFrame = {
    require(thresholdHex4.matches("[0-9a-f]{4}"), "threshold = 4 lowercase hex chars")
    df.filter(substring(md5(col(keyCol).cast("string")), 1, 4) < thresholdHex4)
  }

  /** Stratified deterministic top-k: k rows per stratum, chosen by md5 order
    * (uniform within the stratum, stable across partitionings; `keyCol`
    * breaks md5 ties). One hash-partition shuffle on the stratum column —
    * and Spark 4 plants `WindowGroupLimit` BELOW that exchange for
    * `row_number() <= k` patterns, so each map task ships at most k rows
    * per stratum: a hot stratum concentrates ≤ k·mapTasks rows on its
    * reducer, not its full size (plan capture + skew measurements in
    * PLANS.md / BASELINE.md round 3). So salting the stratum buys
    * nothing: a salted two-window form paid a second exchange for a bound
    * this cap already gives, and was slower on a 4.36M-row hot stratum.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String, k: Int): DataFrame = {
    val w = Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Kept only for the frozen `Bench` skew block, whose JSON still reports
    * a "salted" timing: delegates to [[stratifiedSample]] and ignores
    * `saltFactor`. No other code may call it.
    */
  private[graft] def stratifiedSampleSalted(
      df: DataFrame, stratumCol: String, keyCol: String, k: Int,
      saltFactor: Int = 16): DataFrame =
    stratifiedSample(df, stratumCol, keyCol, k)

  /** Weighted corpus mixture: per-stratum hashSample rates (training-data
    * mixing — upsample curated sources, downsample crawl). `rates` maps
    * stratum value → 4-hex-char threshold; strata absent from the map fall
    * back to `defaultHex4`. Still map-only and partitioning-independent:
    * membership depends only on (md5(key), stratum), so the same mixture
    * reproduces on any cluster — and in the DuckDB oracle (q60).
    */
  def weightedMixture(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      rates: Map[String, String],
      defaultHex4: String): DataFrame = {
    require((rates.values.toSeq :+ defaultHex4)
      .forall(_.matches("[0-9a-f]{4}")), "thresholds = 4 lowercase hex chars")
    val thr = rates.foldLeft(lit(defaultHex4)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(substring(md5(col(keyCol).cast("string")), 1, 4) < thr)
  }

  /** Weighted top-k sampling WITHOUT replacement (Efraimidis–Spirakis
    * exponential race, deterministic): each row draws u ∈ (0,1) from
    * md5(key) — a dyadic rational (24 hash bits + ½) / 2²⁴, exactly
    * representable so every engine computes the identical double — and
    * races with key ln(u)/w; the k LARGEST keys win (ln u < 0, so a larger
    * weight pulls the key toward 0: inclusion odds scale with `weightCol`,
    * e.g. quality-weighted corpus selection). Same reproducibility contract
    * as the other samplers: membership depends only on (md5(key), w), never
    * on partitioning or cluster size, and the DuckDB oracle (q70) replays
    * the exact race.
    *
    * Scale shape: `orderBy(...).limit(k)` plans as TakeOrderedAndProject —
    * per-partition top-k heaps then a k·partitions merge, no global sort,
    * no single-reducer window. `weightCol` must be > 0 (guard with
    * `greatest(w, 1)` at the call site if it can be 0).
    */
  def weightedTopK(df: DataFrame, weightCol: String, keyCol: String, k: Int): DataFrame = {
    require(k > 0, "k > 0")
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 6), 16, 10)
      .cast("double") + 0.5) / (1 << 24).toDouble
    df.withColumn("__es", log(u) / col(weightCol).cast("double"))
      .orderBy(desc("__es"), col(keyCol))
      .limit(k)
      .drop("__es")
  }

  /** Per-group weighted top-k WITHOUT replacement: the [[weightedTopK]]
    * Efraimidis–Spirakis race run independently inside every group (e.g. k
    * quality-weighted documents per source/domain — the per-domain corpus
    * selection step). Same determinism contract: membership depends only on
    * (md5(key), w, group), never on partitioning, and the DuckDB oracle
    * (q76) replays the race per group.
    *
    * Scale shape: `row_number() <= k` over a group-partitioned window —
    * Spark 4 plants `WindowGroupLimit` BELOW the exchange for exactly this
    * pattern, so each map task ships at most k rows per group and a hot
    * group concentrates ≤ k·mapTasks rows, not its full size (the measured
    * skew behavior of [[stratifiedSample]], PLANS.md round 3).
    */
  def weightedTopKPerGroup(
      df: DataFrame, groupCol: String, weightCol: String, keyCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k > 0")
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 6), 16, 10)
      .cast("double") + 0.5) / (1 << 24).toDouble
    val w = Window.partitionBy(groupCol).orderBy(desc("__es"), col(keyCol))
    df.withColumn("__es", log(u) / col(weightCol).cast("double"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__es", "__rn")
  }

  /** Deterministic train/val/test (or any n-way) split assignment: label by
    * which md5-prefix band the key falls in. `cuts` are (upperHex4, label)
    * pairs in ascending order; keys above every cut get `elseLabel`. Pure
    * column expression — map-only, partitioning-independent, and the exact
    * same split reproduces anywhere (including the DuckDB oracle, q61).
    * Disjointness and coverage are by construction, not by bookkeeping.
    */
  def splitColumn(key: Column, cuts: Seq[(String, String)], elseLabel: String): Column = {
    require(cuts.nonEmpty && cuts.map(_._1).forall(_.matches("[0-9a-f]{4}")),
      "cuts = ascending 4-hex-char upper bounds")
    val pfx = substring(md5(key.cast("string")), 1, 4)
    cuts.foldRight(lit(elseLabel): Column) { case ((hex, label), acc) =>
      when(pfx < hex, lit(label)).otherwise(acc)
    }
  }
  /** Deterministic fractional-epoch upsampling — the mixture-weighting
    * step of a pretraining corpus build ("2.3 epochs of wiki, 0.7 of
    * crawl"): each row is replicated `floor(epochs)` times plus one more
    * for the md5-band fraction of rows selected by the fractional part, so
    * the expected multiplicity is exactly `epochs` and the REALIZED
    * multiset is a pure function of (key, epochs) — identical on any
    * cluster size, partitioning, or engine (the q81 DuckDB oracle replays
    * it with generate_series). `copy_idx` (0-based) disambiguates copies
    * so a downstream shuffle/pack stage can treat them as distinct rows.
    *
    * Scale shape: map-only explode — no shuffle, no window, and the
    * expansion factor is the mixture weight itself (bounded by
    * construction; a 10^12-row source at 2.3 epochs emits 2.3·10^12 rows,
    * which is the point). The fractional-part hash is salted with
    * ':epoch' so membership decorrelates from every other hash-derived
    * assignment (split/mixture/sample — the round-3 lesson).
    *
    * `epochs` may be any non-negative column expression (per-source join,
    * literal, quality-derived); rows with epochs = 0 vanish — epoch
    * weighting subsumes keep-rate downsampling.
    */
  /** Mixture PLANNING (the sizing face; [[weightedMixture]] /
    * [[epochExpand]] are the apply faces): given per-stratum target
    * weights and a total token budget, compute per-stratum inventory and
    * the sampling rate that realizes the mixture. ALL-INTEGER arithmetic
    * (ppm weights, `div` integer division) so two engines can never
    * disagree by a ulp — rates land as exact ppm BIGINTs.
    *
    * One hash shuffle (the inventory aggregate); output is one row per
    * stratum, so the plan itself is driver-scale by construction.
    * `rate_ppm` is capped at 10⁶ — a stratum with fewer tokens than its
    * target keeps everything (upsampling beyond 1.0 is [[epochExpand]]'s
    * job; compare target_tokens vs n_tokens to find those strata).
    */
  def mixturePlan(
      df: DataFrame, stratumCol: String, tokens: Column,
      weightsPpm: Map[String, Long], targetTokens: Long): DataFrame = {
    // exact-integer arithmetic bounds the budget: target_tokens·10⁶ must
    // fit in 63 bits, so budgets beyond ~9.2e12 tokens should be planned
    // in kilotoken units (scale `tokens` and `targetTokens` together —
    // the ppm rates are unit-invariant)
    require(targetTokens >= 1L && targetTokens <= 9_000_000_000_000L,
      "targetTokens in [1, 9e12] (use kilotoken units beyond)")
    require(weightsPpm.values.forall(w => w >= 0L && w <= 1000000L),
      "weights in [0, 1e6] ppm")
    val w = weightsPpm.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    val inv = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("n_tokens"))
      .withColumn("weight_ppm", w)
    inv
      .withColumn("target_tokens",
        call_function("div", col("weight_ppm") * lit(targetTokens),
          lit(1000000L)))
      .withColumn("rate_ppm",
        least(lit(1000000L), call_function("div",
          col("target_tokens") * lit(1000000L),
          greatest(col("n_tokens"), lit(1L)))))
      .withColumn("expected_tokens", {
        // n·rate/10⁶ via the exact q/r split — n = q·10⁶ + r makes
        // div(n·rate, 10⁶) = q·rate + div(r·rate, 10⁶) identically, and
        // neither product can overflow even for a 10¹⁴-token stratum
        // (n·rate directly would overflow past ~9.2e12 tokens)
        val q = call_function("div", col("n_tokens"), lit(1000000L))
        val r = col("n_tokens") - q * lit(1000000L)
        q * col("rate_ppm") +
          call_function("div", r * col("rate_ppm"), lit(1000000L))
      })
  }

  def epochExpand(df: DataFrame, keyCol: String, epochs: Column): DataFrame = {
    val e = epochs.cast("double")
    val whole = floor(e).cast("long")
    // md5-band uniform in [0,1): same 24-bit-prefix construction as the
    // weighted race, salted for decorrelation
    val u = (conv(substring(md5(concat(col(keyCol).cast("string"),
      lit(":epoch"))), 1, 6), 16, 10).cast("double") + 0.5) / (1 << 24).toDouble
    val n = (whole + when(u < (e - whole.cast("double")), 1L).otherwise(0L))
      .cast("long")
    df.withColumn("__n", n)
      .withColumn("copy_idx",
        explode(when(col("__n") === 0L, array().cast("array<bigint>"))
          .otherwise(sequence(lit(0L), col("__n") - 1L))))
      .drop("__n")
  }

  /** α=½ temperature-scaled mixture shares — the multilingual-sampling
    * staple (XLM-R-style upweighting of small sources): each stratum's
    * target share ∝ √(its inventory), flattening the natural distribution
    * without inverting it. Returns one row per stratum:
    * (stratum, n_docs, sqrt_ppm, share_ppm); downstream, q93's
    * `mixturePlan`-style sizing or `weightedMixture` consumes the shares.
    *
    * √ is chosen deliberately over a general temperature exponent:
    * IEEE-754 requires sqrt to be CORRECTLY ROUNDED, so both engines get
    * the bit-identical double from the same long — where a general
    * `pow(n, 1/T)` (= exp(ln·)) is NOT correctly rounded and may differ
    * by a ulp cross-engine/cross-libm. Each stratum's √n lands as an
    * exact `floor(√n · 10⁶)` long FIRST; the normalizing sum and the
    * share division are then pure integer/pinned-double ops — no
    * double SUM ever happens, so the result is order-independent (the
    * columnEntropy rule). One partial-combine count; stratum-cardinality
    * output.
    */
  /** Deterministic corpus shuffle order — "randomize a 100 TB corpus for
    * training" WITHOUT a global sort. The permutation is hash-derived and
    * therefore a pure function of (seed, id): reproducible on any cluster
    * size, any partitioning, any engine (md5, the house oracle-replayable
    * hash). Emits (id, shard, shard_pos, global_idx) with `global_idx` a
    * bijection onto [0, N): writers `repartition($"shard")
    * .sortWithinPartitions($"shard_pos")` and readers concatenate shards
    * in shard order — the global sort never happens, yet the order is a
    * fixed uniform permutation.
    *
    * Scale shape: the only corpus-wide shuffle is the per-shard
    * `row_number` window on narrow (id, 60-bit hash) rows — nShards
    * independent tasks; shard offsets are an nShards-row cumulative frame
    * broadcast back (the packByBudget offset pattern). Hash ties break on
    * id, so the order is total and partitioning-invariant. A new epoch is
    * a new `seed` — a brand-new permutation, no state carried.
    */
  def shuffleOrder(
      df: DataFrame,
      idCol: String,
      seed: String = "epoch0",
      nShards: Int = 1024): DataFrame = {
    require(nShards >= 1, "nShards >= 1")
    val h = conv(substring(
      md5(concat(lit(seed + ":"), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val keyed = df.select(col(idCol), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards)).cast("int"))
    val pos = keyed
      .withColumn("shard_pos",
        (row_number().over(
          Window.partitionBy("shard").orderBy(col("__h"), col(idCol))) - 1)
          .cast("long"))
    val offsets = keyed.groupBy("shard").agg(count(lit(1)).as("__sz"))
      .withColumn("__off",
        coalesce(sum("__sz").over(Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("__off"))
    pos.join(broadcast(offsets), Seq("shard"))
      .select(col(idCol), col("shard"), col("shard_pos"),
        (col("__off") + col("shard_pos")).as("global_idx"))
  }

  def alphaShares(df: DataFrame, stratumCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("sqrt_ppm",
        floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0))
          .cast("long"))
    val tot = counts.agg(sum("sqrt_ppm").as("__tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_docs"), col("sqrt_ppm"),
        floor(col("sqrt_ppm").cast("double") * lit(1000000.0) / col("__tot"))
          .cast("long").as("share_ppm"))
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over a (src, dst) edge table — the web-corpus
  * companion of [[WebText]]'s URL/domain ops: a crawl-scale corpus build
  * ranks domains/documents by link structure (seed selection, spam
  * down-weighting, crawl-frontier priority) before any text is fetched.
  * The reference has no graph surface (one record at a time); this is part
  * of the training-data-pipeline additions from the builder brief.
  *
  * Design: EXACT INTEGER PageRank. Ranks live in ppm longs (initial rank
  * = 10⁶ = "1.0 per node"), each power iteration is
  * `new = (1−d) + d · Σ contrib` computed as
  * `150000 + (85 · Σ) div 100` in pure long arithmetic (d = 0.85 pinned as
  * the 85/100 rational). No doubles anywhere, so the result is
  * order-independent under any partitioning AND bit-identical in the
  * DuckDB twin (q102) — the ppm-family rule (q93/q94) applied to an
  * iterative algorithm, where float drift would otherwise compound per
  * round. Truncation (`div`) loses < 1 ppm per node per round — noise at
  * ranking granularity, and both engines truncate identically.
  *
  * Scale shape:
  *  - per iteration: ONE equi-join of the edge table with the narrow
  *    (node, rank) frame on src, then ONE hash aggregate on dst — both
  *    shuffle 16-byte rows keyed by node id; AQE handles hub skew
  *    (a 10⁸-in-degree hub is a hot aggregate key with map-side partial
  *    combine, never a window).
  *  - out-degrees are computed once, joined once per round (narrow).
  *  - each round references `rank` once, so the plan grows linearly; an
  *    eager `localCheckpoint` every 8 rounds bounds its depth (the
  *    [[Connected.components]] lesson); on a cluster this is reliable
  *    `checkpoint` for lineage fault tolerance.
  *  - dangling nodes (no out-edges) keep receiving rank but emit none —
  *    the standard no-redistribution variant; mass is not conserved and
  *    the scaladoc says so (redistribution would need one extra one-row
  *    broadcast sum per round; callers ranking by relative order don't
  *    need it).
  *
  * Overflow: Σ contrib per node is bounded by in_degree · max_rank;
  * `85 · Σ` is computed with the exact quotient/remainder split
  * `85·(Σ div 100) + (85·(Σ mod 100)) div 100` (the q93 technique), so
  * the headroom bound is Σ < 2⁶³/85 ≈ 1.08e17 ppm — an in-degree of
  * ~10¹¹ at typical ranks before saturation, far past any real hub at
  * 10¹² documents.
  */
object Graph {

  /** @param edges (srcCol, dstCol) long-keyed directed edges; duplicate
    *              edges count twice (pre-`distinct()` them to collapse)
    * @param iters power-iteration rounds (fixed count — rank ordering
    *              stabilizes in a handful of rounds; convergence testing
    *              would cost a driver action per round)
    * @return (node, rank_ppm) for every node appearing in `edges`
    */
  def pagerankInt(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters in [1, 50]")
    // Shared inputs are LAZY localCheckpoints: each is referenced once per
    // round, so the truncated plan keeps Catalyst analysis linear in
    // `iters`, and the blocks materialize inside the caller's single action
    // on first use (then every later round reads cached blocks). No
    // per-round driver job exists at all below the checkpoint cadence —
    // the round-4 shape (eager checkpoint per round) paid one scheduler
    // round-trip per iteration for data that is two longs per row.
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(false)
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)

    var rank = nodes.select(col("node"), lit(1000000L).as("rank_ppm"))
    var i = 0
    while (i < iters) {
      i += 1
      val contrib = e
        .join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .join(outDeg.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank_ppm div deg").as("__c"))
        .groupBy("node")
        .agg(sum("__c").as("__s"))
      rank = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + when(col("__s").isNull, lit(0L)).otherwise(
            lit(85L) * expr("__s div 100") +
              expr("(85 * (__s % 100)) div 100"))).as("rank_ppm"))
      // Plan growth is LINEAR here (each round references `rank` once), so
      // no per-round truncation is needed; an EAGER checkpoint every 8
      // rounds bounds both plan depth and recompute lineage for large
      // `iters` (50 max) without paying one job per round at small `iters`.
      // A superseded checkpoint's blocks stay cached until the
      // ContextCleaner collects its RDD (`unpersist` does not release a
      // localCheckpoint).
      if (i % 8 == 0 && i < iters) rank = rank.localCheckpoint(true)
    }
    // lazy: a caller's first action computes the rounds once, later
    // actions read the blocks instead of re-running the joins
    rank.localCheckpoint(false)
  }
}

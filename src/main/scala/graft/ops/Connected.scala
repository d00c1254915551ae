package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over an edge list — the clustering step that turns
  * near-duplicate PAIRS (minhash/simhash/cosine output) into duplicate
  * GROUPS with one canonical keeper per group. The reference resolves
  * `@id` references one record at a time (`src/core/models.py:282`);
  * at corpus scale the same "resolve everything reachable" semantics is a
  * connected-components problem.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each round is
  * two narrow (node, node) shuffles; converges in O(log n) rounds even on
  * chain graphs (where naive min-label propagation needs O(diameter) rounds).
  * No driver-side graph state — the driver loop only compares a (count,
  * hash-sum) fingerprint per round for convergence.
  *
  * Scale notes: edge rows are two integral ids — the shuffles stay tiny
  * relative to any text/dedup stage that produced the pairs; every round is
  * a lazy localCheckpoint so the plan does not grow across iterations (on a
  * cluster this would be `checkpoint` to the reliable store). A superseded
  * round's checkpoint blocks stay cached until the ContextCleaner collects
  * its RDD — `unpersist` does not release a localCheckpoint — so the
  * per-round footprint is not bounded by two edge sets.
  */
object Connected {

  /** Canonical undirected edge form: (a, b) with a > b, self-loops dropped,
    * duplicates collapsed. Input columns must be two integral id columns
    * named `a` and `b`.
    */
  private def canonical(e: DataFrame): DataFrame =
    e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Large-star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). Output keeps the
    * a > b invariant: emitted (v, m) has v > u >= m. Emits exactly ONE row
    * per input row (the (u=b, v=a) adjacency of each edge is the only one
    * passing v > u), so round volume never grows.
    *
    * The round-1 trailing `distinct()` is gone (guide §2.4): every
    * downstream consumer — [[smallStar]]'s min-aggregate and join — is
    * duplicate-insensitive at the SET level, the round's multiset size is
    * invariant (see above), and the map-side partial aggregates already
    * collapse duplicates before they reach the wire; the distinct bought
    * one full exchange per round for nothing.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val mins = adj.groupBy("u")
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    adj.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
  }

  /** Small-star: every node connects its smaller neighbors (and itself) to
    * the minimum of those. Input/output both hold the a > b invariant.
    *
    * One join, no union branch, no trailing distinct (3 exchanges fewer
    * per round than the round-5 form, PlanSpec-pinned): the group's SELF
    * row (a, m) is emitted by REDIRECTING the rows that attain the group
    * minimum (b == m) — every group has at least one, duplicates collapse
    * in the next round's aggregates / the final extraction's distinct —
    * so the old `unionAll(mins)` branch (which re-computed the aggregate
    * subtree) and its dedup exchange vanish. Emitted SET is identical to
    * the textbook form: {(b, m) : b ≠ m} ∪ {(a, m)}; emitted multiset has
    * exactly one row per input row, so round volume stays ≤ the canonical
    * edge count forever. m < a always (m = min of b's and b < a), so the
    * a ≠ b guard only defends degenerate inputs.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("a").agg(min(col("b")).as("m"))
    e.join(mins, "a")
      .select(
        when(col("b") === col("m"), col("a")).otherwise(col("b")).as("na"),
        col("m").as("nb"))
      .filter(col("na") =!= col("nb"))
      .select(col("na").as("a"), col("nb").as("b"))
  }

  /** Size-gated LOCAL fast path for [[components]]: a graph whose
    * canonical edge count is at or under the threshold collects to the
    * driver (bounded: 100k edges = 1.6 MB of longs, the same bounded-
    * driver-action class as the k×dim centroid collects) and resolves by
    * union-find with min-label relabeling — identical output to the
    * distributed loop, since "component = min reachable id" is algorithm-
    * independent. Rationale: the alternating-star loop needs O(log n)
    * rounds REGARDLESS of size, and each round costs several scheduler
    * barriers — on the small pair graphs real dedup stages emit (near-dup
    * pairs are rare by construction) the loop is pure overhead, while any
    * graph over the threshold keeps the scale path. The hybrid-cutoff
    * pattern, applied to rounds instead of comparisons.
    */
  private def componentsLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val aType = e.schema("a").dataType
    val rows = e.select(col("a").cast("long"), col("b").cast("long")).collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    // iterative find + full path compression (recursion could stack-
    // overflow on an adversarial union order at the threshold size)
    def find(x0: Long): Long = {
      var r = x0
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var x = x0
      while (x != r) { val nxt = parent(x); parent(x) = r; x = nxt }
      r
    }
    rows.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // per-root minimum = component label (find already path-compresses to
    // the min, because unions always point the larger root at the smaller)
    val out = parent.keys.toSeq.map(k => (k, find(k)))
    import spark.implicits._
    out.toDF("id", "component")
      .select(col("id").cast(aType).as("id"),
        col("component").cast(aType).as("component"))
  }

  /** Component assignment for every node that appears in `edges` (cols
    * `a`, `b`, both of an integral type): returns (id, component) where
    * component = min node id reachable. Nodes with no edges are the
    * caller's to union in (they are their own component and never entered
    * the edge list). Graphs of at most `localThreshold` canonical edges
    * resolve on the driver ([[componentsLocal]]).
    */
  def components(
      edges: DataFrame, maxRounds: Int = 50,
      localThreshold: Long = 100000L): DataFrame = {
    // both paths read the ids as longs (componentsLocal's cast, the
    // fingerprint's getLong); a string id would cast to null and merge
    // every node into one component
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    Seq("a", "b").foreach(c => require(integral(edges.schema(c).dataType),
      s"edge column $c must be integral, got ${edges.schema(c).dataType.sql}"))
    require(0 <= localThreshold && localThreshold <= 1000000L,
      "localThreshold in [0, 1000000]: the local path collects that many edges")
    // localCheckpoint each round: a round is ~6 nested operators, so the
    // un-truncated logical plan doubles per iteration and Catalyst analysis
    // goes exponential by round ~4 (measured: minutes on a 500-edge input).
    // The checkpoint is LAZY (eager=false): the Dataset's plan is truncated
    // to a LogicalRDD either way, and the round's fingerprint collect is the
    // first action, so it materializes the (tiny, two-long) edge rows AND
    // saves the checkpoint in ONE job instead of a materialize job followed
    // by a fingerprint job — half the scheduler round-trips per iteration
    // (measured: the per-round cost here is job overhead, not data). On a
    // cluster this would be reliable `checkpoint` for fault tolerance.
    var e = canonical(edges).localCheckpoint(false)
    var fp = fingerprint(e) // materializes e; _1 is the exact edge count
    if (fp._1 <= localThreshold) return componentsLocal(e)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      e = smallStar(largeStar(e)).localCheckpoint(false)
      val nfp = fingerprint(e) // materializes `e` (and its checkpoint)
      converged = nfp == fp
      fp = nfp
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")
    // At the fixpoint the edge set is a forest of stars: (child, root).
    e.select(col("a").as("id"), col("b").as("component"))
      .unionAll(e.select(col("b").as("id"), col("b").as("component")))
      .distinct()
  }

  /** Cheap deterministic edge-set fingerprint for the convergence test:
    * (row count, xor of per-edge hashes). Order-independent by
    * construction (count + xor commute), and computed as an RDD
    * mapPartitions + driver combine of one (count, xor) pair per partition
    * — it rides the SAME result stage that materializes the round's lazy
    * checkpoint, so the convergence test costs ZERO extra stages (the SQL
    * `agg` form added a partial/final aggregate pair with an exchange
    * every round). The hash is internal round-over-round state, never
    * exposed — any strong 64-bit mix works.
    *
    * The fingerprint is over the round's MULTISET (rounds no longer dedupe
    * — see [[smallStar]]). A multiset fixpoint implies a set fixpoint
    * (each operator emits a row iff its set-level inputs exist), and at a
    * star forest the round maps each row to itself, so the multiset
    * stabilizes at most one round after the set does — the convergence
    * guarantee is unchanged.
    */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    def mix(z0: Long): Long = { // splitmix64 finalizer
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val parts = e.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val r = it.next()
        n += 1
        h ^= mix(mix(r.getLong(0)) ^ java.lang.Long.rotateLeft(mix(r.getLong(1)), 17))
      }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(_ ^ _))
  }

  /** Duplicate-group resolution: given near-dup pairs (id_a, id_b, …) and
    * the full corpus keyed by `keyCol`, returns every document with its
    * `cluster_id` (min reachable id; singletons cluster to themselves) and
    * `is_keeper` — the boolean a dedup pipeline filters on.
    */
  def dedupClusters(
      corpus: DataFrame,
      pairs: DataFrame,
      keyCol: String): DataFrame = {
    val comp = components(
      pairs.select(col("id_a").as("a"), col("id_b").as("b")))
    corpus.select(col(keyCol).as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster_id"))
      .withColumn("is_keeper", col("id") === col("cluster_id"))
  }

  /** Quality-ranked duplicate resolution — the "dedup apply" step: like
    * [[dedupClusters]] but the keeper is the BEST document per cluster
    * (max `rankCol`, ties to the smallest id), not the smallest id. This is
    * what a corpus build actually wants: near-dup groups keep their
    * highest-quality member, not their numerically-first one.
    *
    * Skew note: keeper selection is `max(struct(rank, -id))` — a partial
    * aggregate (map-side combine), so an adversarial corpus where one
    * cluster swallows millions of documents never materializes on a single
    * task the way a per-cluster `row_number` window would. Only narrow
    * (id, cluster, rank) rows shuffle; text never enters.
    */
  def keepBestClusters(
      corpus: DataFrame,
      pairs: DataFrame,
      keyCol: String,
      rankCol: String): DataFrame = {
    val comp = components(
      pairs.select(col("id_a").as("a"), col("id_b").as("b")))
    val withComp = corpus.select(col(keyCol).as("id"), col(rankCol))
      .join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster_id"), col(rankCol))
    val winners = withComp.groupBy("cluster_id")
      .agg(max(struct(col(rankCol).as("r"), (-col("id")).as("negid"))).as("w"))
      .select(col("cluster_id"), (-col("w.negid")).as("keep_id"))
    withComp.join(winners, "cluster_id")
      .select(col("id"), col("cluster_id"), col(rankCol),
        (col("id") === col("keep_id")).as("is_keeper"))
  }
}

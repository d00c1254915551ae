package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a deterministic
  * random-hyperplane LSH bucketed variant as the scale path (candidates come
  * from an equi-join on bucket key — O(n/2^bits) per query instead of O(n)).
  * Vector math is `zip_with` + `aggregate` folds in double precision —
  * built-in, codegen-friendly, no UDF, no MLlib.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Codegen'd fused-loop cosine (see [[graft.functions.CosineSimilarity]]);
    * bit-identical math to the HOF form it replaced.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Index-entry guard shared by every ANN / SemDeDup / cartography entry
    * point: rows with a NULL embedding never enter the index, and when the
    * frame carries the `embedding_real` flag
    * ([[Multimodal.featuresFromPacked]]'s marker) only flagged-real rows
    * do. This closes the failure mode where synthetic stub vectors (JPEG
    * and other undecodable payloads) silently cluster with real ones; a
    * caller who genuinely wants stub vectors indexed must drop the flag
    * column explicitly — an auditable act — rather than rely on a default.
    * Pure pushed-down filters: no extra job, no extra exchange.
    */
  private def realOnly(df: DataFrame): DataFrame = {
    val nn = df.filter(col("embedding").isNotNull)
    if (df.columns.contains("embedding_real")) nn.filter(col("embedding_real"))
    else nn
  }

  /** Stats-gated broadcast for the query side of the ANN joins (the
    * `Validator.orphanViolations` pattern, r5 verdict item): the intended
    * shape is a small query set riding a broadcast hash join, but a caller
    * passing a corpus-sized query frame must degrade to a plain shuffle
    * equi-join instead of OOMing the driver building the broadcast. The
    * optimizer's size estimate decides; under the threshold the plan is
    * byte-identical to the unconditional broadcast.
    */
  private def broadcastIfSmall(
      df: DataFrame, thresholdBytes: Long = 64L << 20): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= thresholdBytes)
      broadcast(df)
    else df

  /** Exact brute-force top-k: broadcast the (small) query set against the
    * full embedding table, rank per query. The join is broadcast-nested-loop
    * by construction (no key) — correct baseline; `annTopK` is the scale
    * path. Deterministic tie-break on vec_id.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int = 10): DataFrame = {
    val e = realOnly(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = realOnly(queries).select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val scored = e
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed, driver-side
    * constants — tiny, broadcast as literals).
    */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-of-projection LSH bucket key: bit j set iff dot(v, plane_j) > 0. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(graft.functions.DotProduct.dotProduct(vec, typedlit(p)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k with multiprobe: the query side probes
    * its own bucket plus every bucket at Hamming distance 1 (each sign bit
    * flipped), trading a (nBits+1)-way fan-out of the tiny query set for
    * much higher recall. Candidates come from an equi-join on the bucket
    * key instead of a cross join — per-query work is O(n·(nBits+1)/2^nBits)
    * instead of O(n).
    */
  def annTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nBits: Int = 8,
      dim: Int = 64,
      multiprobe: Boolean = true): DataFrame = {
    val planes = hyperplanes(dim, nBits)
    val e = realOnly(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
    val probes: Column => Column = b =>
      if (multiprobe)
        array((b +: (0 until nBits).map(i => b.bitwiseXOR(lit(1L << i)))): _*)
      else array(b)
    val q = realOnly(queries).select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("bucket", explode(probes(lshBucket(col("qv"), planes))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcastIfSmall(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cos"))
      .distinct() // a candidate can arrive via several probes
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic IVF-flat coarse quantizer: centroids are the `nCentroids`
    * vectors with the smallest `xxhash64(vec_id)` (a deterministic uniform
    * sample — no k-means iterations, no RNG). Index build collects ONLY the
    * centroid vectors to the driver (nCentroids × dim doubles — bytes, not
    * data) and broadcasts them as literals; assignment is a codegen'd
    * argmax over nCentroids fused-loop cosines, one map pass.
    */
  def ivfCentroids(
      embeddings: DataFrame, nCentroids: Int = 16): Seq[Seq[Double]] =
    realOnly(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy(xxhash64(col("vec_id")))
      .limit(nCentroids)
      .select("v").collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq

  /** Lloyd-refined centroids for [[ivfTopK]]: start from the deterministic
    * hash-sampled seeds ([[ivfCentroids]]) and run `iters` assign/recompute
    * rounds. Per round: assignment is the codegen'd argmax map pass; the
    * per-centroid mean reduces narrow (cid, pos, value) rows — the shuffle
    * never carries whole vectors; the k×dim result collects to the driver
    * (bytes, not data) and broadcasts back as literals next round.
    *
    * SPHERICAL update: members are unit-normalized before averaging (the
    * assignment is cosine, and the cosine-fit-maximizing centroid is the
    * mean DIRECTION of the members — averaging raw coordinates would let
    * long vectors dominate and can degrade fit; centroid scale itself is
    * irrelevant to cosine assignment). Zero-norm vectors pass through
    * unnormalized.
    *
    * Deterministic under any partitioning: seeds and assignment ties are
    * hash-fixed, and the mean accumulates as exact DECIMAL(30,15) (double
    * summation order would differ by partitioning at the ulp level and
    * could flip near-tie assignments). Empty clusters keep their previous
    * centroid.
    */
  def kmeansCentroids(
      embeddings: DataFrame,
      nCentroids: Int = 16,
      iters: Int = 2): Seq[Seq[Double]] = {
    var cents = ivfCentroids(embeddings, nCentroids)
    val raw = realOnly(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val nrm = l2norm(col("v"))
    // normalized members are consumed once per Lloyd round: lazy
    // checkpoint materializes them in round 1's mean-collect and every
    // later round reads blocks instead of re-scanning + re-normalizing
    // the corpus (one corpus pass per extra round saved at any scale)
    val e = raw.select(col("vec_id"),
      when(nrm > 0, transform(col("v"), x => x / nrm))
        .otherwise(col("v")).as("v"))
      .localCheckpoint(false)
    for (_ <- 0 until iters) {
      val means = e
        .withColumn("cid", ivfAssign(col("v"), cents))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(avg(col("x").cast("decimal(30,15)")).cast("double").as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"),
          transform(col("ps"), p => p.getField("m")).as("c"))
        .collect()
      val byCid = means.map(r =>
        r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
      cents = cents.indices.map(i => byCid.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Nearest-centroid id (argmax cosine; first index wins ties).
    *
    * Implemented as ONE `array_min` over (−cos, i) structs — struct
    * ordering is lexicographic, so the minimum is the highest cosine with
    * the smallest index breaking ties. A fold of `when(b > a, b)
    * .otherwise(a)` would reference the accumulator twice per step and
    * DOUBLE the expression tree per centroid (2^n blowup: 16 centroids
    * froze analysis for minutes — measured).
    */
  def ivfAssign(vec: Column, centroids: Seq[Seq[Double]]): Column =
    array_min(array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-cosine(vec, typedlit(c))).as("neg"), lit(i).as("i"))
    }: _*)).getField("i")

  /** IVF-flat approximate top-k: vectors are bucketed by nearest centroid
    * (one narrow map pass); each query probes its `nProbe` nearest
    * centroids' inverted lists via an equi-join on centroid id — per-query
    * work is O(n · nProbe / nCentroids) instead of O(n). The list-ranking
    * array ops run only on the (tiny, broadcast) query side.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(embeddings, nCentroids))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    probedCandidates(embeddings, queries, cents, nProbe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Shared IVF probe stage: (query_id, vec_id, cos) for every candidate
    * in each query's `nProbe` nearest cells, self excluded. Assignment is
    * the codegen argmax map pass; the query side (tiny) carries the
    * probe-list array ops and broadcasts into the inverted-list equi-join.
    */
  private def probedCandidates(
      embeddings: DataFrame, queries: DataFrame,
      cents: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    val e = realOnly(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cid", ivfAssign(col("v"), cents))
    val probeList = {
      // top nProbe centroid ids by cosine: sort struct(-cos, i) ascending
      val scoredArr = array(cents.zipWithIndex.map { case (c, i) =>
        struct((-cosine(col("qv"), typedlit(c))).as("neg"), lit(i).as("i"))
      }: _*)
      transform(slice(array_sort(scoredArr), 1, nProbe), x => x.getField("i"))
    }
    val q = realOnly(queries).select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("cid", explode(probeList))
    e.join(broadcastIfSmall(q), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cos"))
  }

  /** Hard-negative mining for contrastive retrieval training (the DPR/ANCE
    * recipe): per query, the top-k candidates inside a cosine band
    * `[loSim, hiSim)` — similar enough to be confusable (above `loSim`),
    * dissimilar enough to exclude positives/near-dups (below `hiSim`).
    * Mining rides the same IVF probe as [[ivfTopK]] (per-query work is
    * O(n·nProbe/nCentroids)); the band filter runs BEFORE the rank window,
    * so in-band candidates, not global top-k, are ranked.
    */
  def hardNegatives(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      loSim: Double = 0.2,
      hiSim: Double = 0.8,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    require(loSim < hiSim, "loSim < hiSim")
    val cents = centroids.getOrElse(ivfCentroids(embeddings, nCentroids))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    probedCandidates(embeddings, queries, cents, nProbe)
      .filter(col("cos") >= loSim && col("cos") < hiSim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** [[Dedup.bucketAudit]] of [[cosineNearDupPairs]]'s `maxBucket` cap on
    * the same hyperplane buckets: (n_buckets, n_oversized_buckets,
    * n_dropped_rows, n_dropped_pairs_ub). Zero oversized buckets certifies
    * the near-dup candidate generation lost nothing to the cap.
    */
  def cosineBucketAudit(
      embeddings: DataFrame,
      nBits: Int = 8,
      dim: Int = 64,
      maxBucket: Int = 2000): DataFrame = {
    val planes = hyperplanes(dim, nBits)
    Dedup.bucketAudit(
      realOnly(embeddings).select(col("vec_id").as("id"),
        lshBucket(asDouble(col("embedding")), planes).as("bucket")),
      "bucket", maxBucket)
  }

  /** Embedding near-duplicate pairs: LSH-bucket self-join then exact cosine
    * verify — the embedding-space member of the dedup family.
    */
  def cosineNearDupPairs(
      embeddings: DataFrame,
      threshold: Double = 0.95,
      nBits: Int = 8,
      dim: Int = 64,
      maxBucket: Int = 2000): DataFrame = {
    val planes = hyperplanes(dim, nBits)
    val e = realOnly(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // narrow candidate generation (ids only), vectors joined back after —
    // same shape as Dedup.minhashLshPairs, avoids shipping vectors through
    // the quadratic part
    val ids = e.select(col("vec_id"), col("bucket"))
    val ok = ids.join(
      ids.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .filter(col("bn") > 1 && col("bn") <= maxBucket),
      Seq("bucket"))
    ok.as("a")
      .join(ok.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster first, compare only WITHIN a cluster. Unlike
    * [[cosineNearDupPairs]]'s data-oblivious hyperplane buckets, the
    * blocking here follows the embedding distribution (k-means cells), the
    * published recipe for pruning semantically-redundant training data.
    *
    * Scale shape — the same discipline as every dedup-family op:
    * assignment is one codegen'd argmax map pass over broadcast centroid
    * literals; the quadratic part sees only narrow (vec_id, cid) rows with
    * a `maxCluster` cap (auditable via [[Dedup.bucketAudit]] on the
    * assignment); vectors join back onto
    * candidate ids only; the cosine gate is the fused-loop expression.
    *
    * Centroids are caller-provided so the q118 oracle can replay the exact
    * assignment in DuckDB (fixed literal centroids); the scale path gets
    * them from [[kmeansCentroids]] via [[semDedup]].
    */
  def semDedupPairs(
      embeddings: DataFrame,
      centroids: Seq[Seq[Double]],
      threshold: Double = 0.95,
      maxCluster: Int = 10000): DataFrame = {
    require(centroids.nonEmpty, "centroids required")
    val e = realOnly(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cid", ivfAssign(col("v"), centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = e.select(col("vec_id"), col("cid"))
    val ok = ids.join(
      ids.groupBy("cid").agg(count(lit(1)).as("cn"))
        .filter(col("cn") > 1 && col("cn") <= maxCluster),
      Seq("cid"))
    ok.as("a")
      .join(ok.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cid").as("cid"),
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("cid"), col("id_a"), col("id_b"),
        cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The full SemDeDup pipeline at scale: Lloyd-refined centroids →
    * within-cluster near-dup pairs → quality-ranked keeper resolution
    * ([[Connected.keepBestClusters]]: connected components, best `rankCol`
    * wins). Returns (id, cluster_id, rankCol, is_keeper) for every vector.
    */
  def semDedup(
      embeddings: DataFrame,
      ranks: DataFrame, // (vec_id, rankCol)
      rankCol: String,
      nCentroids: Int = 16,
      iters: Int = 2,
      threshold: Double = 0.95,
      maxCluster: Int = 10000): DataFrame = {
    val real = realOnly(embeddings)
    val cents = kmeansCentroids(real, nCentroids, iters)
    val pairs = semDedupPairs(real, cents, threshold, maxCluster)
    Connected.keepBestClusters(
      real.select(col("vec_id")).join(ranks, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col(rankCol), lit(0L)).as(rankCol)),
      pairs, "vec_id", rankCol)
  }

  /** Per-group embedding centroid cosine — corpus cartography: every
    * vector's cosine to ITS group's mean direction. A group whose members
    * all sit at cos ≈ 1 is a collapsed/duplicate-farm source; a long low
    * tail is a mixed or drifting one. Input must carry `groupCol`
    * alongside `vec_id`/`embedding`.
    *
    * Scale shape: centroids reduce NARROW (group, pos, value) rows — the
    * kmeans mean trick, vectors never shuffle whole — and the groups×dim
    * centroid frame broadcasts back onto a map-side codegen cosine pass.
    *
    * Parity (q129): per-dim centroid = CAST(sum(DECIMAL(30,15)) AS
    * DOUBLE) / n — the exact-decimal sum is order-independent, the final
    * double division deterministic — so both engines score the identical
    * centroid; per-row cosines land rounded (the q24 contract).
    */
  def groupCentroidCosine(
      embeddings: DataFrame, groupCol: String): DataFrame = {
    val e = realOnly(embeddings).select(col("vec_id"), col(groupCol),
      asDouble(col("embedding")).as("v"))
    val cents = e
      .select(col(groupCol), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(groupCol, "pos")
      .agg((sum(col("x").cast("decimal(30,15)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(groupCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select(col(groupCol),
        transform(col("ps"), p => p.getField("m")).as("cv"))
    e.join(broadcast(cents), Seq(groupCol))
      .select(col("vec_id"), col(groupCol),
        cosine(col("v"), col("cv")).as("cos_centroid"))
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth face
    * of the ANN family (a 10^12-vector index at float32 is 4× the bytes of
    * its int8 twin; IVF/LSH candidate scans read the int8 form and only
    * re-rank finalists at full precision). Each vector maps to
    * `q_i = floor(x_i / scale · 127 + 0.5)` with `scale = max|x_i|`, so
    * q ∈ [−127, 127] with no clamp branch; all-zero/empty/null vectors
    * quantize to scale 0 and an all-zero code.
    *
    * Scale shape: map-only, zero exchanges. `scale` materializes in its
    * own projection BEFORE the transform that references it — an inlined
    * array_max inside the lambda would re-reduce the whole vector per
    * element (the q78/q88 O(n²) interpreted-HOF lesson).
    *
    * Parity (q100): float→double casts are exact, the quantize expression
    * is one pinned IEEE sequence ending in floor (never round — the q73
    * tie lesson), and the integer checksums are exact sums. The code
    * vector itself travels as a comma-joined string so the oracle compare
    * is byte-for-byte.
    */
  def quantizeInt8(embeddings: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val v = asDouble(coalesce(col(vecCol), array().cast("array<float>")))
    embeddings
      .select(col(idCol), v.as("__v"))
      .select(col(idCol), col("__v"),
        coalesce(array_max(transform(col("__v"), x => abs(x))), lit(0.0))
          .as("scale"))
      .select(col(idCol), col("scale"),
        transform(col("__v"), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(floor(x / col("scale") * lit(127.0) + lit(0.5))
              .cast("int"))).as("__q"))
      .select(col(idCol),
        size(col("__q")).as("n_dims"),
        col("scale"),
        array_join(transform(col("__q"), _.cast("string")), ",").as("qvec"),
        aggregate(col("__q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("__q"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"))
  }
}

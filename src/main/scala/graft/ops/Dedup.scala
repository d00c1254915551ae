package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH (shingle → minhash → band → bucket self-join), SimHash with
  * Hamming-band blocking, and word-shingle Jaccard verification. All pure
  * built-in column expressions + relational ops — distributed, no
  * driver-side loops; candidate generation never compares all pairs
  * (O(n·bands) bucket join, giant buckets capped to bound skew). That
  * capped join is [[bucketPairs]], the one every near-duplicate operator in
  * `graft.ops` (here, [[Similarity]], [[SpanDedup]]) runs.
  */
object Dedup {

  /** Exact dedup via hash-groupBy: one shuffle on md5(text); emits one row
    * per content group with the canonical keeper (min key) and group size.
    */
  def exactGroups(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    df.groupBy(md5(coalesce(col(textCol), lit(""))).as("content_hash"))
      .agg(
        count(lit(1)).as("n"),
        min(col(keyCol)).as("keep_id"))

  /** Incremental ingest dedup (day-2 of a living corpus): drop arriving
    * documents whose exact content hash already exists in the historical
    * store, then exact-dedup within the arrivals themselves (keeper =
    * min key). The history side is a HASH table — one md5 per document,
    * never text — so at 10¹² docs the store is ~TBs of hashes against
    * 100s of TBs of corpus, and the comparison is a left_anti equi-join
    * on the hash (broadcast when stats allow, SMJ otherwise; text never
    * crosses an exchange). Returns the surviving arrival rows with their
    * original columns.
    */
  def incrementalNew(
      arrivals: DataFrame, textCol: String, keyCol: String,
      seenHashes: DataFrame, hashCol: String): DataFrame = {
    val withHash = arrivals.withColumn("__ch",
      md5(coalesce(col(textCol), lit(""))))
    val fresh = withHash.join(
      seenHashes.select(col(hashCol).as("__ch")), Seq("__ch"), "left_anti")
    val keep = fresh.groupBy(col("__ch"))
      .agg(min(col(keyCol)).as(keyCol))
      .select(col(keyCol))
    fresh.join(keep, Seq(keyCol), "left_semi").drop("__ch")
  }

  /** The dedup family's shared tokenization: lowercase, trim, split on
    * whitespace. Materialize THIS as a column before building shingles in
    * any DataFrame-level operator — see [[shinglesOfWords]].
    */
  def splitWords(c: Column): Column =
    split(lower(trim(coalesce(c, lit("")))), "\\s+")

  /** Distinct word `n`-gram shingles over an ALREADY-MATERIALIZED word
    * array. The array must be a projected column, not an inline split():
    * interpreted higher-order lambdas have no subexpression elimination,
    * so an inlined split re-tokenizes the document for every gram —
    * O(words²) splits per doc (found round 4 at 50–70× on the span/ngram
    * ops; this family had the same disease via [[shingles]]).
    */
  def shinglesOfWords(words: Column, n: Int): Column =
    array_distinct(
      when(size(words) < n, array(concat_ws(" ", words)))
        .otherwise(transform(
          sequence(lit(1), size(words) - (n - 1)),
          i => concat_ws(" ", slice(words, i, lit(n))))))

  /** Lowercased word `n`-gram shingles, distinct — the scalar-context
    * form (specs, one-off expressions). DataFrame-level operators must
    * project [[splitWords]] first and call [[shinglesOfWords]]: used
    * inline, this form pays the O(words²) interpreted-lambda re-split.
    */
  def shingles(c: Column, n: Int = 3): Column =
    shinglesOfWords(splitWords(c), n)

  /** MinHash signatures: explode shingles to rows, hash each shingle string
    * ONCE, then compute all k running minima in a single native
    * [[graft.functions.MinHashSignature]] aggregate (one buffer of k longs,
    * map-side partial combine, outer hash mixed once per row).
    *
    * History of this shape (both alternatives measured): nested
    * higher-order-function lambdas run interpreted (~30x slower, re-built
    * the shingles k times); k separate `min(xxhash64(h, j))` column
    * aggregates were bit-identical but JIT-compiled a k-branch generated
    * method for seconds on first use and re-folded the hash from the seed k
    * times per row. The explode+groupBy shape is the one that scales:
    * shuffle is (id, 8-byte hash) rows, the aggregation buffer is k
    * fixed-width longs.
    */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 3,
      k: Int = 64): DataFrame = {
    df
      .select(col(keyCol).as("id"), splitWords(col(textCol)).as("__w"))
      .select(col("id"), explode(shinglesOfWords(col("__w"), n)).as("sh"))
      .select(col("id"), xxhash64(col("sh")).as("h"))
      .groupBy("id")
      .agg(graft.functions.MinHashSignature.minhashSig(col("h"), k).as("sig"))
  }

  /** LSH band keys: split the k-length signature into `bands` bands of
    * k/bands rows each; band key = hash(band slice, band index). Documents
    * sharing any band key become candidate pairs.
    */
  def bandKeys(sigCol: Column, k: Int = 64, bands: Int = 16): Column = {
    val r = k / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sigCol, b * r + 1, lit(r)), b))
  }

  /** Exploded (id, band-key) rows for the LSH bucket join — shared by the
    * pair ops and [[minhashBucketAudit]] so both see the same buckets.
    */
  private def minhashBanded(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("id"), explode(bandKeys(col("sig"), k, bands)).as("bucket"))

  /** The bucket cap [[bucketPairs]] applies and [[bucketAudit]] reports on:
    * a bucket of more than `maxBucket` rows is dropped whole.
    */
  private def overCap(bn: Column, maxBucket: Int): Column = bn > maxBucket

  /** The capped bucket self-join behind every near-duplicate candidate
    * generator (minhash and simhash bands, hyperplane buckets, k-means
    * cells, span fingerprints). From narrow `(id, bucket)` rows it emits
    * one `(bucket, id_a, id_b)` row per pair with `id_a < id_b` that shares
    * a bucket of 2..`maxBucket` rows; a pair sharing several buckets
    * appears once per bucket. Oversized buckets (boilerplate bands, which
    * exact dedup upstream owns) are dropped BEFORE the self-join, since
    * they square the pair count; never all-pairs, ids only through the
    * quadratic part.
    */
  private[graft] def bucketPairs(rows: DataFrame, maxBucket: Int): DataFrame = {
    val ok = rows.join(
      rows.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .filter(col("bn") > 1 && !overCap(col("bn"), maxBucket)),
      Seq("bucket"))
    ok.as("a")
      .join(ok.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.bucket").as("bucket"),
        col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Joins column `name` of the per-id frame `byId` (with an `id` column)
    * onto both sides of a pair frame, as `name_a` and `name_b`.
    */
  private[ops] def bothSides(
      pairs: DataFrame, byId: DataFrame, name: String): DataFrame =
    pairs
      .join(byId.select(col("id").as("id_a"), col(name).as(s"${name}_a")), "id_a")
      .join(byId.select(col("id").as("id_b"), col(name).as(s"${name}_b")), "id_b")

  /** One-row audit of [[bucketPairs]]' cap over the same narrow
    * `(id, bucket)` rows: how many buckets the cap dropped and how many
    * member rows (and candidate pairs, as an upper bound) went with them.
    * The caps in the dedup/ANN family deliberately drop pathological
    * buckets, but at 100 TB a heavy-boilerplate corpus could lose real
    * near-dup pairs invisibly; this makes the truncation auditable.
    * `n_dropped_pairs_ub` is a DOUBLE (bn·(bn−1)/2 over dropped buckets can
    * exceed long range on planet-scale hot buckets).
    */
  private[graft] def bucketAudit(rows: DataFrame, maxBucket: Int): DataFrame = {
    val over = overCap(col("bn"), maxBucket)
    rows.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .agg(
        count(lit(1)).as("n_buckets"),
        coalesce(sum(when(over, 1L)), lit(0L)).as("n_oversized_buckets"),
        coalesce(sum(when(over, col("bn"))), lit(0L)).as("n_dropped_rows"),
        coalesce(sum(when(over,
          col("bn").cast("double") * (col("bn") - 1) / 2)), lit(0.0))
          .as("n_dropped_pairs_ub"))
  }

  /** Audit of [[minhashLshPairs]]/[[minhashLshPairsExact]]'s `maxBucket`
    * cap on the same corpus and parameters: emits (n_buckets,
    * n_oversized_buckets, n_dropped_rows, n_dropped_pairs_ub). Zero
    * oversized buckets certifies the candidate generation lost nothing.
    */
  def minhashBucketAudit(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 200): DataFrame =
    bucketAudit(
      minhashBanded(minhashSignatures(df, textCol, keyCol, n, k), k, bands),
      maxBucket)

  /** MinHash-LSH near-duplicate candidate pairs with signature Jaccard
    * verification. Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold.
    *
    * Scale design: candidates come from [[bucketPairs]] over the exploded
    * band keys, deduped across bands before any signature work (a pair
    * sharing many bands is verified once); the Jaccard check intersects
    * the *signatures* (unbiased estimator, |sig∩|/k) instead of re-joining
    * full shingle sets, keeping the verify stage O(pairs·k).
    *
    * The signatures feed the band explode, the bucket count, the join and
    * the verification, so they are a lazy `localCheckpoint`, computed once
    * on the first action. Unlike a persist, the checkpoint registers no
    * CacheManager entry: nothing outlives the returned frame, and no later
    * plan over the same input is served these rows.
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 200): DataFrame = {
    val sigs = minhashSignatures(df, textCol, keyCol, n, k).localCheckpoint(false)
    val cand = bucketPairs(minhashBanded(sigs, k, bands), maxBucket)
      .select(col("id_a"), col("id_b")).distinct()
    bothSides(cand, sigs, "sig")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sig_a"), col("sig_b"))).cast("double") / k)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash-LSH candidates verified by EXACT word-shingle Jaccard (text
    * joined back to the candidate ids): output is a strict subset of the
    * exact-Jaccard pair set, differing only by LSH recall. With the default
    * 16 bands × 4 rows, a true-Jaccard-0.9 pair is missed with probability
    * (1 − 0.9⁴)¹⁶ ≈ 4·10⁻⁸ — so on corpora whose near-dups sit well above
    * `threshold` (the synthetic documents table has a clean gap: nothing
    * between ~0.1 and 0.9) the output EQUALS the exact pair set, which is
    * what the q38 DuckDB oracle certifies, recall included.
    */
  def minhashLshPairsExact(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 200): DataFrame = {
    val sigs = minhashSignatures(df, textCol, keyCol, n, k).localCheckpoint(false)
    // text joins back to the (rare) candidate pairs as before — but the
    // exact-Jaccard verify is STAGED: words, then shingle arrays, then
    // the intersection, each in its own projection. Inline jaccard()
    // here re-split the text per shingle element (the interpreted-HOF
    // trap); joining pre-built shingle ARRAYS instead was measured 6×
    // WORSE (every doc pays the build and the join moves arrays bigger
    // than the text) — staging after the join computes shingles only
    // for candidates and moves only text.
    val cand = bucketPairs(minhashBanded(sigs, k, bands), maxBucket)
      .select(col("id_a"), col("id_b")).distinct()
    bothSides(cand, df.select(col(keyCol).as("id"), col(textCol).as("text")),
        "text")
      .select(col("id_a"), col("id_b"),
        splitWords(col("text_a")).as("__wa"),
        splitWords(col("text_b")).as("__wb"))
      .select(col("id_a"), col("id_b"),
        shinglesOfWords(col("__wa"), n).as("sh_a"),
        shinglesOfWords(col("__wb"), n).as("sh_b"))
      .select(col("id_a"), col("id_b"),
        jaccardOfShingles(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash per document: bit i of the hash is the sign of the sum
    * over distinct tokens of (token-hash bit i ? +1 : -1). Explode tokens →
    * hash once → one native [[graft.functions.SimHash64]] aggregate (64
    * vote counters in one buffer; the earlier 64-sum relational form was
    * bit-identical but JIT-heavy, and the HOF formulation with
    * column-valued shifts runs interpreted — same findings as
    * [[minhashSignatures]]).
    */
  def simhashSignatures(
      df: DataFrame,
      textCol: String,
      keyCol: String): DataFrame = {
    df
      .select(col(keyCol).as("id"),
        explode(array_distinct(
          split(lower(trim(coalesce(col(textCol), lit("")))), "\\s+"))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
      .groupBy("id")
      .agg(graft.functions.SimHash64.simhash64(col("h")).as("sim"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exploded (id, 16-bit-band key) rows — shared by [[simhashPairs]] and
    * [[simhashBucketAudit]].
    */
  private def simhashBanded(sims: DataFrame): DataFrame =
    sims.select(
      col("id"),
      explode(array((0 to 3).map(bnd =>
        concat_ws(":", lit(bnd),
          shiftrightunsigned(col("sim"), bnd * 16)
            .bitwiseAND(lit(0xffffL)))): _*)).as("bucket"))

  /** [[bucketAudit]] of [[simhashPairs]]'s `maxBucket` cap. */
  def simhashBucketAudit(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      maxBucket: Int = 200): DataFrame =
    bucketAudit(simhashBanded(simhashSignatures(df, textCol, keyCol)),
      maxBucket)

  /** SimHash near-duplicate pairs: block on 4×16-bit bands (two hashes
    * within Hamming distance ≤ 3 of each other share at least one exact
    * 16-bit band — pigeonhole), then verify Hamming ≤ maxHamming within
    * blocks. Candidates come from [[bucketPairs]]; the simhashes are a lazy
    * `localCheckpoint` for the reason [[minhashLshPairs]] gives.
    */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 200): DataFrame = {
    val sims = simhashSignatures(df, textCol, keyCol).localCheckpoint(false)
    val cand = bucketPairs(simhashBanded(sims), maxBucket)
      .select(col("id_a"), col("id_b")).distinct()
    bothSides(cand, sims, "sim")
      .select(col("id_a"), col("id_b"),
        hamming(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Corpus snapshot diff — the audit step between two builds of a living
    * corpus (day-N vs day-N+1, or pre/post a pipeline change): per
    * status (`added` / `removed` / `changed` / `unchanged`), how many
    * documents. `changed` = same id, different content hash — the
    * signal that an upstream "append-only" source silently rewrote
    * history.
    *
    * Scale shape: both sides reduce to (id, md5) in the scan projection —
    * text never reaches the full-outer join's exchange, which shuffles
    * 40-byte rows on the id; the rollup is a 4-row aggregate.
    */
  def corpusDiff(
      oldDf: DataFrame, newDf: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def h(df: DataFrame, as: String) = df.select(col(idCol).as("id"),
      md5(coalesce(col(textCol), lit(""))).as(as))
    h(oldDf, "__ho")
      .join(h(newDf, "__hn"), Seq("id"), "full_outer")
      .select(when(col("__ho").isNull, "added")
        .when(col("__hn").isNull, "removed")
        .when(col("__ho") === col("__hn"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Edit-distance verification of candidate pairs — the high-precision
    * post-filter of the dedup family: given (id_a, id_b) candidates from
    * any generator (minhash bands, simhash buckets, winnow fingerprints,
    * adjacency heuristics), join the text back and score
    * `dist_ppm = floor(levenshtein · 10⁶ / max(len_a, len_b, 1))`;
    * `is_dup = dist_ppm ≤ maxDistPpm`.
    *
    * Scale shape: only CANDIDATE pairs pay the text join-back (the
    * minhashLshPairsExact stage order — the quadratic generator never
    * sees text); levenshtein itself is the codegen'd built-in but O(n·m)
    * per pair, so this face is for short fields (titles, turns, span
    * windows) or post-winnow finalists — the Jaccard face stays the
    * long-document verifier. Parity: unit-cost edit distance is the same
    * integer in every implementation; the ppm is a floor over exact
    * longs (q73 rule).
    */
  def editDistancePairs(
      corpus: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
      maxDistPpm: Long = 300000L): DataFrame = {
    val txt = corpus.select(col(idCol), coalesce(col(textCol), lit(""))
      .as("__t"))
    pairs
      .select(col("id_a"), col("id_b"))
      .join(txt.select(col(idCol).as("id_a"), col("__t").as("__ta")), "id_a")
      .join(txt.select(col(idCol).as("id_b"), col("__t").as("__tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("lev"),
        greatest(length(col("__ta")), length(col("__tb")), lit(1))
          .cast("long").as("__mx"))
      .select(col("id_a"), col("id_b"), col("lev"),
        floor(col("lev").cast("double") * lit(1000000.0) / col("__mx"))
          .cast("long").as("dist_ppm"))
      .withColumn("is_dup", col("dist_ppm") <= maxDistPpm)
  }

  /** Exact Jaccard over two ALREADY-MATERIALIZED shingle-array columns —
    * the verification primitive the pair ops use (each operand is an
    * attribute read, evaluated twice: intersect + union).
    */
  def jaccardOfShingles(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Directional containment |sa ∩ sb| / |sa| over two
    * ALREADY-MATERIALIZED shingle-array columns — the subset-duplicate
    * signal symmetric Jaccard structurally cannot see: a short document
    * quoted whole inside a long one has containment(A→B) = 1 while
    * Jaccard ≈ |A|/|B| sits far below any near-dup threshold, so
    * Jaccard-gated dedup keeps both copies.
    */
  def containmentOfShingles(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val na = size(sa).cast("double")
    when(na === 0, lit(0.0)).otherwise(inter / na)
  }

  /** Containment verification of candidate pairs from ANY generator
    * (winnow span fingerprints are the natural one — a contained document
    * shares verbatim spans with its container, so [[SpanDedup]]'s
    * fingerprint buckets surface exactly these pairs; minhash bands are
    * biased AGAINST them because band agreement tracks Jaccard). Joins the
    * text back to candidate ids only and emits both directions plus
    * Jaccard; keeps pairs where either direction clears `minContainment`.
    *
    * Scale shape: the shingle array is built ONCE PER DISTINCT CANDIDATE
    * DOC (semi-join of the corpus against the pair ids), never per pair —
    * a doc appearing in p candidate pairs must not pay p interpreted-HOF
    * tokenizations (first version did exactly that: 215k shingle builds
    * for 4.9k docs at sf0.1, 170 s; per-id build + array join-back, 44×
    * fewer builds, ~20× faster — measured, PLANS.md round 4). Bytes
    * through the pair joins are pairs × array size — bounded by the
    * candidate generator's caps; raise its `minShared` if a corpus emits
    * pathological candidate volumes.
    */
  def containmentPairs(
      corpus: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainment: Double = 0.8): DataFrame = {
    // The candidate frame is consumed FOUR times below (both branches of
    // the id union, then both sides of the text join) — and `pairs` is
    // typically itself a multi-stage generator (winnow buckets), so without
    // a checkpoint the whole generator pipeline executes four times inside
    // one action (measured: 44 scheduler jobs on t23, ~20 of them repeat
    // generator stages). Lazy localCheckpoint: the first consumer
    // materializes the (narrow id-pair) rows, the rest read blocks. The
    // shingle frame gets the same treatment — it feeds two join sides, and
    // each row carries an interpreted-HOF-built gram array that must not be
    // built twice per doc.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    val ids = p.select(col("id_a").as("__id"))
      .unionByName(p.select(col("id_b").as("__id"))).distinct()
    val sh = corpus
      .select(col(idCol).as("__id"), coalesce(col(textCol), lit("")).as("__t"))
      .join(ids, Seq("__id"), "left_semi")
      .select(col("__id"), splitWords(col("__t")).as("__w"))
      .select(col("__id"), shinglesOfWords(col("__w"), n).as("__s"))
      .localCheckpoint(false)
    p
      .join(sh.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        containmentOfShingles(col("__sa"), col("__sb")).as("c_ab"),
        containmentOfShingles(col("__sb"), col("__sa")).as("c_ba"),
        jaccardOfShingles(col("__sa"), col("__sb")).as("jaccard"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= minContainment)
  }

  /** Exact word-shingle Jaccard between two text columns — the scalar
    * convenience form (specs, one-off comparisons). DataFrame-level pair
    * verification must materialize shingle arrays and use
    * [[jaccardOfShingles]] — this form inlines the shingle build and
    * pays the interpreted-lambda O(words²) re-split per row.
    */
  def jaccard(a: Column, b: Column, n: Int = 3): Column =
    jaccardOfShingles(shingles(a, n), shingles(b, n))
}

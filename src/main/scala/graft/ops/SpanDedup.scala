package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Substring-level duplicate-span detection via winnowing fingerprints
  * (the MOSS scheme; the signal behind "deduplicate repeated spans, not
  * just whole documents" in training-data pipelines). Whole-doc dedup
  * (exact/minhash/simhash, [[Dedup]]) misses a boilerplate paragraph
  * pasted into a million otherwise-distinct pages; span fingerprints
  * catch exactly that.
  *
  * Scheme: hash every k-char gram, then keep the MINIMUM hash of each
  * w-long window of consecutive gram hashes. The winnowing guarantee:
  * two documents sharing any verbatim span of length ≥ k + w − 1 share at
  * least one fingerprint (the shared span contains a full window, and a
  * window's min is position-independent); expected fingerprint density is
  * 2/(w+1) per character — the corpus-side cost knob.
  *
  * Scale shape mirrors [[Dedup]]: fingerprinting is map-only per document
  * (no cross-row state); candidate pairs come from a bucket self-join on
  * 8-byte fingerprints with id-only rows and a `maxBucket` cap (audited,
  * never silent); nothing is ever all-pairs. Two fingerprint faces share
  * that topology: the md5 face ([[fingerprints]], 60-bit md5-prefix gram
  * hashes) exists so the DuckDB oracle replays the whole pipeline
  * bit-for-bit (q70's conv technique); the production face
  * ([[fingerprintsFast]]) is the native one-pass rolling-hash +
  * monotonic-deque expression ([[graft.functions.WinnowFingerprints]]) —
  * O(1) amortized per byte, no per-gram allocation (measured A/B in
  * PLANS.md).
  */
object SpanDedup {

  /** Per-position k-gram hashes of `t` as 60-bit longs (1-based positions,
    * one per i ∈ [1, len−k+1]; empty array when the text is shorter than k).
    */
  private def gramHashes(t: Column, k: Int): Column =
    // guard: sequence(1, 0) counts DOWN in Spark, so short texts need an
    // explicit empty (same defense as Dedup.shingles' when())
    when(length(t) < k, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(1), length(t) - (k - 1)),
        i => conv(substring(md5(t.substr(i, lit(k))), 1, 15), 16, 10)
          .cast("long")))

  /** Distinct winnowed fingerprints per document: one row (id, fp) per
    * distinct window-minimum. Documents with fewer grams than one window
    * still emit the min of what they have (one fingerprint), so short docs
    * participate; documents shorter than k emit nothing.
    */
  def fingerprints(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, "k > 0, w > 0")
    val t = coalesce(col(textCol), lit(""))
    // the gram array MUST land in its own projection: interpreted HOFs
    // have no subexpression elimination, so inlining it makes every one
    // of the ~len window slices re-evaluate ALL the md5s — O(len²) md5
    // calls (measured: 69 s cold for 250×300-char docs; sub-second once
    // materialized). The multi-reference non-cheap alias also stops
    // CollapseProject from folding it back in.
    val withHs = df.select(col(idCol).as("id"), gramHashes(t, k).as("__hs"))
    val hs = col("__hs")
    val fps = when(size(hs) === 0, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(
        // window starts [1, nGrams−w+1], clamped to one window for short
        // docs; slice() clamps the tail itself (DuckDB list-slice parity)
        sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
        j => array_min(slice(hs, j, lit(w))))))
    withHs.select(col("id"), explode(fps).as("fp"))
  }

  /** Document pairs sharing ≥ `minShared` fingerprints — i.e. sharing that
    * many distinct ~(k+w−1)-char verbatim regions. Bucket self-join on fp
    * (ids only); buckets over `maxBucket` dropped ([[Dedup.bucketAudit]]
    * over [[fingerprints]] counts what the cap cost).
    */
  def spanPairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 1,
      maxBucket: Int = 200): DataFrame =
    pairsFrom(fingerprints(df, textCol, idCol, k, w), minShared, maxBucket)

  /** The shared pair topology behind both fingerprint faces: bucket
    * self-join on fp (ids only), `maxBucket` capped, pair = docs sharing
    * ≥ `minShared` distinct fingerprints. Fingerprints are persisted
    * first (the [[Dedup.lshCandidates]] rule): they feed the bucket-count
    * aggregate AND both sides of the self-join, so without the persist the
    * per-character fingerprint scan re-runs 4× — at 10^12 rows that is the
    * whole job cost three times over.
    */
  private def pairsFrom(
      fpsRaw: DataFrame, minShared: Int, maxBucket: Int): DataFrame = {
    val fps = fpsRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ok = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("bn"))
        .filter(col("bn") > 1 && col("bn") <= maxBucket),
      Seq("fp"))
    ok.as("a")
      .join(ok.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count_distinct(col("a.fp")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Fast-path fingerprints via the native one-pass rolling-hash
    * expression ([[graft.functions.WinnowFingerprints]]): same output
    * shape and structural guarantee as [[fingerprints]], ~O(n) per
    * document instead of O(n·(md5 + w)) — the production face for the
    * 10^12-row corpus; the md5 face stays as the DuckDB-replayable oracle
    * (WinnowSpec asserts the two faces find the identical duplicate-pair
    * set on an ASCII corpus, where their gram boundaries coincide).
    */
  def fingerprintsFast(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 8): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.WinnowFingerprints.winnowFingerprints(
        coalesce(col(textCol), lit("")), k, w)).as("fp"))

  /** [[spanPairs]] over the fast fingerprint face — identical bucket-join
    * topology, capped and auditable the same way.
    */
  def spanPairsFast(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 1,
      maxBucket: Int = 200): DataFrame =
    pairsFrom(fingerprintsFast(df, textCol, idCol, k, w), minShared, maxBucket)

  /** Per-document duplicated-span exposure: of a doc's fingerprints, how
    * many also occur in ≥ 1 other document (the "what fraction of me is
    * boilerplate shared with the corpus" quality signal — [[Boilerplate]]
    * answers the same question for frequent n-grams; this one needs no
    * frequency threshold). Docs shorter than k (zero fingerprints) are
    * absent from the output. `shared_frac` = n_shared_fps / n_fps,
    * rounded to 4 dp.
    */
  def spanIncidence(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 8): DataFrame = {
    // persisted for the same reason as [[pairsFrom]]: fps feeds both the
    // frequency aggregate and the join-back
    val fps = fingerprints(df, textCol, idCol, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = fps.groupBy("fp").agg(count(lit(1)).as("nf"))
      .filter(col("nf") > 1)
      .select(col("fp"), lit(1L).as("is_shared"))
    fps.join(shared, Seq("fp"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_fps"),
        coalesce(sum("is_shared"), lit(0L)).as("n_shared_fps"))
      .withColumn("shared_frac",
        round(col("n_shared_fps").cast("double") / col("n_fps"), 4))
  }

  /** Exact duplicate-LINE removal (the C4/Dolma paragraph-dedup rule):
    * drop every line whose exact text recurs in ≥ `minDocFreq` distinct
    * documents — newsletter banners, cookie notices, nav footers — and
    * reassemble each document with its remaining lines in order. Returns
    * (id, clean_text, n_lines, n_lines_removed).
    *
    * Scale shape — the document text NEVER enters a shuffle:
    *  1. lines → (id, pos, 60-bit md5 hash) only, via posexplode(split);
    *  2. one hash shuffle counts distinct docs per line hash (partial
    *     aggregates flatten hot banners); frequent hashes form the drop
    *     set;
    *  3. per-doc drop POSITIONS come back as one small int-array row per
    *     affected doc (id-only join);
    *  4. the actual removal is a map-side `filter(transform(split(...)))`
    *     against that array on the original table.
    * The only rows carrying text through an exchange are (hash join keys
    * are 8-byte longs; reassembly happens where the document already
    * lives). Compare q80's packAssemble, where moving text IS the job.
    *
    * Lines shorter than `minLineLen` chars (after trim) are never
    * candidates — "Thanks!", empty lines, and list bullets recur across
    * any corpus without being boilerplate (the C4 rule's three-sentence
    * floor serves the same purpose). The q82 oracle replays split →
    * hash → frequency → positional filter → reassembly in DuckDB
    * byte-for-byte.
    */
  def dedupLines(
      df: DataFrame, textCol: String, idCol: String,
      minDocFreq: Long = 2L, minLineLen: Int = 15): DataFrame = {
    require(minDocFreq >= 2L, "minDocFreq >= 2")
    val t = coalesce(col(textCol), lit(""))
    val id = col(idCol)

    // persisted: feeds the frequency aggregate AND the drop-position join
    // (the [[pairsFrom]] rule — unpersisted, the explode+hash scan re-runs)
    val lines = df.select(
        id.as("id"), posexplode(split(t, "\n", -1)).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) >= minLineLen)
      .select(col("id"), col("pos"),
        conv(substring(md5(col("line")), 1, 15), 16, 10).cast("long").as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val frequent = lines.groupBy("h")
      .agg(count_distinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= minDocFreq)
      .select("h")

    val drops = lines.join(frequent, Seq("h"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("__drop"))
      .withColumnRenamed("id", "__did")

    // one small row per AFFECTED doc (id + int array) broadcasts back to
    // where the text already lives; for a corpus where the affected-doc
    // set itself overflows broadcast limits, drop the hint and text moves
    // through one (unavoidable) exchange instead
    df.join(broadcast(drops), id === col("__did"), "left")
      .select(
        id.as(idCol),
        array_join(
          transform(
            filter(
              zip_with(
                split(t, "\n", -1),
                sequence(lit(0), greatest(size(split(t, "\n", -1)) - 1, lit(0))),
                (l, i) => struct(l.as("l"), i.as("i"))),
              s => col("__drop").isNull ||
                !array_contains(col("__drop"), s.getField("i"))),
            s => s.getField("l")),
          "\n").as("clean_text"),
        size(split(t, "\n", -1)).as("n_lines"),
        coalesce(size(col("__drop")), lit(0)).as("n_lines_removed"))
  }
}

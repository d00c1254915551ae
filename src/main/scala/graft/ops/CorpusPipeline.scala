package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end training-corpus construction: the library's cleaning operators
  * composed in the canonical order (C4/RefinedWeb-style funnel):
  *
  *   language → quality → exact dedup → near-dup clusters → benchmark
  *   decontamination → boilerplate → (optional) LM distributional outliers
  *   → weighted mixture → split assignment
  *
  * Design: ANNOTATE, don't filter-in-sequence. Every document gets a
  * `drop_stage` column naming the FIRST stage that rejects it (null =
  * survivor), so
  *  - the funnel report (docs lost per stage — the number every corpus-build
  *    review asks for) is ONE `groupBy(drop_stage).count` over the annotated
  *    frame instead of a count-action per stage;
  *  - the expensive stage inputs (near-dup pairs, decontamination,
  *    boilerplate) are computed on the ALREADY-REDUCED survivor set of the
  *    cheap map-only stages, exactly as a sequential pipeline would, so
  *    annotation costs no extra passes over dropped data;
  *  - all stage verdicts join back on the key as narrow (id, flag) frames —
  *    rare sides stay broadcastable, `text` never re-shuffles;
  *  - the narrow (key, text) survivor frame of the map-only gates is
  *    PERSISTED (memory-and-disk): it feeds four independent consumers
  *    (exact dedup, near-dup pairs, decontamination, boilerplate), and
  *    without the persist each consumer re-evaluates the lang/quality
  *    regexes — the two costliest per-row expressions in the funnel — on
  *    its own re-scan. The cached frames have no caller-visible plan
  *    handle; [[unpersistCaches]] drops them (and only them) — call it
  *    after consuming the result when building many corpora per session.
  */
object CorpusPipeline {

  // handles for the intermediate frames UNMANAGED annotate() calls persist
  // (callers have no plan reference to them); see [[unpersistCaches]].
  // [[annotateManaged]] callers get a per-invocation [[CacheHandle]] instead
  // and never touch this queue.
  private val cachedFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Per-invocation handle over the intermediate frames one
    * [[annotateManaged]] call persisted: closing it unpersists exactly that
    * invocation's caches and nobody else's — concurrent pipelines in the
    * same session stay isolated (the JVM-global [[unpersistCaches]] would
    * drop a concurrent caller's still-in-use intermediates too).
    */
  final class CacheHandle private[CorpusPipeline] (frames: Seq[DataFrame])
      extends AutoCloseable {
    override def close(): Unit = frames.foreach(_.unpersist(false))
  }

  /** Unpersist every intermediate frame plain [[annotate]] has cached in
    * this JVM so far ([[annotateManaged]] caches are excluded — their
    * [[CacheHandle]] owns them). Unlike `spark.catalog.clearCache()` this
    * drops ONLY CorpusPipeline's caches, never the caller's own — call it
    * once the annotated frame has been fully consumed (long-lived
    * sessions that build many corpora would otherwise accumulate
    * MEMORY_AND_DISK blocks until session end). Sessions running pipelines
    * CONCURRENTLY should prefer [[annotateManaged]]: this global form
    * cannot tell whose caches are still live.
    */
  def unpersistCaches(): Unit = {
    var df = cachedFrames.poll()
    while (df != null) {
      df.unpersist(false)
      df = cachedFrames.poll()
    }
  }

  final case class Config(
      // Stage 0 (opt-in, ingest order): raw-crawl pre-processing applied
      // BEFORE any gate — HTML→text extraction ([[WebText.stripHtml]]),
      // then mojibake repair ([[TextOps.fixMojibake]]), then
      // [[TextOps.canonicalize]] (NFC + control strip + EOL/blank
      // normalization). All three are map-only codegen chains, so codegen
      // fuses them into the same scan as the lang/quality gates — three
      // opt-ins cost zero extra passes. The dedup rationale is shared:
      // byte-wise different but visually identical documents (markup
      // variants, encoding damage, mixed normal forms) hash/shingle
      // differently and sail through exact AND near dedup as distinct.
      // Opt-in because the emitted corpus then carries the cleaned text,
      // not the input bytes.
      extractHtml: Boolean = false,
      repairMojibake: Boolean = false,
      canonicalizeText: Boolean = false,
      langs: Set[String] = Set("en"),
      minQuality: Double = 0.3,
      nearDupShingle: Int = 3,
      nearDupThreshold: Double = 0.9,
      decontamN: Int = 8,
      boilerN: Int = 2,
      // Boilerplate gate threshold: the DEFAULT is the scale-invariant
      // fraction form ([[Boilerplate.coverageFrac]] — a gram is frequent
      // when it fills ≥ boilerMinFrac of all gram slots), which means the
      // same thing at 10^4 and 10^12 docs. Setting boilerMinCount opts into
      // the absolute-count form ([[Boilerplate.coverage]]) for callers who
      // derived a count for the corpus at hand — at 100× corpus growth a
      // fixed count silently grows the frequent set, which is exactly the
      // failure the fraction default prevents.
      boilerMinFrac: Double = 0.01,
      boilerMinCount: Option[Long] = None,
      maxBoilerFrac: Double = 0.8,
      // Optional LM distributional-outlier gate (CCNet-style, self-trained):
      // when set, a char-trigram LM is trained on the deduped survivors
      // themselves and documents scoring above this many bits/char are
      // dropped as "lm_outlier" — text whose character distribution is far
      // from the corpus's own (binary-ish payloads, wrong-script spam that
      // slipped the lang gate). Self-training AFTER dedup keeps duplicate
      // mass from skewing the model toward the very junk it should catch.
      lmMaxBits: Option[Double] = None,
      lmMinFrac: Double = 1e-7,
      // Mixture keep-thresholds per stratum, else `mixtureDefault`; a
      // stratum with neither keeps every document.
      mixtureRates: Map[String, String] = Map.empty,
      mixtureDefault: Option[String] = None,
      splitCuts: Seq[(String, String)] = Seq("cccc" -> "train", "e666" -> "val"),
      splitElse: String = "test",
      // benchmarking escape hatch: false re-creates the round-2
      // recompute-per-consumer behavior so the persist win is measurable
      // A/B in ONE process (see Bench); production callers keep true
      persistIntermediates: Boolean = true)

  /** Annotated corpus: all input rows with `drop_stage` (null = kept) and,
    * for survivors, the `split` label. `bench` is the eval/benchmark set to
    * decontaminate against. Intermediate caches go to the JVM-global
    * [[unpersistCaches]] queue; concurrent pipelines should use
    * [[annotateManaged]] instead.
    */
  def annotate(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String,
      keyCol: String,
      stratumCol: String,
      cfg: Config = Config()): DataFrame = {
    val (out, frames) = annotateTracked(docs, bench, textCol, keyCol,
      stratumCol, cfg)
    frames.foreach(cachedFrames.add)
    out
  }

  /** [[annotate]] returning a per-invocation [[CacheHandle]] alongside the
    * annotated frame: close the handle once the result is consumed and ONLY
    * this invocation's persisted intermediates are dropped — safe when
    * several pipelines share one session.
    */
  def annotateManaged(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String,
      keyCol: String,
      stratumCol: String,
      cfg: Config = Config()): (DataFrame, CacheHandle) = {
    val (out, frames) = annotateTracked(docs, bench, textCol, keyCol,
      stratumCol, cfg)
    (out, new CacheHandle(frames))
  }

  private def annotateTracked(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String,
      keyCol: String,
      stratumCol: String,
      cfg: Config): (DataFrame, Seq[DataFrame]) = {
    val id = col(keyCol)
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // ---- stage 0 (opt-in): raw-crawl pre-processing in ingest order
    // (extract → repair → canonicalize) — all map-only, fused into the
    // same scan as the lang/quality gates by codegen ----
    val pre: Seq[(Boolean, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      cfg.extractHtml -> WebText.stripHtml _,
      cfg.repairMojibake -> TextOps.fixMojibake _,
      cfg.canonicalizeText -> TextOps.canonicalize _)
    val docs0 = pre.foldLeft(docs) {
      case (acc, (on, f)) =>
        if (on) acc.withColumn(textCol, f(col(textCol))) else acc
    }

    // ---- stage 1+2: map-only gates (no joins needed) ----
    val langOk = TextOps.langId(col(textCol)).isin(cfg.langs.toSeq: _*)
    val qualOk = TextOps.qualityScore(col(textCol)) >= cfg.minQuality
    val base = docs0.withColumn("__drop_early",
      when(!langOk, "lang").when(!qualOk, "quality"))
    // the expensive stages only ever see early survivors — and only the
    // narrow (key, text) projection, persisted so the lang/quality regexes
    // evaluate ONCE, not once per downstream consumer re-scan
    def maybePersist(df: DataFrame): DataFrame =
      if (cfg.persistIntermediates) {
        tracked += df
        df.persist(StorageLevel.MEMORY_AND_DISK)
      } else df
    val early = maybePersist(base.filter(col("__drop_early").isNull)
      .select(col(keyCol), col(textCol)))

    // ---- stage 3: exact dedup (keeper = min key per content hash) ----
    val exactKeep = Dedup.exactGroups(early, textCol, keyCol)
      .select(col("keep_id").as("id"), lit(true).as("__exact_keep"))

    // ---- stage 4: near-dup clusters over exact keepers ----
    // persisted too: pairs, clusters, decontamination, and boilerplate all
    // consume this frame — one semi-join, not four
    val exactKept = maybePersist(early.join(
      exactKeep.withColumnRenamed("id", keyCol), Seq(keyCol), "left_semi"))
    val pairs = Dedup.minhashLshPairsExact(exactKept, textCol, keyCol,
      n = cfg.nearDupShingle, threshold = cfg.nearDupThreshold)
    val clusters = Connected.dedupClusters(exactKept, pairs, keyCol)
      .select(col("id"), col("is_keeper").as("__near_keep"))

    // ---- stage 5: decontamination (flag = drop) ----
    val contaminated = Decontam
      .contaminated(exactKept, bench, textCol, keyCol, cfg.decontamN)
      .select(col("id"), lit(true).as("__contam"))

    // ---- stage 6: boilerplate coverage (flag = drop) — fraction threshold
    // by default (scale-invariant frequent set), absolute count on opt-in ----
    val boilerCov = cfg.boilerMinCount match {
      case Some(c) =>
        Boilerplate.coverage(exactKept, textCol, keyCol, cfg.boilerN, c)
      case None =>
        Boilerplate.coverageFrac(exactKept, textCol, keyCol, cfg.boilerN,
          cfg.boilerMinFrac)
    }
    val boiler = boilerCov
      .filter(col("boiler_frac") > cfg.maxBoilerFrac)
      .select(col("id"), lit(true).as("__boiler"))

    // ---- stage 6.5 (optional): LM distributional outliers — trigram model
    // trained on the deduped survivors, scored map-side off a broadcast
    // model; only docs OVER the bits/char cap join back (rare side) ----
    val lmDrop = cfg.lmMaxBits.map { maxBits =>
      val (m3, m2, v) =
        LangModel.train(exactKept, keyCol, textCol, cfg.lmMinFrac)
      LangModel.crossEntropy(exactKept, keyCol, textCol, m3, m2, v)
        .filter(col("xent_bits") > maxBits)
        .select(col(keyCol).as("id"), lit(true).as("__lm"))
    }

    // ---- stage 7+8: deterministic mixture + split (map-only columns) ----
    // The two decisions hash DIFFERENT per-purpose-salted keys: sharing one
    // md5(key) prefix would correlate them perfectly — any mixture
    // threshold below the first split cut would then starve val/test for
    // downsampled strata. Same hex-threshold contract as
    // [[Sampling.weightedMixture]], enforced here too.
    // COMPATIBILITY NOTE (r03): the ':mixture'/':split' salts changed every
    // document's mixture and split assignment relative to corpora built
    // before the salts existed — the same Config does NOT reproduce
    // pre-salt train/val/test membership. Deliberate: the decorrelation fix
    // outweighs cross-version reproducibility, and corpus membership should
    // be pinned by the emitted split column, not by re-running the build.
    require((cfg.mixtureRates.values ++ cfg.mixtureDefault)
      .forall(_.matches("[0-9a-f]{4}")),
      "mixture thresholds = 4 lowercase hex chars")
    val mixThr = cfg.mixtureRates.foldLeft(
        cfg.mixtureDefault.fold(lit(null).cast("string"))(lit)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    // no threshold keeps the document: even "ffff" drops the 1 in 65,536
    // whose salted md5 starts with ffff
    val inMixture = mixThr.isNull ||
      substring(md5(concat(id.cast("string"), lit(":mixture"))), 1, 4) < mixThr
    val split = Sampling.splitColumn(
      concat(id.cast("string"), lit(":split")), cfg.splitCuts, cfg.splitElse)

    def flag(df: DataFrame): DataFrame = df.withColumnRenamed("id", keyCol)
    val dropStage = coalesce(
      col("__drop_early"),
      when(col("__exact_keep").isNull, "exact_dup"),
      when(!col("__near_keep"), "near_dup"),
      when(col("__contam"), "contaminated"),
      when(col("__boiler"), "boilerplate"),
      when(col("__lm"), "lm_outlier"),
      when(!inMixture, "mixture"))

    val preOut = base
      .join(flag(exactKeep), Seq(keyCol), "left")
      .join(flag(clusters), Seq(keyCol), "left")
      .join(flag(contaminated), Seq(keyCol), "left")
      .join(flag(boiler), Seq(keyCol), "left")
    val out = lmDrop
      .map(d => preOut.join(flag(d), Seq(keyCol), "left"))
      .getOrElse(preOut.withColumn("__lm", lit(null).cast("boolean")))
      .withColumn("drop_stage", dropStage)
      .withColumn("split", when(col("drop_stage").isNull, split))
      .drop("__drop_early", "__exact_keep", "__near_keep", "__contam",
        "__boiler", "__lm")
    (out, tracked.toSeq)
  }

  /** Funnel report: docs dropped per stage + survivors per split — ONE
    * aggregate over the annotated frame.
    */
  def funnel(annotated: DataFrame): DataFrame =
    annotated
      .groupBy(coalesce(col("drop_stage"),
        concat(lit("kept:"), col("split"))).as("stage"))
      .agg(count(lit(1)).as("n_docs"))
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.checks.Checks
import graft.engine.{Drift, Stats, Validator}
import graft.ops.{Dedup, JpegPlant, Multimodal, Similarity, TextOps}
import graft.sources.TranscriptGen

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Two query families:
  *  - `q*` — oracle-checked operators over the driver's read-only testdata
  *    parquet tables; every entry has a DuckDB-equivalent `oracleSql` whose
  *    column names/types match the Spark result exactly. Doubles that
  *    accumulate over many rows go through exact DECIMAL sums (or are
  *    rounded) so both engines agree bit-for-bit.
  *  - `t*` — the transcript validation engine itself on the deterministic
  *    synthetic transcript table (FIXTURES.md §A; `north_rule` forbids
  *    external data, and xxhash64-based results are not expressible in
  *    DuckDB) — registered rows-only; their correctness gate is the
  *    ScalaTest suite (planted-violation counts, golden files).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Small fixed synthetic transcript config for t* entries. */
  private val tCfg = TranscriptGen.Config(nConvs = 2000L)

  /** Deterministic planted 2x1 24-bit BMP blob from a doc-id column — ONE
    * definition shared by q66 (whose DuckDB oracle hard-codes this exact
    * blob's analytic channel means) and t11 (feature table), so both
    * always decode the same bytes. Blue byte = doc_id·37 mod 256; pixel 0
    * RGB = (FF, 00, blue), pixel 1 RGB = (00, 80, blue).
    */
  private def plantedBmp(docId: Column): Column = {
    val hdr = "424D3E0000000000000036000000280000000200000001000000" +
      "01001800000000000800000000000000000000000000000000000000"
    val blue = lpad(hex(pmod(docId * 37, lit(256))), 2, "0")
    unhex(concat(lit(hdr), blue, lit("00FF"), blue, lit("8000"), lit("0000")))
  }

  /** Deterministic planted 2x1 8-bit-RGB PNG from a doc-id column — the
    * compressed-format twin of [[plantedBmp]] with the SAME pixel values
    * (pixel 0 = (FF, 00, blue), pixel 1 = (00, 80, blue), blue =
    * doc_id·37 mod 256), so q68's oracle states the same analytic means as
    * q66's. The IDAT zlib stream uses a STORED deflate block (BTYPE=00 —
    * legal zlib, and expressible as column arithmetic), with a real
    * adler32 (affine in the one varying byte: s1 = 384+2b, s2 = 1793+5b,
    * both far below the 65521 modulus) and a real CRC on the constant IHDR;
    * the IDAT CRC is zeros, which the decoder — like any feature extractor
    * — does not check.
    */
  private def plantedPng(docId: Column): Column = {
    val blue = pmod(docId * 37, lit(256))
    val blueHex = lpad(hex(blue), 2, "0")
    val adler = concat(
      lpad(hex(blue * 5 + 1793), 4, "0"), lpad(hex(blue * 2 + 384), 4, "0"))
    val sigIhdr = "89504E470D0A1A0A" +
      "0000000D4948445200000002000000010802000000" + "7B40E8DD"
    val idatPre = "0000001249444154" + "7801" + "010700F8FF" // len,type,zlib,stored-hdr
    unhex(concat(lit(sigIhdr), lit(idatPre),
      lit("00FF00"), blueHex, lit("0080"), blueHex, // filter 0 + 2 RGB pixels
      adler, lit("00000000"),                       // adler32, IDAT CRC (unchecked)
      lit("0000000049454E44AE426082")))             // IEND
  }

  /** Deterministic planted 4x4 GIF89a from a doc-id column — the LZW twin
    * of [[plantedPng]]: the 8-byte LZW stream is a CONSTANT (it encodes the
    * fixed index pattern 0,0,0,0,1,2,1,2,3,3,1,0,2,1,0,3 — counts 6/4/3/3 —
    * at min code size 2, exercising clear codes, dictionary chains, and the
    * KwKwK case), while the 4-entry global color table varies with doc_id:
    * palette entry 0 = (id·7, id·11, id·37) mod 256, entries 1-3 constant
    * (200,150,100) (0,255,7) (90,80,70). Channel means are therefore affine
    * in the entry-0 bytes — q69's DuckDB oracle states them analytically,
    * so the LZW decode, palette lookup, and channel order are end-to-end
    * checked cross-engine.
    */
  private def plantedGif(docId: Column): Column = {
    def pb(k: Int) = lpad(hex(pmod(docId * k, lit(256))), 2, "0")
    unhex(concat(
      lit("4749463839610400040081" + "0000"),       // header, LSD, GCT flag
      pb(7), pb(11), pb(37),                        // palette entry 0 (varies)
      lit("C89664" + "00FF07" + "5A5046"),          // entries 1-3 (constant)
      lit("2C000000000400040000" + "02"),           // image descriptor, minCode
      lit("0884119233010A4601" + "00" + "3B")))     // LZW sub-block, trailer
  }

  /** Deterministic planted 4-frame stereo 16-bit PCM WAV from a doc-id
    * column — the audio twin of [[plantedBmp]]. Canonical 44-byte header
    * (PCM, 2 ch, 8000 Hz, 16-bit, 16-byte data chunk); the interleaved
    * LE samples are affine in doc_id (all non-negative, < 256, so each
    * i16 is its value byte + 0x00): frames =
    * (v,128) (w,0) (255,v) (0,64) with v = id mod 256, w = 2·id mod 256.
    * q113's DuckDB oracle states the per-channel integer sums/squares/
    * peaks analytically, so the RIFF chunk walk, fmt parse, i16 decode,
    * and channel de-interleave are end-to-end checked cross-engine.
    */
  private def plantedWav(docId: Column): Column = {
    val hdr = "52494646" + "34000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0200" +
      "401F0000" + "007D0000" + "0400" + "1000" +
      "64617461" + "10000000"
    val v = lpad(hex(pmod(docId, lit(256))), 2, "0")
    val w = lpad(hex(pmod(docId * 2, lit(256))), 2, "0")
    unhex(concat(lit(hdr),
      v, lit("00" + "8000"),
      w, lit("00" + "0000"),
      lit("FF00"), v, lit("00"),
      lit("0000" + "4000")))
  }

  /** DC values of the eight flat-color planted JPEG variants
    * ([[graft.ops.JpegPlant]] — DC-only, all-ones quant table, so every
    * decoded sample is EXACTLY 128 + dc/8): variants 0-3 are grayscale at
    * 88/104/120/136, variants 4-7 are YCbCr at (136,80,192) (96,160,96)
    * (200,128,128) (64,192,64) — the last one drives R through the clamp.
    * The blobs are huffman-coded (not SQL-expressible), but the decoded
    * means ARE analytic, so the DuckDB oracle q133 and q135 share replays
    * the JFIF conversion arithmetic independently — no decoder on the
    * oracle side, the check is cross-engine, not circular.
    */
  private val jpegFlatDcs: Seq[Seq[Int]] =
    Seq(Seq(88), Seq(104), Seq(120), Seq(136),
      Seq(136, 80, 192), Seq(96, 160, 96), Seq(200, 128, 128),
      Seq(64, 192, 64)).map(_.map(v => 8 * (v - 128)))

  /** Successive-approximation DC variants for q136: ODD dc values so the
    * refinement scan's bit is forced to 1 in every block — the decoder
    * must reconstruct `(dc >> 1) << 1 | 1 = dc` exactly; the decoded flat
    * sample is floor(dc/8 + 128.5), replayed from these dc literals by
    * the oracle.
    */
  private val jpegSaDcs: Seq[Seq[Int]] = Seq(
    Seq(-321), Seq(-191), Seq(65), Seq(257),                // gray
    Seq(65, -383, 513), Seq(-255, 257, -255),               // color 4:2:0
    Seq(577, 1, 1), Seq(-511, 513, -511))

  /** doc_id → one of eight planted JPEGs (doc_id mod 8): variant i is
    * `enc(w, h, dcs(i), samp)`, 8×8 grayscale for a 1-entry `dcs(i)`,
    * else 16×16 YCbCr 4:2:0.
    */
  private def plantedJpeg(docId: Column, dcs: Seq[Seq[Int]],
      enc: (Int, Int, Seq[Int], Seq[(Int, Int)]) => Array[Byte]): Column = {
    val hex = dcs.map { d =>
      val b =
        if (d.size == 1) enc(8, 8, d, Seq((1, 1)))
        else enc(16, 16, d, Seq((2, 2), (1, 1), (1, 1)))
      b.map(x => f"${x & 0xff}%02X").mkString
    }
    unhex(element_at(typedlit(hex), (pmod(docId, lit(8)) + 1).cast("int")))
  }

  /** The planted-pixel entries' shape: `media(doc_id)` of the documents
    * with doc_id < 200, decoded by pixelStats.
    */
  private def plantedPixelStats(s: SparkSession, dir: String,
      media: Column => Column): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), Multimodal.pixelStats(media(col("doc_id"))).as("p"))
      .select(col("doc_id"), col("p.format").as("pix_format"),
        col("p.n_pixels").as("n_pixels"), col("p.mean_r").as("mean_r"),
        col("p.mean_g").as("mean_g"), col("p.mean_b").as("mean_b"))

  /** Shared analytic oracle for the flat-JPEG entries (q133 sequential,
    * q135 progressive — the planted pixels are identical by design):
    * gray variants are the constant 128+dc/8 on all channels; color
    * variants run the exact JFIF double arithmetic the decoder pins
    * (floor(x+0.5), clamp).
    */
  private val jpegFlatOracleSql: String =
    """WITH v(vr, y, cb, cr, npx) AS (VALUES
      | (0,  88, NULL, NULL,  64),
      | (1, 104, NULL, NULL,  64),
      | (2, 120, NULL, NULL,  64),
      | (3, 136, NULL, NULL,  64),
      | (4, 136,   80,  192, 256),
      | (5,  96,  160,   96, 256),
      | (6, 200,  128,  128, 256),
      | (7,  64,  192,   64, 256))
      |SELECT d.doc_id,
      | 'jpeg' AS pix_format,
      | CAST(v.npx AS BIGINT) AS n_pixels,
      | round(CASE WHEN v.cb IS NULL THEN CAST(v.y AS DOUBLE)
      |  ELSE least(255.0, greatest(0.0,
      |   floor(v.y + 1.402 * (v.cr - 128) + 0.5))) END, 4) AS mean_r,
      | round(CASE WHEN v.cb IS NULL THEN CAST(v.y AS DOUBLE)
      |  ELSE least(255.0, greatest(0.0,
      |   floor(v.y - 0.344136 * (v.cb - 128)
      |         - 0.714136 * (v.cr - 128) + 0.5))) END, 4) AS mean_g,
      | round(CASE WHEN v.cb IS NULL THEN CAST(v.y AS DOUBLE)
      |  ELSE least(255.0, greatest(0.0,
      |   floor(v.y + 1.772 * (v.cb - 128) + 0.5))) END, 4) AS mean_b
      |FROM documents d JOIN v ON d.doc_id % 8 = v.vr
      |WHERE d.doc_id < 200""".stripMargin

  /** Pinned merge list for q134's learned-token-budget replay: a chained
    * English-ish table (th → the → " the") exercising multi-level merges.
    * The LEARNING of merge lists is gate-checked by BpeSpec + t22; this
    * entry cross-checks the ENCODE+budget semantics (left-to-right
    * non-overlapping rewrite, prefix truncation) against an independent
    * DuckDB replay — chr(1)-separated symbols + a replace() chain, a
    * different implementation of the same rewrite rule.
    */
  private val bpeOracleMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), (" ", "the"), ("i", "n"),
    ("a", "n"), ("an", "d"), ("e", "r"), ("o", "n"))

  /** Planted span-dedup corpus shared by q78/q79: docs ≡ 0 (mod 7) get one
    * of 3 shared boilerplate paragraphs appended — built identically in
    * the DuckDB oracles so the winnow pipeline is replayed end-to-end.
    */
  private def spanDocs(s: SparkSession, dir: String): DataFrame = {
    val boiler = concat(
      lit("shared boilerplate paragraph variant "),
      pmod(col("doc_id"), lit(3)).cast("string"),
      lit(" repeated verbatim across documents for span dedup"))
    val planted = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(coalesce(col("text"), lit("")), lit(" "), boiler))
      .otherwise(coalesce(col("text"), lit("")))
    t(s, dir, "documents").filter(col("doc_id") < 250)
      .select(col("doc_id"), planted.as("t"))
  }

  /** q25/q35's merge inputs: the even customers as primary, and every
    * customer as secondary with a masked name and no balance.
    */
  private def customerMergeSides(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = t(s, dir, "customer")
    val primary = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val secondary = c.select(col("c_custkey"),
      concat(lit("llm_"), col("c_name")).as("c_name"),
      lit(null).cast("double").as("c_acctbal"))
    (primary, secondary)
  }

  /** q29/q115's bounded exact baseline: every pair `a.doc_id < b.doc_id`
    * of the first 10 docs, each side carrying its word-3-gram shingle
    * array `sh`, built BEFORE the cross join so no pair re-splits text.
    */
  private def firstDocShinglePairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 10)
      .select(col("doc_id"), Dedup.splitWords(col("text")).as("__w"))
      .select(col("doc_id"), Dedup.shinglesOfWords(col("__w"), 3).as("sh"))
    d.as("a").crossJoin(d.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
  }

  /** `e` plus the planted scaled copies of q39/q118/t25: every 25th vector
    * again at id + 10^7 (the q110 convention), scaled by 1.01 — cosine 1
    * to its original and the same sign-LSH bucket and IVF cell.
    */
  private def withScaledCopies(e: DataFrame): DataFrame =
    e.unionByName(e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01f)).as("embedding")))

  /** q118/q119's fixed IVF centroids, the first 4 vectors, so DuckDB can
    * replay the assignment.
    */
  private def firstCentroids(e: DataFrame): Seq[Seq[Double]] =
    e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq

  /** Exact double sum via DECIMAL(18,2) accumulation (order-independent),
    * surfaced back as a rounded double — matches
    * `round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE), 2)` in DuckDB.
    */
  private def exactSum2(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")).cast("double"), 2)

  /** Flagship: full transcript validation (row + window + dedup + referential
    * checks) on the synthetic table; planted violations guarantee rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.transcripts(spark, tCfg)
    val convs = TranscriptGen.conversations(spark, tCfg)
    Validator.allViolations(turns, Some(convs))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- constraint checks replayed on oracle-checkable tables ----
    "q01_required_nonempty" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("text").isNull || col("text") === "", 1L).otherwise(0L))
            .as("n_missing_text"),
          sum(when(col("lang").isNull || col("lang") === "", 1L).otherwise(0L))
            .as("n_missing_lang"))
    }),
    "q02_enum_member" -> ((s, dir) => {
      val allowed = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy(col("event_type"),
          when(col("event_type").isin(allowed: _*), lit("valid"))
            .otherwise(lit("invalid")).as("status"))
        .agg(count(lit(1)).as("n"))
    }),
    "q03_format_regex" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"),
          when(col("lang").rlike("^[a-z]{2}$"), lit("valid"))
            .otherwise(lit("invalid")).as("status"))
        .agg(count(lit(1)).as("n"))
    }),
    "q04_json_format" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          when(col("props").rlike("^\\{\"k\": \\d+\\}$"), lit("valid"))
            .otherwise(lit("invalid")).as("status"))
        .agg(count(lit(1)).as("n"))
    }),
    "q05_length_crossfield" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(length(col("text")) =!= col("n_chars"), 1L).otherwise(0L))
            .as("n_crossfield_bad"),
          sum(when(length(col("text")) > 2000, 1L).otherwise(0L))
            .as("n_too_long"))
    }),
    "q06_range_check" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") <= 0, 1L).otherwise(0L)).as("n_nonpositive"),
          round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"))
    }),
    "q07_verdict" -> ((s, dir) => {
      // per-group pass/fail verdict: valid iff zero issues across all rules
      // (reference verification.py:241 semantics, grouped by source)
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(
            col("text").isNull || col("text") === "" ||
              length(col("text")) =!= col("n_chars") ||
              !col("lang").rlike("^[a-z]{2}$"), 1L).otherwise(0L))
            .as("n_violations"))
        .select(col("source"), col("n_rows"), col("n_violations"),
          when(col("n_violations") === 0, lit("valid")).otherwise(lit("invalid"))
            .as("status"))
    }),
    "q08_unique_key" -> ((s, dir) => {
      val dupEvents = t(s, dir, "events").groupBy("event_id")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n_dup_event_ids"))
      val dupLi = t(s, dir, "lineitem").groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n_dup_lineitem_keys"))
      dupEvents.crossJoin(dupLi)
    }),
    "q09_referential" -> ((s, dir) => {
      val orphanOrders = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer").select("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_orders"))
      val orphanLi = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_lineitems"))
      orphanOrders.crossJoin(orphanLi)
    }),
    "q10_window_order" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events")
        .select(col("ts"), lag("ts", 1).over(w).as("prev_ts"))
        .agg(sum(when(col("prev_ts") > col("ts"), 1L).otherwise(0L))
          .as("n_out_of_order"))
    }),
    "q11_contiguity" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(max("l_linenumber").as("mx"), count(lit(1)).as("c"),
          min("l_linenumber").as("mn"))
        .filter(col("mx") =!= col("c") || col("mn") =!= 1)
        .agg(count(lit(1)).as("n_noncontiguous"))
    }),
    "q12_col_stats" -> ((s, dir) => {
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_rows"),
        count(col("text")).as("n_text"),
        countDistinct(col("lang")).as("n_lang"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
    }),
    "q13_drift_chisq" -> ((s, dir) => {
      val byDay = t(s, dir, "events")
        .select(to_date(col("ts")).as("part_key"), col("event_type"))
        .withColumnRenamed("part_key", "part_id")
      Drift.chiSquare(byDay, "event_type")
        .select(col("part_id").as("part_key"), round(col("chi2"), 4).as("chi2"),
          col("n"))
    }),
    "q40_drift_psi" -> ((s, dir) => {
      // PSI drift per day vs pooled distribution (chi-square's sibling)
      val byDay = t(s, dir, "events")
        .select(to_date(col("ts")).as("part_id"), col("event_type"))
      Drift.psi(byDay, "event_type")
        .select(col("part_id").as("part_key"), round(col("psi"), 6).as("psi"),
          col("n"))
    }),
    "q14_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), exactSum2(col("o_totalprice")).as("total"))
        .orderBy(col("total").desc, col("o_custkey"))
        .limit(10)
    }),
    "q15_tpch_q1" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          exactSum2(col("l_extendedprice")).as("sum_base_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    "q16_join_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          exactSum2(col("o_totalprice")).as("revenue"))
    }),
    "q17_multi_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_lines"),
          exactSum2(col("l_extendedprice")).as("volume"))
    }),
    // ---- training-data pipeline operators ----
    "q18_dedup_exact_summary" -> ((s, dir) => {
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(coalesce(col("text"), lit("")))).as("n_unique_texts"))
    }),
    "q19_dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .filter(col("n") > 1)
    }),
    "q20_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"),
          count(lit(1)).as("n_docs"))
    }),
    "q21_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), TextOps.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n"))
    }),
    "q41_bpe_truncate" -> ((s, dir) => {
      // BPE-ish token counting + token-budget truncation (reduce_input_size
      // analog): per lang, total tokens and the char length of the
      // 50-token prefix — proves the truncation boundary lands identically
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          sum(TextOps.bpeTokenCount(col("text")).cast("long"))
            .as("total_bpe_tokens"),
          sum(length(TextOps.truncateToTokens(col("text"), 50)).cast("long"))
            .as("trunc50_chars"),
          count(lit(1)).as("n_docs"))
    }),
    "q134_learned_bpe_budget" -> ((s, dir) => {
      // LEARNED-merge token budget (reduce_input_size with a real BPE
      // table, closing the tokenizer-parity gap): per lang, total learned
      // symbols and the char length of the 16-symbol prefix — the DuckDB
      // twin replays the merge rewrite with a separator+replace chain
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          sum(TextOps.bpeTokenCountLearned(col("text"), bpeOracleMerges)
            .cast("long")).as("total_learned_tokens"),
          sum(length(TextOps.truncateToTokensLearned(
            col("text"), 16, bpeOracleMerges)).cast("long"))
            .as("trunc16_chars"),
          count(lit(1)).as("n_docs"))
    }),
    "q22_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(round(avg(TextOps.qualityScore(col("text"))), 4).as("avg_quality"),
          count(lit(1)).as("n_docs"))
    }),
    "q23_embedding_integrity" -> ((s, dir) => {
      t(s, dir, "embeddings").agg(
        count(lit(1)).as("n_vecs"),
        min(size(col("embedding"))).cast("long").as("min_dim"),
        max(size(col("embedding"))).cast("long").as("max_dim"),
        countDistinct(col("label")).as("n_labels"))
    }),
    "q24_ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos"),
          col("rank"))
    }),
    "q25_priority_merge" -> ((s, dir) => {
      // reference merge_jsonld semantics (utils.py:55-62): primary wins,
      // secondary fills absent keys; merged name must keep primary's for
      // evens
      val (primary, secondary) = customerMergeSides(s, dir)
      graft.ops.Merge.priorityMerge(primary, secondary, "c_custkey")
        .select(col("c_custkey"), col("c_name"),
          round(coalesce(col("c_acctbal"), lit(-1.0)), 2).as("acctbal"))
    }),
    "q26_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .rollup(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), exactSum2(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("revenue"))
    }),
    "q27_iso_date_format" -> ((s, dir) => {
      // reference zod-form date -> ISO midnight Z (models.py:398-401)
      t(s, dir, "orders")
        .groupBy(TextOps.isoMidnightZ(col("o_orderdate")).as("iso_day"))
        .agg(count(lit(1)).as("n"))
    }),
    "q29_ngram_jaccard" -> ((s, dir) => {
      // exact word-3-gram Jaccard over all pairs of the first 10 docs
      firstDocShinglePairs(s, dir)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(Dedup.jaccardOfShingles(col("a.sh"), col("b.sh")), 4)
            .as("jaccard"))
    }),
    "q115_containment" -> ((s, dir) => {
      // exact directional word-3-gram containment over all pairs of the
      // first 10 docs (bounded exact baseline, the q29 topology): the
      // subset-duplicate measure — |A∩B|/|A| — that symmetric Jaccard
      // can't see; scale face = span-fingerprint candidates verified by
      // Dedup.containmentPairs (t23)
      firstDocShinglePairs(s, dir)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(Dedup.containmentOfShingles(col("a.sh"), col("b.sh")), 4)
            .as("c_ab"),
          round(Dedup.containmentOfShingles(col("b.sh"), col("a.sh")), 4)
            .as("c_ba"))
    }),
    "q116_tool_args" -> ((s, dir) => {
      // tool-call JSON argument schema validation (checks/ToolArgs.scala):
      // planted per-tool payloads over events (the plantedBmp technique —
      // the oracle rebuilds the same args from event_id % 11 and replays
      // every rule in DuckDB json functions). Map-only: one projection +
      // explode, zero Exchange at any scale.
      val ev = t(s, dir, "events")
      val tool = when(col("event_type").isin("click", "view"), lit("search"))
        .otherwise(lit("fetch"))
      val m = pmod(col("event_id"), lit(11))
      val (searchArgs, fetchArgs) = TranscriptGen.plantedArgs(m)
      val df = ev.select(col("event_id"), tool.as("tool"),
        when(tool === "search", searchArgs).otherwise(fetchArgs).as("args"))
      graft.checks.ToolArgs.violations(df, "tool", "args", Seq("event_id"))
    }),
    "q117_nb_quality" -> ((s, dir) => {
      // multinomial Naive Bayes quality classifier (ops/NaiveBayes.scala):
      // trained on the full table (label = src0-src4) and applied to every
      // doc; weights are floor-ppm ln chains (q104 recipe), scores exact
      // integer sums — partitioning/order independent by construction.
      val docs = t(s, dir, "documents")
      graft.ops.NaiveBayes.qualityScores(docs, "doc_id", "text",
        col("source").isin("src0", "src1", "src2", "src3", "src4"),
        minTotal = 3L)
    }),
    "q118_semdedup" -> ((s, dir) => {
      // SemDeDup within-cluster semantic near-dup pairs, hash-oracled with
      // FIXED centroids (the first 4 vectors) so DuckDB replays the argmax
      // assignment, the within-cluster candidate topology, and the cosine
      // gate; planted scaled copies (q39's technique) guarantee pairs and
      // land in their original's cluster by scale-invariance. Copy-id
      // offset 10^7 (the q110 convention) keeps planted ids collision-free
      // up to 10^7 real vec_ids — far past any test scale factor.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = firstCentroids(e)
      Similarity.semDedupPairs(withScaledCopies(e), cents, threshold = 0.95)
        .select(col("cid"), col("id_a"), col("id_b"),
          round(col("cos"), 4).as("cos"))
    }),
    "q119_hard_negatives" -> ((s, dir) => {
      // hard-negative mining (DPR/ANCE): in-band top-k per query over the
      // IVF probe, hash-oracled with fixed centroids (q118's technique) —
      // DuckDB replays assignment, the nProbe probe list, the band filter,
      // and the rank tie-break.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = firstCentroids(e)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 3), k = 5,
          loSim = 0.2, hiSim = 0.8, nProbe = 2, centroids = Some(cents))
        .select(col("query_id"), col("vec_id"),
          round(col("cos"), 4).as("cos"), col("rank"))
    }),
    "q120_contam_report" -> ((s, dir) => {
      // per-doc contamination fraction + longest contaminated run (the
      // GPT-3/PaLM appendix numbers) vs the q53 eval set; hash-oracled —
      // DuckDB replays positional grams, the island grouping, and the
      // exact-integer ppm fraction.
      val docs = t(s, dir, "documents")
      graft.ops.Decontam.contaminationReport(
          docs, docs.filter(col("doc_id") % 50 === 0), "text", "doc_id", n = 8)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hit_pos"),
          col("frac_ppm"), col("longest_run"))
    }),
    "q121_skew_audit" -> ((s, dir) =>
      // key-skew audit over events.user_id: cardinality, hottest key,
      // integer-exact p50/p99 key sizes (distinct-sizes frame, the
      // zipfCurve bound), ppm share, suggested salt factor.
      Stats.skewAudit(t(s, dir, "events"), Seq("user_id"),
        targetPerTask = 100L)),
    "q122_shuffle_order" -> ((s, dir) =>
      // deterministic corpus shuffle order (no global sort): md5-keyed
      // shards, per-shard row_number, offset-composed global bijection —
      // the full permutation hash-matched against DuckDB.
      graft.ops.Sampling.shuffleOrder(t(s, dir, "documents"), "doc_id",
        seed = "epoch0", nShards = 16)),
    "q123_temporal_ref" -> ((s, dir) =>
      // cross-table temporal consistency (the referential check's time
      // axis): lineitems shipped before their order existed; stats-driven
      // join, parent reduced to (key, ts) at the scan.
      Validator.temporalViolations(
        t(s, dir, "lineitem").filter(col("l_orderkey") < 3000),
        t(s, dir, "orders"),
        "l_orderkey", "l_shipdate", "o_orderdate",
        idCols = Seq("l_orderkey", "l_linenumber"),
        ruleId = "SHIP_BEFORE_ORDER", parentKeyCol = Some("o_orderkey"))),
    "q132_fd_audit" -> ((s, dir) =>
      // functional-dependency audit: custkey -> orderpriority (violated by
      // construction; witnesses are the lexicographic extremes). Duplicate
      // (det, dep) attributions collapse map-side before the reduce.
      Validator.fdViolations(
        t(s, dir, "orders").filter(col("o_custkey") < 300),
        "o_custkey", "o_orderpriority")),
    "q131_benford" -> ((s, dir) =>
      // Benford first-digit audit over lineitem prices: exact digit
      // counts via the decimal-cents string (no double log near the
      // digit), literal nine-term chi2 chain.
      Drift.benford(t(s, dir, "lineitem"), "l_extendedprice")),
    "q130_cardinality" -> ((s, dir) =>
      // referential cardinality bounds (min/max children per parent,
      // childless parents included): every order must own 1-7 lineitems.
      Validator.cardinalityViolations(
        t(s, dir, "lineitem"), t(s, dir, "orders"), "l_orderkey",
        minChildren = 1L, maxChildren = 7L, ruleId = "LINEITEM_COUNT",
        parentKeyCol = Some("o_orderkey"))),
    "q129_centroid_cosine" -> ((s, dir) => {
      // per-source embedding centroid cosine (corpus cartography): exact-
      // decimal per-dim means -> identical centroids in both engines,
      // per-row cosines rounded (the q24 contract).
      val e = t(s, dir, "embeddings")
      val src = t(s, dir, "documents").select(col("doc_id").as("vec_id"),
        col("source"))
      Similarity.groupCentroidCosine(e.join(src, "vec_id"), "source")
        .select(col("vec_id"), col("source"),
          round(col("cos_centroid"), 4).as("cos_centroid"))
    }),
    "q128_gopher_gate" -> ((s, dir) =>
      // published Gopher doc-quality rules, every threshold exact-integer
      // (no ratio doubles anywhere); minWords lowered to 10 for the
      // fixture's 5-45-word docs (published default stays in the API).
      // The fixture vocabulary carries ~1 stopword, so variation is
      // planted: every 3rd doc gains stopwords (passes ok_stop), every
      // 7th a symbol run (fails ok_symbols) — mirrored in the oracle.
      t(s, dir, "documents")
        .select(col("doc_id"), concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 3 === 0, lit(" and that have with"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" ### ... ### ... ###"))
            .otherwise(lit(""))).as("__t"))
        .select(col("doc_id"),
          TextOps.gopherGate(col("__t"), minWords = 10L).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.ok_words").as("ok_words"),
          col("g.ok_wordlen").as("ok_wordlen"),
          col("g.ok_symbols").as("ok_symbols"),
          col("g.ok_alpha").as("ok_alpha"),
          col("g.ok_stop").as("ok_stop"),
          col("g.gopher_ok").as("gopher_ok"))),
    "q127_c4_clean" -> ((s, dir) => {
      // published C4 line rules over planted multi-line pages: 8-word
      // lines with a 5-way deterministic suffix (terminal punct / '?' /
      // none / javascript / brace) plus lorem-ipsum pages every 97th doc;
      // the oracle rebuilds the SAME pages and replays every rule.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.splitWords(col("text")).as("__w"))
      val nl = ceil(size(col("__w")) / lit(8.0)).cast("int")
      val lines = transform(sequence(lit(0), nl - 1), i =>
        concat(array_join(slice(col("__w"), i * 8 + 1, lit(8)), " "),
          when(pmod(col("doc_id") + i, lit(5)) === 0, lit("."))
            .when(pmod(col("doc_id") + i, lit(5)) === 1, lit("?"))
            .when(pmod(col("doc_id") + i, lit(5)) === 2, lit(""))
            .when(pmod(col("doc_id") + i, lit(5)) === 3, lit(" javascript."))
            .otherwise(lit(" { x }."))))
      val page = concat(array_join(lines, "\n"),
        when(col("doc_id") % 97 === 0,
          lit("\nthis page contains lorem ipsum filler text here."))
          .otherwise(lit("")))
      d.select(col("doc_id"), TextOps.c4Clean(page).as("c"))
        .select(col("doc_id"), col("c.n_lines").as("n_lines"),
          col("c.n_kept").as("n_kept"), col("c.page_ok").as("page_ok"),
          col("c.text").as("cleaned"))
    }),
    "q126_wilson_quality" -> ((s, dir) =>
      // per-source Wilson lower bound (z=1.96) on the exact-integer
      // quality pass rate — small-sample-corrected source ranking; one
      // sqrt (IEEE correctly-rounded, the alphaShares argument), chain
      // mirrored literally in DuckDB with z² spelled 1.96*1.96 so both
      // engines square the same double.
      Stats.wilsonLowerByGroup(t(s, dir, "documents"), Seq("source"),
        TextOps.qualityScoreScaled(col("text")) >= 8000L)),
    "q125_readability" -> ((s, dir) =>
      // Flesch reading ease in exact-floor milli-points (pinned double
      // chain, q104 recipe); map-only.
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.fleschMilli(col("text")).as("flesch_milli"))),
    "q124_script_signals" -> ((s, dir) =>
      // per-doc Unicode script distribution (script mixing = spam signal):
      // map-only codegen regexp chain, BMP literal classes valid in both
      // Java regex and RE2, exact floor-ppm fractions.
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.scriptSignals(col("text")).as("s"))
        .select(col("doc_id"), col("s.n_chars").as("n_chars"),
          col("s.latin_ppm").as("latin_ppm"),
          col("s.digit_ppm").as("digit_ppm"),
          col("s.cjk_ppm").as("cjk_ppm"),
          col("s.cyrillic_ppm").as("cyrillic_ppm"),
          col("s.space_ppm").as("space_ppm"))),
    "q28_sessionize" -> ((s, dir) => {
      // gap-based sessionization: new session when >30 min since previous
      // event of the same user (running sum over a flag) — the classic
      // conversation-segmentation window pattern
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // fractional epoch seconds (cast to double) on BOTH sides of the gap —
      // matches DuckDB epoch(); unix_timestamp would truncate to whole
      // seconds and split sub-second-straddling gaps differently
      val flagged = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          lag("ts", 1).over(w).as("prev_ts"))
        .select(col("user_id"), col("ts"), col("event_id"),
          // ts is TIMESTAMP_NTZ: hop through LTZ (session tz = UTC) to get
          // fractional epoch seconds — exactly DuckDB's epoch() on naive ts
          when(col("ts").cast("timestamp").cast("double") -
            col("prev_ts").cast("timestamp").cast("double") > 1800,
            1L).otherwise(lit(0L)).as("new_sess"))
        .withColumn("session_id",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      flagged
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max("n_events").as("max_session_events"),
          sum("n_events").as("n_events"))
    }),
    "q30_url_list" -> ((s, dir) => {
      // list-of-URLs element check (verification.py:76-91) over per-row URL
      // arrays built deterministically from documents columns; the message
      // embeds the Python list repr of bad items, incl. None for null
      // elements (a null lang makes element 1 null via concat propagation)
      val d = t(s, dir, "documents").select(col("doc_id"),
        array(
          concat(lit("https://example.org/"), col("lang")),
          when(col("doc_id") % 7 === 0,
            concat(lit("htp:/bad/"), col("doc_id").cast("string")))
            .otherwise(
              concat(lit("http://ok.example/"), col("doc_id").cast("string"))),
          when(col("doc_id") % 11 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("https://files.example/"), col("source")))
        ).as("urls"))
      val c = graft.checks.NestedChecks.UrlList("urls")
      d.filter(c.violated).select(col("doc_id"), c.message.as("message"))
    }),
    "q31_author_shape" -> ((s, dir) => {
      // author-object shape checks (verification.py:110-121): name present
      // and truthy per element; orcidId a valid URL when present
      val rec = t(s, dir, "customer").select(col("c_custkey"),
        array(
          struct(
            when(col("c_custkey") % 10 === 0, lit("")).otherwise(col("c_name"))
              .as("name"),
            when(col("c_custkey") % 13 === 0,
              concat(lit("orcid-"), col("c_custkey").cast("string")))
              .otherwise(concat(lit("https://orcid.org/"),
                col("c_custkey").cast("string"))).as("orcidId")),
          struct(
            when(col("c_custkey") % 17 === 0, lit(null).cast("string"))
              .otherwise(lit("Co Author")).as("name"),
            lit(null).cast("string").as("orcidId"))
        ).as("author"))
      val checks: Seq[graft.checks.Check] = Seq(
        graft.checks.NestedChecks.AuthorName("author"),
        graft.checks.NestedChecks.AuthorOrcid("author"))
      rec
        .select(col("c_custkey"),
          explode(Checks.violationsArray(checks)).as("v"))
        .select(col("c_custkey"), col("v.rule_id").as("rule_id"),
          col("v.message").as("message"))
    }),
    "q32_version_list" -> ((s, dir) => {
      // per-element softwareVersion fullmatch (verification.py:140-144)
      val rec = t(s, dir, "part").select(col("p_partkey"),
        array(
          struct(
            when(col("p_partkey") % 5 === 0,
              concat(lit("v"), col("p_size").cast("string")))
              .otherwise(concat(col("p_size").cast("string"), lit(".0.1")))
              .as("softwareVersion")),
          struct(
            when(col("p_partkey") % 9 === 0, lit(null).cast("string"))
              .otherwise(lit("2.10.3")).as("softwareVersion"))
        ).as("images"))
      val c = graft.checks.NestedChecks.VersionList("images")
      rec.filter(c.violated).select(col("p_partkey"), c.message.as("message"))
    }),
    "q33_zod_projection" -> ((s, dir) => {
      // end-to-end metadata-record mode (models.py:109-266, 301-425): build
      // software-metadata-shaped records (nullable scalars + author
      // array<struct>), rename through the zod key maps, ISO-midnight dates,
      // null-dropped JSON output
      import graft.model.ZodForm
      val rec = t(s, dir, "customer").select(
        col("c_custkey"),
        struct(
          col("c_name").as("name"),
          when(col("c_custkey") % 4 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("segment "), col("c_mktsegment")))
            .as("description"),
          TextOps.isoMidnightZ(
            date_add(lit("2020-01-01").cast("date"),
              (col("c_custkey") % 1000).cast("int"))).as("dateCreated"),
          when(col("c_custkey") % 3 === 0, lit("https://spdx.org/licenses/MIT"))
            .otherwise(lit(null).cast("string")).as("license"),
          array(struct(
            col("c_name").as("name"),
            when(col("c_custkey") % 2 === 0,
              concat(lit("https://orcid.org/"), col("c_custkey").cast("string")))
              .otherwise(lit(null).cast("string")).as("orcidId"),
            lit(null).cast("array<string>").as("affiliation"))).as("author")
        ).as("record"))
      rec.select(col("c_custkey"),
        ZodForm.toZodJson(ZodForm.renameStruct(
          col("record").withField("author",
            ZodForm.renameStructArray(col("record.author"), ZodForm.personMap)),
          ZodForm.softwareRecordMap)).as("zod_json"))
    }),
    "q35_merge_stats" -> ((s, dir) => {
      // merged-field-count metric (utils.py:57-62): per field, how many
      // merged rows took the secondary's value — same construction as q25
      val (primary, secondary) = customerMergeSides(s, dir)
      graft.ops.Merge.mergeFieldCounts(primary, secondary, "c_custkey")
    }),
    "q39_cosine_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup pairs, hash-oracled: plant scaled copies
      // (cos(v, 1.01v) = 1 and the sign-LSH bucket is scale-invariant, so
      // recall is structurally 1); background pairs all sit below 0.9, far
      // from the 0.95 threshold — the oracle certifies bucketing, candidate
      // dedup, exact verify, and the threshold filter
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.cosineNearDupPairs(withScaledCopies(e), threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }),
    "q38_minhash_exact" -> ((s, dir) => {
      // MinHash-LSH candidates + EXACT jaccard verify, hash-oracled against
      // the full exact pair set (the corpus's near-dup gap makes LSH recall
      // exactly 1 here — see Dedup.minhashLshPairsExact scaladoc); the
      // oracle certifies candidate generation AND verification
      Dedup.minhashLshPairsExact(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "text", "doc_id", threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),
    "q37_invalid_fields" -> ((s, dir) => {
      // the invalid_fields map operator (verification.py:13) hash-oracled:
      // field -> first reason per doc, rendered as a sorted-key JSON object
      val checks: Seq[graft.checks.Check] = Seq(
        graft.checks.RequiredNonEmpty("text"),
        graft.checks.RegexFullmatch("lang", "[a-z]{2}",
          "Invalid lang format in lang: "),
        graft.checks.LengthMax("text", 400))
      val viol = t(s, dir, "documents")
        .select(col("doc_id"), explode(Checks.violationsArray(checks)).as("v"))
        .select(col("doc_id"), col("v.field").as("field"),
          col("v.message").as("message"))
      graft.engine.Validator.invalidFieldsMap(viol, keyCol = "doc_id")
        .select(col("doc_id"), to_json(col("invalid_fields")).as("invalid_json"))
    }),
    "q36_window_segmented" -> ((s, dir) => {
      // the ts-order check over sparse per-conv turn_idx (global event_id),
      // hash-oracled against a plain DuckDB window: value-derived timestamps
      // plant real inversions. The name is from a segmented window that
      // measured slower than the plain one and was deleted
      val ev = t(s, dir, "events").select(
        col("user_id").cast("string").as("conv_id"),
        col("event_id").cast("int").as("turn_idx"),
        lit(0).as("part_id"),
        timestamp_seconds(floor(col("value") * 1000).cast("long")).as("ts"),
        col("props").as("text"))
      graft.engine.Validator.tsOrderViolations(ev)
        .select(col("conv_id"), col("turn_idx"), col("rule_id"),
          col("message"), col("text"))
    }),
    "q34_strict_first" -> ((s, dir) => {
      // strict mode's deterministic first-violation contract (api.py:85-89
      // analog): total order (doc_id, rule_id), TakeOrderedAndProject plan
      val checks: Seq[graft.checks.Check] = Seq(
        graft.checks.RequiredNonEmpty("text"),
        graft.checks.RegexFullmatch("lang", "[a-z]{2}",
          "Invalid lang format in lang: "),
        graft.checks.LengthMax("text", 400))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Checks.violationsArray(checks)).as("v"))
        .select(col("doc_id"), col("v.rule_id").as("rule_id"),
          col("v.field").as("field"), col("v.message").as("message"))
        .orderBy(col("doc_id"), col("rule_id")).limit(1)
    }),
    "q42_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals: duplicate-line and duplicate-token
      // fractions per doc, averaged per lang via exact DECIMAL sums
      def exactAvg(frac: Column): Column =
        round(sum(round(frac, 6).cast("decimal(12,6)")).cast("double") /
          count(lit(1)), 4)
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          exactAvg(TextOps.dupLineFraction(col("text"))).as("avg_dup_line_frac"),
          exactAvg(TextOps.dupTokenFraction(col("text"))).as("avg_dup_token_frac"),
          count(lit(1)).as("n_docs"))
    }),
    "q43_hash_sample" -> ((s, dir) => {
      // deterministic md5-threshold sample (~10%): partitioning-independent
      // membership, byte-identical across engines and cluster sizes
      graft.ops.Sampling.hashSample(t(s, dir, "documents"), "doc_id", "1999")
        .select(col("doc_id"), col("lang"))
    }),
    "q44_stratified_sample" -> ((s, dir) => {
      // deterministic stratified sample: 3 docs per lang by md5 order
      graft.ops.Sampling.stratifiedSample(
        t(s, dir, "documents"), "lang", "doc_id", k = 3)
        .select(col("lang"), col("doc_id"))
    }),
    "q65_stratified_salted" -> ((s, dir) => {
      // the stratified sample against the same DuckDB single-window oracle
      // as q44. The name is from a salted two-window form that measured
      // slower than the plain one and was deleted
      graft.ops.Sampling.stratifiedSample(
        t(s, dir, "documents"), "lang", "doc_id", k = 3)
        .select(col("lang"), col("doc_id"))
    }),
    "q45_exact_quantiles" -> ((s, dir) => {
      // exact interpolated quantiles (Spark `percentile` == DuckDB
      // quantile_cont) — the small-data cross-check for the t-digest path
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"),
          count(lit(1)).as("n"))
    }),
    "q46_asof_join" -> ((s, dir) => {
      // as-of join (latest click at-or-before each purchase, per user) via
      // the union + running-last-value window — one narrow shuffle, no
      // per-key cross product; oracled against DuckDB's native ASOF JOIN
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      def epochD(c: Column): Column = c.cast("timestamp").cast("double")
      graft.ops.AsOf.asofJoin(purchases, clicks, "user_id", "ts",
        payload = "event_id", tieBreak = "event_id")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          count(col("asof_ts")).as("n_matched"),
          round(sum(coalesce(
            round(epochD(col("ts")) - epochD(col("asof_ts")), 3), lit(0.0))
            .cast("decimal(18,3)")).cast("double"), 3).as("total_gap_sec"))
    }),
    "q47_range_join" -> ((s, dir) => {
      // banded interval join: views in the 6h before each purchase, same
      // user — time-bucketed equi-join (no theta-join, hot keys spread
      // across their time range), exact range predicate trims candidates
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"))
      graft.ops.RangeJoin.pastWindowJoin(
        purchases, views, "user_id", "ts", windowSec = 21600L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("event_id")).as("n_purchases_with_view"))
    }),
    "q48_pivot" -> ((s, dir) => {
      // pivot: event-type counts as columns per day (the drift table's
      // wide form); fixed value list so the plan needs no discovery pass
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("day") +: types.map(tp =>
        coalesce(col(tp), lit(0L)).as(tp)): _*)
    }),
    "q49_setops" -> ((s, dir) => {
      // set operators with SQL DISTINCT semantics: (lang, source) pairs of
      // the even-doc slice vs the every-third-doc slice
      val d = t(s, dir, "documents")
      val a = d.filter(col("doc_id") % 2 === 0).select("lang", "source").distinct()
      val b = d.filter(col("doc_id") % 3 === 0).select("lang", "source").distinct()
      a.intersect(b).select(lit("intersect").as("op"), col("lang"), col("source"))
        .unionByName(
          a.except(b).select(lit("except").as("op"), col("lang"), col("source")))
    }),
    "q50_rank_windows" -> ((s, dir) => {
      // ranking window functions: dense_rank/percent_rank over coarse price
      // buckets (real ties), row_number/ntile over a fully-deterministic
      // order — rows in the top-2 buckets per priority
      val coarse = floor(col("o_totalprice") / 1000)
      val wC = Window.partitionBy("o_orderpriority").orderBy(coarse.desc)
      val wF = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          coarse.cast("long").as("kbucket"),
          dense_rank().over(wC).as("drank"),
          round(percent_rank().over(wC), 6).as("prank"),
          row_number().over(wF).as("rn"),
          ntile(4).over(wF).as("quartile"))
        .filter(col("drank") <= 2)
    }),
    "q51_url_parse" -> ((s, dir) => {
      // URL component extraction (parse_url — the checks' urlparse-parity
      // primitive surfaced as an operator): protocol/host frequency table
      // over deterministically constructed URLs incl. a scheme-only bad form
      val url = when(col("doc_id") % 7 === 0,
        concat(lit("htp:/bad/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("https://files."), col("source"),
          lit(".example/x?y=1")))
      t(s, dir, "documents")
        .select(
          parse_url(url, lit("PROTOCOL")).as("protocol"),
          coalesce(parse_url(url, lit("HOST")), lit("__none__")).as("host"))
        .groupBy("protocol", "host")
        .agg(count(lit(1)).as("n"))
    }),
    "q52_dup_clusters" -> ((s, dir) => {
      // connected components (alternating large-star/small-star) resolving
      // a deterministic edge list into duplicate clusters: chain edges
      // within each (source, lang) group + cross-links doc_id%100==0 →
      // doc_id/2 force genuine multi-hop reachability (the DuckDB twin is a
      // recursive CTE, not a groupBy)
      val docs = t(s, dir, "documents")
      val w = Window.partitionBy("source", "lang").orderBy("doc_id")
      val chain = docs
        .select(col("doc_id").as("id_a"),
          lead(col("doc_id"), 1).over(w).as("id_b"))
        .filter(col("id_b").isNotNull)
      val cross = docs
        .filter(col("doc_id") % 100 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") / 2).cast("long").as("id_b"))
      graft.ops.Connected
        .dedupClusters(docs, chain.unionAll(cross), "doc_id")
        .select(col("id").as("doc_id"), col("cluster_id"), col("is_keeper"))
    }),
    "q53_decontam" -> ((s, dir) => {
      // benchmark decontamination: docs sharing any word 8-gram with the
      // "eval set" (every 50th doc); corpus side broadcast-joins the small
      // benchmark gram set — hash-matched counts vs DuckDB string matching
      val docs = t(s, dir, "documents")
      graft.ops.Decontam.contaminated(
          docs, docs.filter(col("doc_id") % 50 === 0), "text", "doc_id", n = 8)
        .select(col("id").as("doc_id"), col("n_hit_grams"))
    }),
    "q54_tfidf_terms" -> ((s, dir) => {
      // TF-IDF top-3 characteristic terms per doc (deterministic rounded-
      // score tie-break); restricted to doc_id < 100 to keep the oracle fast
      graft.ops.Tfidf.topTerms(
          t(s, dir, "documents").filter(col("doc_id") < 100),
          "text", "doc_id", k = 3, minTokenLen = 5)
        .select(col("id").as("doc_id"), col("term"), col("score"), col("rank"))
    }),
    "q55_freq_items" -> ((s, dir) => {
      // heavy-hitters sketch in its exact regime (distinct counts far under
      // maxMapSize → counts exact, order deterministic) — hash-matched
      // against DuckDB's exact groupBy top-5
      Stats.topValues(t(s, dir, "documents"), Seq("source", "lang"), k = 5)
        .select(col("column").as("col_name"), col("item"), col("est"))
    }),
    "q56_boilerplate" -> ((s, dir) => {
      // frequent-bigram boilerplate coverage: gram occurrences shuffle as
      // (doc_id, xxhash64) pairs; the ≥40-count frequent set broadcasts;
      // counts are string-grouping-identical (oracle groups the strings)
      graft.ops.Boilerplate.coverage(
          t(s, dir, "documents"), "text", "doc_id", n = 2, minCount = 40L)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_boiler"), col("boiler_frac"))
    }),
    "q57_json_extract" -> ((s, dir) => {
      // semi-structured extraction (the reference's JSON-LD parse analog as
      // a columnar op): pull props.$.k out of the JSON string, aggregate per
      // event type — get_json_object is codegen'd, no UDF
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          sum(col("k").cast("long")).as("sum_k"))
    }),
    "q58_length_hist" -> ((s, dir) => {
      // corpus length histogram (fixed-width bins, share of total via a
      // single-partition window over the tiny binned aggregate)
      val binned = t(s, dir, "documents")
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
      binned.withColumn("share",
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy()), 4))
    }),
    "q59_outliers" -> ((s, dir) => {
      // group-wise z-score anomaly screen: broadcast per-type moments from
      // exact decimal sums, map-only scoring — no window, no wide shuffle
      graft.ops.Outliers.zOutliers(t(s, dir, "events"),
          "event_type", "value", zThreshold = 4.0)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
    }),
    "q60_mixture" -> ((s, dir) => {
      // weighted corpus mixing: per-source deterministic hash-sample rates
      // (even-numbered sources ~60%, default ~15%), summarized per source
      val rates = (0 until 20 by 2).map(i => s"src$i" -> "9999").toMap
      graft.ops.Sampling.weightedMixture(
          t(s, dir, "documents"), "source", "doc_id", rates, "2666")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
    }),
    "q61_split" -> ((s, dir) => {
      // deterministic 80/10/10 train/val/test assignment (md5 bands),
      // disjoint + exhaustive by construction, summarized per (lang, split)
      t(s, dir, "documents")
        .withColumn("split", graft.ops.Sampling.splitColumn(col("doc_id"),
          Seq("cccc" -> "train", "e666" -> "val"), "test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
    }),
    "q62_mad_outliers" -> ((s, dir) => {
      // robust median/MAD outlier screen beside q59's μ/σ one — resistant
      // to the outliers inflating their own detection scale
      graft.ops.Outliers.madOutliers(t(s, dir, "events"),
          "event_type", "value", threshold = 6.0)
        .select(col("event_id"), col("event_type"), col("value"), col("rz"))
    }),
    "q63_new_keys" -> ((s, dir) => {
      // first-seen-day cohorts: how many keys does each partition introduce
      // (the "did this batch invent unexpected new keys" validation check)
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("first_day"))
        .groupBy("first_day")
        .agg(count(lit(1)).as("n_new_users"))
    }),
    "q64_boilerplate_frac" -> ((s, dir) => {
      // fraction-of-corpus boilerplate threshold (≥5% of doc slots): the
      // scale-invariant form of q56 — the frequent set stays bounded by
      // construction at any corpus size; n_docs joins as a broadcast
      // one-row aggregate
      graft.ops.Boilerplate.coverageFrac(
          t(s, dir, "documents"), "text", "doc_id", n = 2, minFrac = 0.05)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_boiler"), col("boiler_frac"))
    }),
    "q66_pixel_stats" -> ((s, dir) => {
      // real pixel decode, oracle-certified: [[plantedBmp]] blobs decoded
      // by pixelStats — the DuckDB twin states the analytically-known
      // means, so header parse, offsets, padding, and channel order are
      // all end-to-end checked
      plantedPixelStats(s, dir, plantedBmp)
    }),
    "q68_png_pixel_stats" -> ((s, dir) => {
      // real COMPRESSED-format pixel decode, oracle-certified: planted
      // [[plantedPng]] blobs (stored-deflate zlib IDAT) inflated and
      // defiltered by the JDK-Inflater expression — the oracle states the
      // same analytic means as q66, so signature/chunk-walk/zlib/filter
      // handling and channel order are all end-to-end checked
      plantedPixelStats(s, dir, plantedPng)
    }),
    "q69_gif_pixel_stats" -> ((s, dir) => {
      // real LZW pixel decode, oracle-certified: planted [[plantedGif]]
      // blobs (constant LZW stream, id-varying palette) decoded by the
      // pure-JVM GIF expression — the oracle states the analytic means,
      // so the LZW stream walk, palette lookup, and channel order are
      // end-to-end checked cross-engine
      plantedPixelStats(s, dir, plantedGif)
    }),
    "q133_jpeg_pixel_stats" -> ((s, dir) => {
      // real ENTROPY-CODED pixel decode, oracle-certified: planted
      // [[jpegFlatDcs]] baseline JPEGs (huffman DC + IDCT + 4:2:0
      // chroma upsample + JFIF YCbCr, incl. one clamped channel) decoded
      // by the pure-JVM JPEG expression — the oracle replays the analytic
      // 128+dc/8 samples and the JFIF conversion arithmetic independently
      plantedPixelStats(s, dir,
        plantedJpeg(_, jpegFlatDcs, JpegPlant.flat(_, _, _, _)))
    }),
    "q135_jpeg_progressive" -> ((s, dir) => {
      // PROGRESSIVE (SOF2) pixel decode, oracle-certified: the multi-scan
      // twins of q133's planted blobs (same analytic pixels) through the
      // coefficient-buffering scan loop — DC scan + per-component EOB-only
      // AC scans; the oracle replays the identical independent arithmetic
      plantedPixelStats(s, dir, plantedJpeg(_, jpegFlatDcs,
        JpegPlant.flatProgressive(_, _, _, _)))
    }),
    "q136_jpeg_sa_refine" -> ((s, dir) => {
      // successive-approximation DC refinement, oracle-certified: odd-dc
      // planted SOF2 blobs ([[jpegSaDcs]]) force every refinement
      // bit to 1; the oracle reconstructs floor(dc/8 + 128.5) from the dc
      // literals — if the decoder dropped or misplaced a single
      // refinement bit every mean would shift by 0.25 in dc units
      plantedPixelStats(s, dir, plantedJpeg(_, jpegSaDcs,
        JpegPlant.flatProgressive(_, _, _, _, sa = true)))
    }),
    "q70_weighted_sample" -> ((s, dir) => {
      // Efraimidis–Spirakis weighted race, oracle-replayed: top-25 docs by
      // ln(u)/w with u a dyadic rational from md5(doc_id) and w = n_chars —
      // length/quality-weighted selection without replacement, identical on
      // any partitioning and in DuckDB
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"))
      graft.ops.Sampling.weightedTopK(docs, "w", "doc_id", 25)
    }),
    "q71_split_leakage" -> ((s, dir) => {
      // split-leakage audit: q61's 80/10/10 md5-band assignment, then
      // val/test docs sharing any word 8-gram with the train split —
      // narrow shuffle equi-join on gram hashes, content never shuffles
      val docs = t(s, dir, "documents")
        .withColumn("split", graft.ops.Sampling.splitColumn(col("doc_id"),
          Seq("cccc" -> "train", "e666" -> "val"), "test"))
      graft.ops.Decontam
        .splitLeakage(docs, "text", "doc_id", "split", "train", n = 8)
        .select(col("split"), col("id").as("doc_id"), col("n_leaked_grams"))
    }),
    "q72_lm_xent" -> ((s, dir) => {
      // CCNet-style quality gate: char-trigram LM trained on the lang='en'
      // slice (add-1 smoothing, fraction-pruned model), every doc scored by
      // cross-entropy in bits/char — all-integer counts until one division
      // + ln per trigram, shared ln(2) literal, so DuckDB replays the full
      // train+score to the rounded bit
      graft.ops.LangModel.scoreAgainst(
        t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", minFrac = 1e-5)
    }),
    "q96_xent_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail: q72's byte-matched scores bucketed by
      // exact percentile cuts (distributed aggregate + broadcast, never
      // a global ntile window)
      graft.ops.LangModel.xentBuckets(
        graft.ops.LangModel.scoreAgainst(
          t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", minFrac = 1e-5))
    }),
    "q97_bm25" -> ((s, dir) => {
      // BM25 top-5 retrieval against a fixed probe-query set: broadcast
      // query terms prune the postings before anything wide; per-term
      // weights land as exact ppm longs (floor parity — round() ties
      // differ cross-engine, the q73 lesson) so the per-doc score is an
      // order-independent integer sum
      import s.implicits._
      val probes = Seq(
        (1, "spark window merge"),
        (2, "hash join filter"),
        (3, "stream batch query table"),
        (4, "vector column scan"),
        (5, "customer order the")).toDF("query_id", "qtext")
      graft.ops.Tfidf.bm25TopK(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "text", "doc_id", probes, "query_id", "qtext", k = 5)
        .select(col("query_id"), col("id").as("doc_id"),
          col("score_ppm"), col("rank"))
    }),
    "q98_chunks" -> ((s, dir) => {
      // sliding-window chunking (size 16, stride 11 → 5-token overlap):
      // map-only bounded explode, zero exchanges; uneven tails and
      // zero-token docs exercised by construction
      graft.ops.Packing.chunkByTokens(
        t(s, dir, "documents"), "doc_id", "text", size = 16, stride = 11)
    }),
    "q99_turn_dedup" -> ((s, dir) => {
      // cross-conversation turn dedup: (event_type, props) content present
      // in ≥ 15% of distinct conversations is boilerplate and drops; the
      // drop set broadcasts back left_anti so full turn rows never shuffle
      graft.ops.ChatOps.dedupTurns(
          t(s, dir, "events"), "user_id", "event_type", "props",
          minConvFrac = 0.15)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("props"))
    }),
    "q101_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights: target trigram LM (lang='en') vs raw LM
      // (whole corpus), one shared trigram stream broadcast-joining both
      // bounded models; positive bits = more target-like than average
      graft.ops.LangModel.importanceWeights(
        t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", minFrac = 1e-5)
    }),
    "q114_interarrival" -> ((s, dir) => {
      // turn inter-arrival latency histogram: narrow keyed window +
      // generated integer when-chain buckets (the q94 LOG2-ulp lesson)
      graft.ops.ChatOps.interArrival(
        t(s, dir, "events"), "user_id", "ts", "event_id")
    }),
    "q113_wav_pcm_stats" -> ((s, dir) => {
      // REAL PCM sample decode: RIFF chunk walk + i16 de-interleave in a
      // fused codegen Expression; all-integer per-channel stats vs the
      // analytic oracle on planted stereo WAVs (the q66 technique)
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.WavSampleStats
            .wavSampleStats(plantedWav(col("doc_id"))).as("s"))
        .select(col("doc_id"), col("s.*"))
    }),
    "q111_kl_slices" -> ((s, dir) => {
      // directional drift: KL(source-slice ‖ corpus) over the lang mix,
      // exact integer sum of floor-ppm cells (columnEntropy rule)
      graft.engine.Drift.klDivergence(
        t(s, dir, "documents"), "source", "lang")
    }),
    "q112_alpha_shares" -> ((s, dir) => {
      // α=½ temperature mixture shares: sqrt is IEEE-correctly-rounded
      // (a general pow is not), per-stratum floors BEFORE the sum
      graft.ops.Sampling.alphaShares(t(s, dir, "documents"), "source")
    }),
    "q110_corpus_diff" -> ((s, dir) => {
      // snapshot diff: day-2 corpus planted from documents (drops ≡3 mod
      // 17, rewrites ≡0 mod 13, adds shifted ids from ≡0 mod 29) — all
      // four statuses fire; only (id, md5) rows reach the join
      val docs = t(s, dir, "documents")
      val newSnap = docs.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0,
            concat(coalesce(col("text"), lit("")), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
      graft.ops.Dedup.corpusDiff(docs, newSnap, "doc_id", "text")
    }),
    "q109_quality_pct" -> ((s, dir) => {
      // exact percentile rank of the integer quality score without a
      // global sort: domain-bounded cumulative frame broadcast back
      val docs = t(s, dir, "documents").withColumn("q4",
        TextOps.qualityScoreScaled(col("text")))
      graft.ops.Outliers.rankPpmByValue(docs, "q4")
        .select(col("doc_id"), col("q4"), col("pct_le_ppm"))
    }),
    "q107_edit_verify" -> ((s, dir) => {
      // edit-distance verification over a deterministic candidate set
      // (the q73 adjacency chain): only candidate pairs see text, the
      // score is floor-ppm over exact ints, threshold splits both classes
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      val w = Window.partitionBy("source", "lang").orderBy("doc_id")
      val pairs = docs
        .select(col("doc_id").as("id_a"),
          lead(col("doc_id"), 1).over(w).as("id_b"))
        .filter(col("id_b").isNotNull)
      graft.ops.Dedup.editDistancePairs(
        docs, pairs, "doc_id", "text", maxDistPpm = 700000L)
    }),
    "q108_transition_matrix" -> ((s, dir) => {
      // corpus-wide (prev, cur) transition counts over the events
      // session stream — first rows count as (<start>, state)
      graft.engine.Grammar.transitionMatrix(
        t(s, dir, "events"), "user_id", Seq("ts", "event_id"), "event_type")
    }),
    "q106_col_entropy" -> ((s, dir) => {
      // per-column Shannon entropy (ppm bits): exact integer sum of
      // per-value floor terms — order-independent, ≤1 ppm/value bias
      graft.engine.Stats.columnEntropy(
        t(s, dir, "documents"), Seq("source", "lang"))
    }),
    "q105_zipf_curve" -> ((s, dir) => {
      // vocabulary coverage curve grouped by DISTINCT term frequency —
      // cardinality provably ≤ sqrt(2·tokens), so the cumulative window
      // is one bounded task by construction
      graft.ops.Tfidf.zipfCurve(t(s, dir, "documents"), "text", "doc_id")
    }),
    "q104_collocations" -> ((s, dir) => {
      // PMI collocations: top-50 adjacent word pairs by pointwise mutual
      // information — two partial-combine aggregates + broadcast totals +
      // TakeOrderedAndProject; pinned double chain, floor-ppm score
      graft.ops.NgramStats.collocations(
        t(s, dir, "documents"), "doc_id", "text", k = 50, minCount = 5)
    }),
    "q103_inverted_index" -> ((s, dir) => {
      // inverted-index build: per-term df/cf stats (partial-combine
      // aggregate) + top-3 postings via the rank-limit window
      // (WindowGroupLimit map-side heaps — a corpus-common term ships 3
      // rows per task, never its whole posting list)
      graft.ops.Tfidf.invertedIndex(
        t(s, dir, "documents"), "text", "doc_id",
        maxPostings = 3, minTokenLen = 5)
    }),
    "q102_pagerank" -> ((s, dir) => {
      // exact-integer PageRank (ppm ranks, 85/100 damping as a rational,
      // q/r-split overflow-safe) over the q73 planted link graph — 4
      // power iterations, each one narrow equi-join + one hash aggregate
      val docs = t(s, dir, "documents")
      val w = Window.partitionBy("source", "lang").orderBy("doc_id")
      val chain = docs
        .select(col("doc_id").as("src"),
          lead(col("doc_id"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      val cross = docs
        .filter(col("doc_id") % 100 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"),
          (col("doc_id") / 2).cast("long").as("dst"))
      graft.ops.Graph.pagerankInt(
        chain.unionAll(cross).distinct(), "src", "dst", iters = 4)
    }),
    "q100_quantize_int8" -> ((s, dir) => {
      // symmetric int8 quantization of the embedding table: map-only,
      // scale materialized before the transform that references it (the
      // q78/q88 interpreted-HOF lesson); code vector byte-matched as a
      // comma-joined string, checksums exact integers
      graft.ops.Similarity.quantizeInt8(
        t(s, dir, "embeddings"), "vec_id", "embedding")
    }),
    "q73_keep_best" -> ((s, dir) => {
      // dedup APPLY: q52's connected clusters, but the keeper is the
      // highest-quality member (ties to min id) via a skew-proof
      // max(struct) partial aggregate — never a per-cluster window. The
      // rank is the EXACT-INTEGER quality (qualityScoreScaled): per-doc
      // double rounding sits on a 4-dp boundary for ~1/10^4 docs and
      // hash-mismatches cross-engine; the integral form cannot.
      val docs = t(s, dir, "documents")
      val w = Window.partitionBy("source", "lang").orderBy("doc_id")
      val chain = docs
        .select(col("doc_id").as("id_a"),
          lead(col("doc_id"), 1).over(w).as("id_b"))
        .filter(col("id_b").isNotNull)
      val cross = docs
        .filter(col("doc_id") % 100 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") / 2).cast("long").as("id_b"))
      val ranked = docs.withColumn("q4",
        TextOps.qualityScoreScaled(col("text")))
      graft.ops.Connected
        .keepBestClusters(ranked, chain.unionAll(cross), "doc_id", "q4")
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("q4").cast("double") / 10000.0).as("quality"),
          col("is_keeper"))
    }),
    "q74_session_grammar" -> ((s, dir) => {
      // transition-grammar validation over the events stream: narrow
      // (user_id, ts, event_id, event_type) window, rules fire on
      // (prev, cur) pairs incl. the null-prev first row — the cross-row
      // rule family the one-record-at-a-time reference cannot express
      graft.engine.Grammar.transitionViolations(
        t(s, dir, "events"), "user_id", Seq("ts", "event_id"),
        "event_type", graft.engine.Grammar.sessionRules)
    }),
    "q75_pack" -> ((s, dir) => {
      // sequence packing: concatenate-then-chunk pack assignment via the
      // two-phase distributed prefix sum (segmented windows + tiny offset
      // frame) — oracle replays it as ONE plain window cumsum; segSize 256
      // forces many segments at sf0.01 so the stitch itself is what's tested
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("w"))
      graft.ops.Packing.packByBudget(docs, "doc_id", "w", budget = 4096L,
          segSize = 256L)
        .select("doc_id", "w", "cum_before", "pack_id")
    }),
    "q76_group_weighted" -> ((s, dir) => {
      // per-source Efraimidis–Spirakis weighted top-5 (per-domain corpus
      // selection): rank-limit window ⇒ WindowGroupLimit below the
      // exchange, skew-resistant map-side; DuckDB replays the race per group
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).as("w"))
      graft.ops.Sampling.weightedTopKPerGroup(docs, "source", "w", "doc_id", 5)
    }),
    "q78_span_pairs" -> ((s, dir) => {
      // winnowed duplicate-span pairs: docs ≡ 0 (mod 7) carry one of 3
      // planted 80-char boilerplate paragraphs; the oracle replays
      // gram-md5 → winnow → bucket cap → pair counting exactly, organic
      // small-vocab overlaps included
      graft.ops.SpanDedup.spanPairs(spanDocs(s, dir), "t", "doc_id",
        k = 16, w = 8, minShared = 1, maxBucket = 64)
    }),
    "q79_span_incidence" -> ((s, dir) => {
      // per-doc duplicated-span exposure on the same planted corpus;
      // integer counts only (the frac is a trivial division downstream)
      graft.ops.SpanDedup.spanIncidence(spanDocs(s, dir), "t", "doc_id")
        .select(col("id").as("doc_id"), col("n_fps"), col("n_shared_fps"))
    }),
    "q77_canonicalize" -> ((s, dir) => {
      // text canonicalization, byte-matched: plant decomposed accents
      // (e+U+0301, A+U+030A), a BEL control, CRLF, and tab/space runs on
      // every doc (oracle builds the identical suffix via chr()); NFC +
      // control-strip + EOL-unify + squeeze must agree byte-for-byte with
      // DuckDB's utf8proc nfc_normalize + RE2 regexp chain
      val planted = concat(coalesce(col("text"), lit("")),
        lit("  Café \r\nÅ\tx\u0007 end "))
      t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"),
          graft.ops.TextOps.canonicalize(planted).as("canon"))
    }),
    "q82_line_dedup" -> ((s, dir) => {
      // C4/Dolma duplicate-line removal, byte-matched end-to-end: docs
      // ≡ 0 (mod 4) get one of 3 recurring banner lines plus a short
      // "ok" line (below the 15-char floor, must survive); organic
      // exact-dup texts in the synthetic corpus recur as full lines and
      // are dropped identically by both engines
      val banner = concat(
        lit("Banner variant "), pmod(col("doc_id"), lit(3)).cast("string"),
        lit(" subscribe to our newsletter today"))
      val planted = when(pmod(col("doc_id"), lit(4)) === 0,
        concat(coalesce(col("text"), lit("")), lit("\n"), banner,
          lit("\nok")))
        .otherwise(coalesce(col("text"), lit("")))
      graft.ops.SpanDedup.dedupLines(
        t(s, dir, "documents").select(col("doc_id"), planted.as("t")),
        "t", "doc_id")
    }),
    "q83_html_extract" -> ((s, dir) => {
      // HTML→text extraction byte-matched end-to-end: planted markup
      // exercises script/style bodies (with < and && inside), a
      // multi-line comment, block-tag paragraph breaks, the whole
      // entity table (incl. the &amp;-last rule: "&amp;lt;" must
      // surface as literal "&lt;"), and whitespace normalization
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.WebText.stripHtml(plantedHtml).as("clean_text"))
    }),
    "q89_html_signals" -> ((s, dir) => {
      // structural boilerplate signals over the same planted HTML:
      // docs ≡ 2 (mod 5) carry two anchors, so link density separates
      // them; all-integer ppm so both engines floor the same doubles
      val sig = graft.ops.WebText.htmlSignals(plantedHtml)
      t(s, dir, "documents").select(col("doc_id"),
        sig.getField("text_ratio_ppm").as("text_ratio_ppm"),
        sig.getField("link_density_ppm").as("link_density_ppm"),
        sig.getField("n_tags").as("n_tags"),
        sig.getField("n_links").as("n_links"))
    }),
    "q90_chat_render" -> ((s, dir) => {
      // chat-template rendering: conversations (user_id) flatten to
      // model-ready "<|role|>text" lines in (ts, event_id) order — one
      // hash shuffle, per-conv work bounded by conversation length
      graft.ops.ChatOps.renderConversations(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        "props")
    }),
    "q91_prefix_dedup" -> ((s, dir) => {
      // shared-prefix dedup: conversations branching from the same
      // first-3-turn setup collapse to one keeper; turn text never
      // leaves the first aggregate (signatures shuffle, not turns)
      graft.ops.ChatOps.prefixDedup(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        "props", 3)
    }),
    "q84_url_normalize" -> ((s, dir) => {
      // URL canonicalization on planted URLs covering upper-case
      // scheme/host, www + subdomain labels, ccTLD second-level
      // (co.uk) vs plain domains, default (:443) and non-default
      // (:8080) ports, empty paths, tracking params in leading /
      // middle / only positions, and fragments
      val p = graft.ops.WebText.urlParts(plantedUrl)
      t(s, dir, "documents").select(col("doc_id"),
        p.getField("url_norm").as("url_norm"),
        p.getField("host").as("host"),
        p.getField("domain").as("domain"))
    }),
    "q85_domain_stats" -> ((s, dir) => {
      // per-registrable-domain corpus rollup (the blocklist /
      // reputation shape): one hash shuffle on the extracted domain
      val p = graft.ops.WebText.urlParts(plantedUrl)
      t(s, dir, "documents")
        .select(p.getField("domain").as("domain"),
          p.getField("host").as("host"), col("n_chars"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("host")).as("n_hosts"),
          sum(col("n_chars")).as("sum_chars"))
    }),
    "q86_turn_budget" -> ((s, dir) => {
      // context-window tail selection per conversation (user_id as the
      // conv key): newest-first token cumsum within a 64-token budget,
      // latest row always kept; the per-conv rollup reuses the window's
      // hash partitioning so the whole query costs ONE exchange
      val tok = greatest(lit(1L),
        floor(length(coalesce(col("props"), lit(""))) / lit(4)).cast("long"))
      graft.ops.ContextBudget
        .tailWithinBudget(t(s, dir, "events"), "user_id", "ts", "event_id",
          tok, 64L)
        .groupBy(col("user_id"))
        .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("kept_events"),
          sum(when(col("kept"), col("n_tokens")).otherwise(0L))
            .as("kept_tokens"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("dropped_events"))
    }),
    "q87_mojibake" -> ((s, dir) => {
      // UTF-8-read-as-cp1252 repair, byte-matched: docs ≡ 0 (mod 3) get
      // the clean sample round-tripped through the real encoding bug
      // (computed, not hand-typed — soft hyphens and C1 controls are
      // invisible); fix must restore the clean text and zero the marker
      // count, clean docs must pass through untouched
      val plant = lit(graft.ops.TextOps.utf8AsCp1252(mojibakeCleanSample))
      val planted = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(coalesce(col("text"), lit("")), plant))
        .otherwise(coalesce(col("text"), lit("")))
      val fixed = graft.ops.TextOps.fixMojibake(planted)
      t(s, dir, "documents").select(col("doc_id"),
        fixed.as("fixed"),
        graft.ops.TextOps.mojibakeMarkers(planted).cast("long")
          .as("n_markers_before"),
        graft.ops.TextOps.mojibakeMarkers(fixed).cast("long")
          .as("n_markers_after"))
    }),
    "q88_ngram_repetition" -> ((s, dir) => {
      // Gopher repetition signals on the organic corpus (the word-salad
      // vocabulary repeats naturally — no plant needed): exact ppm
      // integers so floor-parity is bit-exact cross-engine
      graft.ops.NgramStats.repetitionSignals(
        t(s, dir, "documents"), "text", "doc_id")
    }),
    "q92_messages_json" -> ((s, dir) =>
      // JSONL-ready messages arrays, byte-matched: props carry quotes
      // (JSON-in-JSON) so the escape chain is exercised on every turn
      graft.ops.ChatOps.messagesJson(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", "props")),
    "q93_mixture_plan" -> ((s, dir) => {
      // mixture sizing: per-lang inventory → exact-ppm sampling rates
      // for a 200k-token target; all-integer so no cross-engine ulps
      val tok = greatest(lit(1L),
        floor(length(coalesce(col("text"), lit(""))) / lit(4)).cast("long"))
      graft.ops.Sampling.mixturePlan(t(s, dir, "documents"), "lang", tok,
        Map("en" -> 500000L, "de" -> 200000L, "fr" -> 150000L,
          "es" -> 100000L, "zh" -> 50000L), 200000L)
    }),
    "q94_length_buckets" -> ((s, dir) => {
      // power-of-two padding-waste planner; the bucket is an integer
      // when-chain, NOT ceil(log2(n)) — LOG2 differs by a ulp across
      // engines at exact powers of two and would flip buckets
      val tok = greatest(lit(1L),
        floor(length(coalesce(col("text"), lit(""))) / lit(4)).cast("long"))
      graft.ops.Packing.lengthBuckets(t(s, dir, "documents"), tok)
    }),
    "q95_incremental_dedup" -> ((s, dir) => {
      // day-2 ingest: docs < 250 are the historical store (as md5
      // hashes only), the rest arrive. Docs ≡ 3 (mod 7) share 4
      // planted texts spanning both halves, so both drop paths fire:
      // arrivals matching history drop, then arrivals dedup among
      // themselves (min id keeps)
      val planted = when(pmod(col("doc_id"), lit(7)) === 3,
        concat(lit("planted shared document variant "),
          pmod(col("doc_id"), lit(4)).cast("string")))
        .otherwise(coalesce(col("text"), lit("")))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), planted.as("text"))
      val seen = docs.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("ch")).distinct()
      graft.ops.Dedup.incrementalNew(
        docs.filter(col("doc_id") >= 250), "text", "doc_id", seen, "ch")
        .select(col("doc_id"), col("n_chars"))
    }),
    "q81_epoch_expand" -> ((s, dir) => {
      // fractional-epoch mixture upsampling: en 2.3 / de 1.0 / fr 0.7 /
      // es 0.4 / zh 0 covers floor>=2, exactly-one, fraction-only, and
      // vanish; the oracle replays the salted md5 band + generate_series
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val e = when(col("lang") === "en", 2.3)
        .when(col("lang") === "de", 1.0)
        .when(col("lang") === "fr", 0.7)
        .when(col("lang") === "es", 0.4)
        .otherwise(0.0)
      graft.ops.Sampling.epochExpand(docs, "doc_id", e)
    }),
    "q80_pack_payloads" -> ((s, dir) => {
      // writer-side pack materialization: slice docs into the packs their
      // chars land in, reassemble per-pack payloads — byte-matched against
      // DuckDB's string_agg replay; budget 2048 chars ⇒ ~73 packs at
      // sf0.01, segSize 128 keeps the prefix-sum stitch exercised
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("txt"))
      graft.ops.Packing.packAssemble(
        graft.ops.Packing.packPayloads(docs, "doc_id", "txt",
          budget = 2048L, segSize = 128L))
    }),
    "q67_pii_redact" -> ((s, dir) => {
      // PII scrub, byte-matched: plant one email and one IPv4 per doc
      // (built identically in the oracle), redact, return the FULL
      // redacted text plus per-kind counts — cross-engine regex-dialect
      // parity on the full string is the point of the check
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0.0."),
        pmod(col("doc_id"), lit(200)).cast("string"))
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          graft.ops.TextOps.redactPii(planted).as("redacted"),
          graft.ops.TextOps.piiCounts(planted).as("p"))
        .select(col("doc_id"), col("redacted"),
          col("p.n_email").as("n_email"), col("p.n_ipv4").as("n_ipv4"),
          col("p.n_number").as("n_number"))
    }),
    // ---- rows-only entries (xxhash64 / engine-internal — no DuckDB twin) ----
    "t01_violations" -> ((s, _) => entry(s)),
    "t02_verdicts" -> ((s, _) => {
      val turns = TranscriptGen.transcripts(s, tCfg)
      Validator.verdicts(turns, Validator.allViolations(
        turns, Some(TranscriptGen.conversations(s, tCfg))))
    }),
    "t03_col_stats" -> ((s, _) =>
      // entry boundary: serialize the array-typed quantile column so the
      // driver's rows-only pandas sort can hash it (typed API stays internal)
      Stats.colStats(TranscriptGen.transcripts(s, tCfg))
        .withColumn("q_tdigest", to_json(col("q_tdigest")))),
    "t04_dup_keys" -> ((s, _) =>
      Validator.dupViolations(TranscriptGen.transcripts(s, tCfg))),
    "t05_orphans" -> ((s, _) => {
      Validator.orphanViolations(
        TranscriptGen.transcripts(s, tCfg),
        TranscriptGen.conversations(s, tCfg))
    }),
    "t06_drift" -> ((s, _) =>
      Drift.chiSquare(TranscriptGen.transcripts(s, tCfg), "role")),
    "t07_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.5)),
    "t08_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 8)),
    "t09_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
    }),
    "t15_ann_ivf" -> ((s, dir) => {
      // IVF-flat ANN (deterministic hash-sampled centroids, nProbe inverted
      // lists) — approximate by design, so rows-only like t09
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos"),
          col("rank"))
    }),
    "t17_corpus_funnel" -> ((s, dir) => {
      // composed corpus-construction funnel over the documents table
      // (xxhash64-based minhash inside — no DuckDB twin); rows-only +
      // CorpusPipelineSpec stage-accounting gate
      val docs = t(s, dir, "documents")
      val ann = graft.ops.CorpusPipeline.annotate(
        docs, docs.filter(col("doc_id") % 50 === 0), "text", "doc_id",
        "source",
        graft.ops.CorpusPipeline.Config(
          langs = Set("en", "de", "fr", "es"), minQuality = 0.2,
          decontamN = 8, boilerMinCount = Some(400L)))
      graft.ops.CorpusPipeline.funnel(ann).orderBy("stage")
    }),
    "t18_bucket_audit" -> ((s, dir) => {
      // silent-cap visibility for the dedup/ANN family: one row per
      // operator stating what its maxBucket guard dropped (xxhash-banded
      // buckets — no DuckDB twin; planted-oversized-bucket behavior is
      // spec-gated in CorpusOpsSpec)
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      Dedup.minhashBucketAudit(docs, "text", "doc_id")
        .withColumn("op", lit("minhash_lsh"))
        .unionByName(Dedup.simhashBucketAudit(docs, "text", "doc_id")
          .withColumn("op", lit("simhash")))
        .unionByName(Similarity.cosineBucketAudit(emb)
          .withColumn("op", lit("cosine_near_dup")))
        .select(col("op"), col("n_buckets"), col("n_oversized_buckets"),
          col("n_dropped_rows"), col("n_dropped_pairs_ub"))
    }),
    "t21_sft_corpus" -> ((s, dir) =>
      // end-to-end transcript → SFT corpus (dedupTurns → prefixDedup →
      // messagesJson): every stage is individually oracled (q99, q91,
      // q92); the composition's keeper/drop semantics are ChatOpsSpec-
      // gated, and this entry prices the one-effective-text-exchange
      // composition at table scale
      graft.ops.ChatOps.sftCorpus(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        "props", boilerFrac = 0.15, prefixK = 3)),
    "t22_bpe_merges" -> ((s, dir) => {
      // distributed BPE merge learning over the documents table (iterative
      // per-round pair-count argmax — no DuckDB twin: the loop is
      // inherently sequential; merge-for-merge parity with an exact scalar
      // replica incl. tie-breaks and the overlap rewrite is BpeSpec-gated).
      // Returns the ordered merge table the tokenizer would ship.
      import s.implicits._
      val wf = graft.ops.Bpe.wordFreqs(t(s, dir, "documents"), "text")
      graft.ops.Bpe.learnMerges(wf, nMerges = 12)
        .zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("merge_idx", "a", "b")
    }),
    "t24_tool_args" -> ((s, dir) =>
      // tool-call JSON argument validation at transcript scale: the
      // map-only check catalog (q116-oracled semantics) over the planted
      // toolCalls payload table — rows-only; ToolArgsSpec pins every rule
      // and the planted-count law.
      graft.checks.ToolArgs.violations(
        graft.sources.TranscriptGen.toolCalls(s, tCfg),
        "tool", "args", Seq("conv_id", "turn_idx"))),
    "t27_echo_signals" -> ((s, dir) =>
      // turn echo detection at transcript scale: fixed-size minhash
      // signatures ride the conversation window, text never shuffles;
      // ChatOpsSpec pins the estimator and the planted-echo case.
      graft.ops.ChatOps.echoSignals(
        graft.sources.TranscriptGen.transcripts(s, tCfg),
        "conv_id", "turn_idx", "role", "text")),
    "t25_semdedup" -> ((s, dir) => {
      // full SemDeDup at table scale: Lloyd centroids → within-cluster
      // pairs → quality-ranked keepers (n_chars as quality); planted
      // scaled copies (rank 0) are the duplicates the originals win over.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val ranks = t(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("n_chars"))
      Similarity.semDedup(withScaledCopies(e), ranks, "n_chars",
        nCentroids = 8, iters = 2, threshold = 0.95)
    }),
    "t26_temporal_ref" -> ((s, dir) => {
      // temporal referential check on the transcript fixture: turns whose
      // ts precedes their conversation's created_ts — fired by the TSO
      // plant's 1-day backshift (spec-gated in RunnerSpec family).
      val turns = graft.sources.TranscriptGen.transcripts(s, tCfg)
      val convs = graft.sources.TranscriptGen.conversations(s, tCfg)
      Validator.temporalViolations(turns, convs, "conv_id", "ts",
        "created_ts", idCols = Seq("conv_id", "turn_idx"))
    }),
    "t23_containment_pairs" -> ((s, dir) => {
      // subset-duplicate detection at table scale: winnow span-fingerprint
      // candidates (a contained doc shares verbatim spans with its
      // container — minhash bands are Jaccard-biased and MISS these) →
      // exact directional containment verify on the candidate ids only.
      // Candidate topology is SpanDedup's pinned bucket join; containment
      // semantics are q115-oracled on the bounded face and
      // ContainmentSpec-gated here (xxhash fingerprints — no DuckDB twin).
      val docs = t(s, dir, "documents")
      Dedup.containmentPairs(docs,
          graft.ops.SpanDedup.spanPairsFast(docs, "text", "doc_id",
            k = 16, w = 8, minShared = 2),
          "doc_id", "text", n = 3, minContainment = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("c_ab"), 4).as("c_ab"), round(col("c_ba"), 4).as("c_ba"),
          round(col("jaccard"), 4).as("jaccard"))
    }),
    "t20_span_pairs_full" -> ((s, dir) =>
      // winnowed span dedup priced at full table scale on the PRODUCTION
      // face (native rolling-hash expression; q78 certifies the pipeline
      // semantics on the md5 oracle face over a 250-doc slice, WinnowSpec
      // pins face agreement). The md5 face is deliberately NOT priced at
      // full scale: interpreted HOF + per-gram md5 costs ~3 orders of
      // magnitude more (measured, PLANS.md round 4) and would dominate the
      // whole per-query bench.
      graft.ops.SpanDedup.spanPairsFast(
        t(s, dir, "documents"), "text", "doc_id", k = 16, w = 8,
        minShared = 2)),
    "t19_role_grammar" -> ((s, _) =>
      // conversation-structure grammar over the synthetic transcript table
      // (rule semantics are GrammarSpec-gated; xxhash-generated input — no
      // DuckDB twin)
      graft.engine.Grammar.transitionViolations(
        TranscriptGen.transcripts(s, tCfg), "conv_id", Seq("turn_idx"),
        "role", graft.engine.Grammar.roleRules)),
    "t16_bloom_decontam" -> ((s, dir) => {
      // bloom-screened decontamination (superset-of-exact contract is
      // spec-gated in BloomSpec; bloom bit patterns aren't DuckDB-expressible)
      val docs = t(s, dir, "documents")
      graft.ops.Decontam.contaminatedBloom(
          docs, docs.filter(col("doc_id") % 50 === 0), "text", "doc_id", n = 8)
        .select(col("id").as("doc_id"), col("n_hit_grams"))
    }),
    "t10_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), countDistinct(col("fp")).as("n_distinct_fp"))),
    "t12_sanitize_revalidate" -> ((s, _) => {
      // sanitize nulls format-violating fields; re-validation must fire only
      // required/missing-side rules (reference sanitize_metadata semantics)
      val turns = TranscriptGen.transcripts(s, tCfg)
      Validator.rowViolations(graft.engine.Sanitizer.sanitize(turns))
        .groupBy("rule_id").agg(count(lit(1)).as("n"))
    }),
    "t13_invalid_fields" -> ((s, _) => {
      // reference invalid_fields map (verification.py:13) per conversation
      val turns = TranscriptGen.transcripts(s, tCfg)
      Validator.invalidFieldsMap(Validator.rowViolations(turns))
        .select(col("conv_id"),
          array_join(map_keys(col("invalid_fields")), ",").as("fields"))
    }),
    "t14_nested_url_list" -> ((s, _) => {
      // list-of-URLs shape check (verification.py:76-91) on per-conversation
      // collected fetch payloads; message embeds the Python list repr
      val turns = TranscriptGen.transcripts(s, tCfg)
      val convUrls = turns.filter(col("tool") === "fetch")
        .groupBy("conv_id")
        .agg(sort_array(collect_list(col("text"))).as("urls"))
      val c = graft.checks.NestedChecks.UrlList("urls")
      convUrls.filter(c.violated)
        .select(col("conv_id"), c.message.as("message"))
    }),
    "t11_multimodal_features" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val packed = Multimodal.packFromText(docs, "text", "doc_id")
      // planted uncompressed BMP payloads ([[plantedBmp]] — same blobs the
      // q66 oracle certifies) — exercises the REAL pixel decode path; text
      // blobs keep the marked stub
      val bmps = Multimodal.packMedia(
        docs.filter(col("doc_id") < 8).select(
          (col("doc_id") + 1000000L).as("doc_id"),
          plantedBmp(col("doc_id")).as("bmp")),
        "doc_id", "bmp", lit("image"))
      // planted PNGs too (same pixels, compressed container) — the real
      // Inflater decode feeds the embedding path end-to-end
      val pngs = Multimodal.packMedia(
        docs.filter(col("doc_id") < 8).select(
          (col("doc_id") + 2000000L).as("doc_id"),
          plantedPng(col("doc_id")).as("png")),
        "doc_id", "png", lit("image"))
      // planted baseline JPEGs (one per variant) — the huffman+IDCT decode
      // feeds the embedding path end-to-end too
      val jpgs = Multimodal.packMedia(
        docs.filter(col("doc_id") < 8).select(
          (col("doc_id") + 3000000L).as("doc_id"),
          plantedJpeg(col("doc_id"), jpegFlatDcs,
            JpegPlant.flat(_, _, _, _)).as("jpg")),
        "doc_id", "jpg", lit("image"))
      // default (strict) mode: text payloads are undecodable, so their
      // embedding is NULL and embedding_real=false; the planted
      // BMP/PNG/JPEG rows carry real pixel-derived vectors flagged true
      Multimodal.featuresFromPacked(
        packed.unionByName(bmps).unionByName(pngs).unionByName(jpgs))
        .select(col("vec_id"), col("kind"), col("meta.byte_len").as("byte_len"),
          col("embedding_real"),
          size(col("embedding")).as("dim"), size(col("frames")).as("n_frames"),
          col("pix.format").as("pix_format"),
          col("pix.mean_r").as("mean_r"), col("pix.mean_g").as("mean_g"),
          col("pix.mean_b").as("mean_b"))
    })
  )

  /** Planted HTML column shared by q83/q89 (Spark side; [[htmlPlantSql]]
    * is the byte-matched DuckDB twin). */
  private def plantedHtml: Column = {
    val id = col("doc_id")
    concat(
      lit("<html><head><title>Doc "), id.cast("string"), lit("</title>"),
      lit("<style type=\"text/css\">body { color: #fff; }</style>"),
      when(pmod(id, lit(3)) === 0,
        lit("<script>if (a < b && c > 0) { alert(\"x&y\"); }</script>"))
        .otherwise(lit("")),
      lit("</head><!-- hidden <b>note</b>\nspans lines --><body>"),
      lit("<h1 class=\"t\">Title &amp; more</h1><p>"),
      substring(coalesce(col("text"), lit("")), 1, 120),
      lit("</p><p>M&amp;A &lt;tag&gt; &quot;q&quot; &#39;s&nbsp;" +
        "&mdash;&hellip; &amp;lt; &#38;co</p>"),
      when(pmod(id, lit(4)) === 1,
        lit("<ul><li>one</li><li>two</li></ul>")).otherwise(lit("")),
      when(pmod(id, lit(5)) === 2,
        lit("<p>See <a href=\"https://e.com/x\">this link</a> and " +
          "<a href=\"#\">that</a>.</p>")).otherwise(lit("")),
      lit("</body></html>"))
  }

  /** Planted URL column shared by q84/q85 — deterministic per doc_id,
    * covering every [[graft.ops.WebText.urlParts]] branch. */
  private def plantedUrl: Column = {
    val id = col("doc_id")
    concat(
      when(pmod(id, lit(2)) === 0, lit("HTTPS://")).otherwise(lit("http://")),
      when(pmod(id, lit(5)) === 0, lit("WWW.")).otherwise(lit("")),
      when(pmod(id, lit(7)) < 3,
        concat(lit("sub"), pmod(id, lit(7)).cast("string"), lit(".")))
        .otherwise(lit("")),
      when(pmod(id, lit(3)) === 0, lit("Example.CO.uk"))
        .when(pmod(id, lit(3)) === 1, lit("Sample.COM"))
        .otherwise(lit("news.org")),
      when(pmod(id, lit(4)) === 0, lit(":443"))
        .when(pmod(id, lit(4)) === 1, lit(":8080")).otherwise(lit("")),
      when(pmod(id, lit(6)) === 5, lit(""))
        .otherwise(concat(lit("/Path/"), id.cast("string"))),
      when(pmod(id, lit(6)) === 0, lit("?utm_source=tw&id=1&utm_campaign=x"))
        .when(pmod(id, lit(6)) === 1, lit("?gclid=abc"))
        .when(pmod(id, lit(6)) === 2, lit("?a=1&fbclid=zz&b=2"))
        .otherwise(lit("")),
      lit("#frag"))
  }

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** SQL string literal that splices invisible / control / C1 chars (which
    * mojibake keys are full of) as explicit chr(n) concats, so the
    * generated oracle stays readable and byte-exact. */
  private def sqlStrEsc(s: String): String = {
    val sb = new StringBuilder("'")
    s.foreach { ch =>
      if (ch == '\'') sb.append("''")
      else if (ch < 0x20 || (ch >= 0x7F && ch <= 0xA0) || ch == '\u00AD')
        sb.append("' || chr(").append(ch.toInt).append(") || '")
      else sb.append(ch)
    }
    sb.append("'").toString
  }

  /** Clean text whose cp1252 round-trip plants every q87 mojibake class:
    * punctuation (3-byte UTF-8 incl. the C1-control ” case), accented
    * Latin-1 (incl. invisible-second-char ï/à), currency, NBSP. */
  private val mojibakeCleanSample: String =
    " Café — “naïve” «extra» €5 " +
      "don’t… über ß É end"

  /** DuckDB twin of ChatOps' private jsonEscape chain (same order:
    * backslash, quote, then \n \r \t). */
  private def jsonEscSql(x: String): String =
    "replace(replace(replace(replace(replace(" + x +
      ", '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), chr(13), '\\r'), " +
      "chr(9), '\\t')"

  /** DuckDB twin of Packing.lengthBuckets' integer bucket when-chain
    * (over column `n`). */
  private val bucketCaseSql: String = {
    val branches = (1 to 21)
      .map(k => s"WHEN n <= ${1L << (k - 1)} THEN ${1L << (k - 1)}")
      .mkString(" ")
    s"CASE $branches ELSE ${1L << 21} END"
  }

  /** DuckDB replay of the full char-trigram LM train+score (q72); q96
    * wraps it as a CTE to bucket the same scores. */
  private val lmXentOracleSql: String =
    """WITH lt AS (
      | SELECT doc_id, lang, lower(COALESCE(text, '')) AS t FROM documents),
      |tri AS (
      | SELECT doc_id, lang,
      |  unnest(list_transform(range(1, greatest(length(t) - 1, 1)),
      |                        i -> substr(t, i, 3))) AS tri
      | FROM lt),
      |c3full AS (
      | SELECT tri, count(*) AS c3 FROM tri WHERE lang = 'en' GROUP BY tri),
      |tot AS (SELECT sum(c3) AS total FROM c3full),
      |m3 AS (
      | SELECT tri, c3 FROM c3full, tot
      | WHERE c3 >= CAST(ceil(1e-05 * total) AS BIGINT)),
      |m2 AS (
      | SELECT bg, c2 FROM (
      |   SELECT substr(tri, 1, 2) AS bg, sum(c3) AS c2
      |   FROM c3full GROUP BY 1) p, tot
      | WHERE c2 >= CAST(ceil(1e-05 * total) AS BIGINT)),
      |v AS (SELECT count(DISTINCT substr(tri, 3, 1)) AS vs FROM c3full),
      |sc AS (
      | SELECT t.doc_id, count(*) AS n_tris,
      |  sum(ln(CAST(COALESCE(m3.c3, 0) + 1 AS DOUBLE)
      |         / (COALESCE(m2.c2, 0) + v.vs))) AS s
      | FROM tri t
      | CROSS JOIN v
      | LEFT JOIN m3 ON t.tri = m3.tri
      | LEFT JOIN m2 ON substr(t.tri, 1, 2) = m2.bg
      | GROUP BY t.doc_id)
      |SELECT doc_id, n_tris,
      | round(-s / (n_tris * 0.6931471805599453), 4) AS xent_bits
      |FROM sc""".stripMargin

  /** DuckDB replay of [[graft.ops.TextOps.fixMojibake]] over SQL expr `x`,
    * generated from the same table so the chains cannot drift. */
  private def fixMojibakeSql(x: String): String =
    graft.ops.TextOps.mojibakeTable.foldLeft(x) { case (acc, (k, v)) =>
      "replace(" + acc + ", " + sqlStrEsc(k) + ", " + sqlStrEsc(v) + ")"
    }

  /** DuckDB replay of [[graft.ops.WebText.stripHtml]] applied to the SQL
    * expression `x` — the exact same regex chain and entity fold order,
    * generated from the same tables so the two can never drift. */
  private def stripHtmlSql(x: String): String = {
    val noComment = "regexp_replace(" + x + ", '(?s)<!--.*?-->', ' ', 'g')"
    val noScript = "regexp_replace(" + noComment +
      ", '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g')"
    val noStyle = "regexp_replace(" + noScript +
      ", '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g')"
    val blocks = "regexp_replace(" + noStyle + ", '" +
      graft.ops.WebText.blockTagPattern + "', chr(10), 'g')"
    val noTags = "regexp_replace(" + blocks + ", '<[^>]*>', ' ', 'g')"
    val decoded = graft.ops.WebText.entities.foldLeft(noTags) {
      case (acc, (k, v)) =>
        "replace(" + acc + ", " + sqlStr(k) + ", " + sqlStr(v) + ")"
    }
    "trim(regexp_replace(regexp_replace(regexp_replace(" + decoded +
      ", '[ \\t\\x0B\\f\\r]+', ' ', 'g'), '[ ]*\\n[ ]*', chr(10), 'g'), " +
      "'\\n{3,}', chr(10) || chr(10), 'g'), ' ' || chr(10))"
  }

  /** DuckDB replay of [[plantedUrl]] (must match it byte-for-byte). */
  private val urlPlantSql: String =
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END || " +
      "CASE WHEN doc_id % 7 < 3 THEN 'sub' || CAST(doc_id % 7 AS VARCHAR) " +
      "|| '.' ELSE '' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN 'Example.CO.uk' " +
      "WHEN doc_id % 3 = 1 THEN 'Sample.COM' ELSE 'news.org' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN ':443' " +
      "WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END || " +
      "CASE WHEN doc_id % 6 = 5 THEN '' " +
      "ELSE '/Path/' || CAST(doc_id AS VARCHAR) END || " +
      "CASE WHEN doc_id % 6 = 0 THEN '?utm_source=tw&id=1&utm_campaign=x' " +
      "WHEN doc_id % 6 = 1 THEN '?gclid=abc' " +
      "WHEN doc_id % 6 = 2 THEN '?a=1&fbclid=zz&b=2' ELSE '' END || " +
      "'#frag')"

  /** DuckDB CTE chain replaying [[graft.ops.WebText.urlParts]] over the
    * planted URL; ends with `pf(doc_id, n_chars, url_norm, host, domain)`.
    * Shared by q84/q85. */
  private val urlPartsSqlPrefix: String =
    "WITH u0 AS (SELECT doc_id, n_chars, " + urlPlantSql +
      " AS u FROM documents),\n" +
      "p1 AS (SELECT *, regexp_replace(u, '#.*$', '', 'g') AS nf FROM u0),\n" +
      "p2 AS (SELECT *, " +
      "lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) " +
      "AS scheme,\n" +
      "  lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))" +
      " AS hostport FROM p1),\n" +
      "p3 AS (SELECT *, regexp_replace(hostport, ':[0-9]+$', '', 'g') " +
      "AS host,\n" +
      "  regexp_extract(hostport, ':([0-9]+)$', 1) AS port,\n" +
      "  regexp_replace(regexp_replace(regexp_replace(regexp_replace(nf,\n" +
      "    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g'),\n" +
      "    '&(?:utm_[a-zA-Z]+|fbclid|gclid)=[^&]*', '', 'g'),\n" +
      "    '\\?(?:utm_[a-zA-Z]+|fbclid|gclid)=[^&]*&', '?', 'g'),\n" +
      "    '\\?(?:utm_[a-zA-Z]+|fbclid|gclid)=[^&]*$', '', 'g') " +
      "AS rest FROM p2),\n" +
      "p4 AS (SELECT *, CASE WHEN rest = '' THEN '/' ELSE rest END " +
      "AS path,\n" +
      "  CASE WHEN port = '' OR (scheme = 'https' AND port = '443') " +
      "OR (scheme = 'http' AND port = '80')\n" +
      "       THEN '' ELSE ':' || port END AS keep_port,\n" +
      "  regexp_replace(host, '^www\\.', '', 'g') AS hnw FROM p3),\n" +
      "p5 AS (SELECT *, regexp_extract(hnw, " +
      "'([^.]+\\.(?:co|com|net|org|gov|ac|edu)\\.[a-z]{2})$', 1) AS d3,\n" +
      "  regexp_extract(hnw, '([^.]+\\.[^.]+)$', 1) AS d2 FROM p4),\n" +
      "pf AS (SELECT doc_id, n_chars,\n" +
      "  CASE WHEN scheme = '' THEN u " +
      "ELSE scheme || '://' || host || keep_port || path END AS url_norm,\n" +
      "  host,\n" +
      "  CASE WHEN d3 <> '' THEN d3 WHEN d2 <> '' THEN d2 ELSE hnw END " +
      "AS domain FROM p5)"

  /** DuckDB replay of the q83 planted HTML (must match the Spark plant
    * byte-for-byte). */
  private val htmlPlantSql: String =
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>' || " +
      "'<style type=\"text/css\">body { color: #fff; }</style>' || " +
      "CASE WHEN doc_id % 3 = 0 THEN " +
      "'<script>if (a < b && c > 0) { alert(\"x&y\"); }</script>' " +
      "ELSE '' END || " +
      "'</head><!-- hidden <b>note</b>' || chr(10) || " +
      "'spans lines --><body>' || " +
      "'<h1 class=\"t\">Title &amp; more</h1><p>' || " +
      "substr(COALESCE(text,''), 1, 120) || " +
      "'</p><p>M&amp;A &lt;tag&gt; &quot;q&quot; &#39;s&nbsp;" +
      "&mdash;&hellip; &amp;lt; &#38;co</p>' || " +
      "CASE WHEN doc_id % 4 = 1 THEN '<ul><li>one</li><li>two</li></ul>' " +
      "ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 2 THEN " +
      "'<p>See <a href=\"https://e.com/x\">this link</a> and " +
      "<a href=\"#\">that</a>.</p>' ELSE '' END || '</body></html>'"

  /** Shared DuckDB CTE chain replaying [[spanDocs]] + the SpanDedup winnow
    * (gram md5 → 60-bit conv → window minima → distinct) for q78/q79.
    */
  private val spanOracleCtes: String =
    """WITH d AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0
      |   THEN COALESCE(text,'') || ' shared boilerplate paragraph variant ' ||
      |        CAST(doc_id % 3 AS VARCHAR) ||
      |        ' repeated verbatim across documents for span dedup'
      |   ELSE COALESCE(text,'') END AS t
      | FROM documents WHERE doc_id < 250),
      |g AS (
      | SELECT doc_id,
      |  CASE WHEN length(t) < 16 THEN CAST([] AS BIGINT[])
      |   ELSE list_transform(range(1, length(t) - 14),
      |        i -> CAST('0x' || substr(md5(substr(t, i, 16)), 1, 15) AS BIGINT))
      |  END AS hs
      | FROM d),
      |f AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(hs) - 7, 1) + 1),
      |   j -> list_min(hs[j:j+7])))) AS fp
      | FROM g WHERE len(hs) > 0)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_required_nonempty" ->
      """SELECT source,
        | count(*) AS n_rows,
        | CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_text,
        | CAST(sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_lang
        |FROM documents GROUP BY source""".stripMargin,
    "q02_enum_member" ->
      """SELECT event_type,
        | CASE WHEN event_type IN ('click','error','purchase','signup','view')
        |      THEN 'valid' ELSE 'invalid' END AS status,
        | count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q03_format_regex" ->
      """SELECT lang,
        | CASE WHEN regexp_full_match(lang, '[a-z]{2}') THEN 'valid' ELSE 'invalid' END AS status,
        | count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q04_json_format" ->
      """SELECT CASE WHEN regexp_full_match(props, '\{"k": \d+\}') THEN 'valid' ELSE 'invalid' END AS status,
        | count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q05_length_crossfield" ->
      """SELECT source,
        | count(*) AS n_rows,
        | CAST(sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_crossfield_bad,
        | CAST(sum(CASE WHEN length(text) > 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long
        |FROM documents GROUP BY source""".stripMargin,
    "q06_range_check" ->
      """SELECT event_type,
        | count(*) AS n,
        | CAST(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive,
        | round(min(value), 4) AS min_value,
        | round(max(value), 4) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q07_verdict" ->
      """SELECT source, count(*) AS n_rows,
        | CAST(sum(CASE WHEN text IS NULL OR text = '' OR length(text) <> n_chars
        |          OR NOT regexp_full_match(lang, '[a-z]{2}') THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        | CASE WHEN sum(CASE WHEN text IS NULL OR text = '' OR length(text) <> n_chars
        |          OR NOT regexp_full_match(lang, '[a-z]{2}') THEN 1 ELSE 0 END) = 0
        |      THEN 'valid' ELSE 'invalid' END AS status
        |FROM documents GROUP BY source""".stripMargin,
    "q08_unique_key" ->
      """SELECT
        | (SELECT count(*) FROM (SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1) a) AS n_dup_event_ids,
        | (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1) b) AS n_dup_lineitem_keys""".stripMargin,
    "q09_referential" ->
      """SELECT
        | (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_orphan_orders,
        | (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphan_lineitems""".stripMargin,
    "q10_window_order" ->
      """SELECT CAST(sum(CASE WHEN prev_ts > ts THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order
        |FROM (SELECT ts, lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts FROM events) t""".stripMargin,
    "q11_contiguity" ->
      """SELECT count(*) AS n_noncontiguous FROM (
        | SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        | HAVING max(l_linenumber) <> count(*) OR min(l_linenumber) <> 1) t""".stripMargin,
    "q12_col_stats" ->
      """SELECT count(*) AS n_rows, CAST(count(text) AS BIGINT) AS n_text,
        | count(DISTINCT lang) AS n_lang,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        | round(avg(n_chars), 4) AS avg_chars
        |FROM documents""".stripMargin,
    "q13_drift_chisq" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS part_key,
        |   COALESCE(event_type, '__null__') AS cat, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        | p AS (SELECT part_key, CAST(sum(o) AS DOUBLE) AS r FROM c GROUP BY 1),
        | k AS (SELECT cat, CAST(sum(o) AS DOUBLE) AS cc FROM c GROUP BY 1),
        | g AS (SELECT CAST(sum(o) AS DOUBLE) AS gg FROM c)
        |SELECT p.part_key,
        | round(sum(power(COALESCE(c.o, 0) - p.r * k.cc / g.gg, 2) / (p.r * k.cc / g.gg)), 4) AS chi2,
        | CAST(max(p.r) AS BIGINT) AS n
        |FROM p CROSS JOIN k CROSS JOIN g
        | LEFT JOIN c ON c.part_key = p.part_key AND c.cat = k.cat
        |GROUP BY p.part_key""".stripMargin,
    "q40_drift_psi" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS part_key,
        |   COALESCE(event_type, '__null__') AS cat, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        | p AS (SELECT part_key, CAST(sum(o) AS DOUBLE) AS r FROM c GROUP BY 1),
        | k AS (SELECT cat, CAST(sum(o) AS DOUBLE) AS cc FROM c GROUP BY 1),
        | g AS (SELECT CAST(sum(o) AS DOUBLE) AS gg FROM c),
        | t AS (
        |  SELECT p.part_key,
        |   greatest(COALESCE(c.o, 0) / p.r, 1e-6) AS pp,
        |   greatest(k.cc / g.gg, 1e-6) AS qq,
        |   p.r
        |  FROM p CROSS JOIN k CROSS JOIN g
        |   LEFT JOIN c ON c.part_key = p.part_key AND c.cat = k.cat)
        |SELECT part_key,
        | round(sum((pp - qq) * ln(pp / qq)), 6) AS psi,
        | CAST(max(r) AS BIGINT) AS n
        |FROM t GROUP BY part_key""".stripMargin,
    "q14_topk" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY o_custkey
        |ORDER BY total DESC, o_custkey LIMIT 10""".stripMargin,
    "q15_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q16_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q17_multi_join" ->
      """SELECT r_name, count(*) AS n_lines,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS volume
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q18_dedup_exact_summary" ->
      """SELECT count(*) AS n_docs,
        | count(DISTINCT md5(COALESCE(text, ''))) AS n_unique_texts
        |FROM documents""".stripMargin,
    "q19_dedup_exact_groups" ->
      """SELECT md5(COALESCE(text, '')) AS content_hash, count(*) AS n,
        | min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "q20_token_count" ->
      """SELECT lang,
        | CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |     ELSE length(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        | count(*) AS n_docs
        |FROM documents GROUP BY lang""".stripMargin,
    "q21_lang_id" -> LangIdSql.sql,
    "q22_quality_score" -> QualitySql.sql,
    "q41_bpe_truncate" ->
      s"""SELECT lang,
         | CAST(sum(len(regexp_extract_all(COALESCE(text, ''), '${graft.ops.TextOps.bpeTokenRe}'))) AS BIGINT) AS total_bpe_tokens,
         | CAST(sum(length(array_to_string(regexp_extract_all(COALESCE(text, ''), '${graft.ops.TextOps.bpeTokenRe}')[1:50], ''))) AS BIGINT) AS trunc50_chars,
         | count(*) AS n_docs
         |FROM documents GROUP BY lang""".stripMargin,
    "q134_learned_bpe_budget" -> {
      // independent replay of the learned-merge rewrite: symbols are
      // chr(1)-WRAPPED runs (separator on BOTH sides — a trailing-only
      // separator lets 'e<sep>r<sep>' falsely match the suffix of symbol
      // 'the'); each merge (a,b) is one replace() of '<s>a<s><s>b<s>'
      // with '<s>ab<s>' — string replace scans left-to-right
      // non-overlapping, exactly the BPE rule
      def q(s: String) = "'" + s.replace("'", "''") + "'"
      // (?s): '.' must match newlines too — whitespace pre-tokens carry \n
      val chain = bpeOracleMerges.foldLeft(
        "regexp_replace(t, '(?s)(.)', chr(1) || '\\1' || chr(1), 'g')") {
        case (acc, (a, b)) =>
          s"replace($acc, chr(1) || ${q(a)} || chr(1) || chr(1) || ${q(b)} || chr(1), chr(1) || ${q(a + b)} || chr(1))"
      }
      s"""WITH enc AS (
         | SELECT lang, coalesce(list_aggregate(list_transform(
         |   regexp_extract_all(COALESCE(text, ''), '${graft.ops.TextOps.bpeTokenRe}'),
         |   t -> $chain), 'string_agg', ''), '') AS seq
         | FROM documents),
         |col AS (
         | SELECT lang, seq,
         |  CASE WHEN seq = '' THEN ''
         |   ELSE substr(replace(seq, chr(1) || chr(1), chr(1)), 2,
         |     length(replace(seq, chr(1) || chr(1), chr(1))) - 2) END AS body
         | FROM enc)
         |SELECT lang,
         | CAST(sum((length(seq) - length(replace(seq, chr(1), ''))) // 2)
         |   AS BIGINT) AS total_learned_tokens,
         | CAST(sum(length(array_to_string(string_split(body, chr(1))[1:16], '')))
         |   AS BIGINT) AS trunc16_chars,
         | count(*) AS n_docs
         |FROM col GROUP BY lang""".stripMargin
    },
    "q23_embedding_integrity" ->
      """SELECT count(*) AS n_vecs,
        | CAST(min(len(embedding)) AS BIGINT) AS min_dim,
        | CAST(max(len(embedding)) AS BIGINT) AS max_dim,
        | count(DISTINCT label) AS n_labels
        |FROM embeddings""".stripMargin,
    "q25_priority_merge" ->
      """WITH p AS (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0),
        | s AS (SELECT c_custkey, 'llm_' || c_name AS c_name, CAST(NULL AS DOUBLE) AS c_acctbal FROM customer)
        |SELECT COALESCE(p.c_custkey, s.c_custkey) AS c_custkey,
        | COALESCE(p.c_name, s.c_name) AS c_name,
        | round(COALESCE(p.c_acctbal, s.c_acctbal, -1.0), 2) AS acctbal
        |FROM p FULL OUTER JOIN s ON p.c_custkey = s.c_custkey""".stripMargin,
    "q26_rollup" ->
      """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
        | COALESCE(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP (c_mktsegment, o_orderpriority)""".stripMargin,
    "q27_iso_date_format" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%dT00:00:00Z') AS iso_day,
        | count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q29_ngram_jaccard" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        | FROM documents WHERE doc_id < 10),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                          i -> array_to_string(toks[i:i+2], ' ')))
        |  END AS sh
        | FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id""".stripMargin,
    "q115_containment" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        | FROM documents WHERE doc_id < 10),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                          i -> array_to_string(toks[i:i+2], ' ')))
        |  END AS sh
        | FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4) AS c_ab,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 4) AS c_ba
        |FROM s a JOIN s b ON a.doc_id < b.doc_id""".stripMargin,
    "q116_tool_args" ->
      """WITH e AS (
        | SELECT event_id,
        |  CASE WHEN event_type IN ('click','view') THEN 'search'
        |       ELSE 'fetch' END AS tool,
        |  event_id % 11 AS m
        | FROM events),
        |a AS (
        | SELECT event_id, tool,
        |  CASE WHEN tool = 'search' THEN
        |   CASE m WHEN 0 THEN '{"q":' WHEN 1 THEN '[1, 2]' WHEN 2 THEN '{}'
        |    WHEN 3 THEN '{"q":"a","zz":2,"extra":1}'
        |    WHEN 4 THEN '{"q":"a","mode":"turbo"}'
        |    WHEN 5 THEN '{"q":"a","limit":"many"}'
        |    WHEN 6 THEN '{"q":"a","limit":1000}'
        |    WHEN 7 THEN NULL
        |    ELSE '{"q":"a","limit":7,"mode":"fast"}' END
        |  ELSE
        |   CASE m WHEN 0 THEN '{"url":' WHEN 1 THEN '"str"'
        |    WHEN 2 THEN '{"url":"https://e.org/x"}'
        |    WHEN 3 THEN '{"url":"https://e.org/x","method":"GET","hdrs":{},"auth":1}'
        |    WHEN 4 THEN '{"url":"https://e.org/x","method":"PUT"}'
        |    WHEN 5 THEN '{"url":"u","method":"GET","timeout_ms":"soon"}'
        |    WHEN 6 THEN '{"url":"u","method":"GET","timeout_ms":0}'
        |    WHEN 7 THEN NULL
        |    ELSE '{"url":"u","method":"POST","timeout_ms":500}' END
        |  END AS args
        | FROM e),
        |k0 AS (SELECT event_id, tool, args, try_cast(args AS JSON) AS j FROM a),
        |k AS (
        | SELECT event_id, tool, args, j,
        |  CASE WHEN args IS NULL THEN []::VARCHAR[]
        |       WHEN j IS NULL THEN NULL
        |       WHEN json_type(j) = 'OBJECT' THEN json_keys(j)
        |       ELSE NULL END AS keys
        | FROM k0)
        |SELECT event_id, tool, 'MALFORMED_ARGS' AS rule_id, 'args' AS field,
        | 'Malformed tool args: ' || args AS message
        | FROM k WHERE args IS NOT NULL AND keys IS NULL
        |UNION ALL
        |SELECT event_id, tool, 'MISSING_ARG_q', 'q',
        | 'Missing required arg `q` for search'
        | FROM k WHERE tool = 'search' AND keys IS NOT NULL
        |  AND NOT list_contains(keys, 'q')
        |UNION ALL
        |SELECT event_id, tool, 'MISSING_ARG_method', 'method',
        | 'Missing required arg `method` for fetch'
        | FROM k WHERE tool = 'fetch' AND keys IS NOT NULL
        |  AND NOT list_contains(keys, 'method')
        |UNION ALL
        |SELECT event_id, tool, 'MISSING_ARG_url', 'url',
        | 'Missing required arg `url` for fetch'
        | FROM k WHERE tool = 'fetch' AND keys IS NOT NULL
        |  AND NOT list_contains(keys, 'url')
        |UNION ALL
        |SELECT event_id, tool, 'UNKNOWN_ARG', 'args',
        | 'Unknown args for search: ' || array_to_string(
        |   list_sort(list_filter(keys,
        |     x -> NOT list_contains(['limit','mode','q'], x))), ', ')
        | FROM k WHERE tool = 'search' AND keys IS NOT NULL
        |  AND len(list_filter(keys,
        |    x -> NOT list_contains(['limit','mode','q'], x))) > 0
        |UNION ALL
        |SELECT event_id, tool, 'UNKNOWN_ARG', 'args',
        | 'Unknown args for fetch: ' || array_to_string(
        |   list_sort(list_filter(keys,
        |     x -> NOT list_contains(['method','timeout_ms','url'], x))), ', ')
        | FROM k WHERE tool = 'fetch' AND keys IS NOT NULL
        |  AND len(list_filter(keys,
        |    x -> NOT list_contains(['method','timeout_ms','url'], x))) > 0
        |UNION ALL
        |SELECT event_id, tool, 'ENUM_ARG_mode', 'mode',
        | 'Invalid value in mode: '
        |  || coalesce(json_extract_string(j, '$.mode'), 'None')
        | FROM k WHERE tool = 'search' AND keys IS NOT NULL
        |  AND list_contains(keys, 'mode')
        |  AND (json_extract_string(j, '$.mode') IS NULL
        |       OR json_extract_string(j, '$.mode') NOT IN ('deep','fast'))
        |UNION ALL
        |SELECT event_id, tool, 'ENUM_ARG_method', 'method',
        | 'Invalid value in method: '
        |  || coalesce(json_extract_string(j, '$.method'), 'None')
        | FROM k WHERE tool = 'fetch' AND keys IS NOT NULL
        |  AND list_contains(keys, 'method')
        |  AND (json_extract_string(j, '$.method') IS NULL
        |       OR json_extract_string(j, '$.method') NOT IN ('GET','POST'))
        |UNION ALL
        |SELECT event_id, tool, 'INT_ARG_limit', 'limit',
        | 'Out-of-range or non-integer limit: '
        |  || coalesce(json_extract_string(j, '$.limit'), 'None')
        | FROM k WHERE tool = 'search' AND keys IS NOT NULL
        |  AND list_contains(keys, 'limit')
        |  AND (try_cast(json_extract_string(j, '$.limit') AS BIGINT) IS NULL
        |       OR try_cast(json_extract_string(j, '$.limit') AS BIGINT)
        |          NOT BETWEEN 0 AND 100)
        |UNION ALL
        |SELECT event_id, tool, 'INT_ARG_timeout_ms', 'timeout_ms',
        | 'Out-of-range or non-integer timeout_ms: '
        |  || coalesce(json_extract_string(j, '$.timeout_ms'), 'None')
        | FROM k WHERE tool = 'fetch' AND keys IS NOT NULL
        |  AND list_contains(keys, 'timeout_ms')
        |  AND (try_cast(json_extract_string(j, '$.timeout_ms') AS BIGINT)
        |       IS NULL
        |       OR try_cast(json_extract_string(j, '$.timeout_ms') AS BIGINT)
        |          NOT BETWEEN 1 AND 60000)""".stripMargin,
    "q117_nb_quality" ->
      """WITH d AS (
        | SELECT doc_id, text,
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |       THEN 1 ELSE 0 END AS lab
        | FROM documents),
        |tokd AS (
        | SELECT doc_id, lab,
        |  list_filter(regexp_split_to_array(lower(coalesce(text, '')),
        |    '[^a-z]+'), w -> len(w) >= 3) AS ws
        | FROM d),
        |tf AS (SELECT doc_id, lab, unnest(ws) AS t FROM tokd),
        |cc AS (
        | SELECT t,
        |  sum(CASE WHEN lab = 1 THEN 1 ELSE 0 END)::BIGINT AS cp,
        |  sum(CASE WHEN lab = 0 THEN 1 ELSE 0 END)::BIGINT AS cn
        | FROM tf GROUP BY t),
        |tot AS (SELECT sum(cp)::BIGINT AS tp, sum(cn)::BIGINT AS tn,
        |  count(*)::BIGINT AS v FROM cc),
        |wt AS (
        | SELECT t AS token,
        |  CAST(floor((ln(CAST(cp AS DOUBLE) + 1.0)
        |    - ln(CAST(tp + v AS DOUBLE))
        |    - ln(CAST(cn AS DOUBLE) + 1.0)
        |    + ln(CAST(tn + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS w_ppm
        | FROM cc, tot WHERE cp + cn >= 3),
        |dtf AS (SELECT doc_id, t, count(*)::BIGINT AS cnt
        | FROM tf GROUP BY doc_id, t),
        |s AS (SELECT dtf.doc_id, sum(cnt * w_ppm)::BIGINT AS sc
        | FROM dtf JOIN wt ON dtf.t = wt.token GROUP BY dtf.doc_id),
        |pri AS (
        | SELECT CAST(floor((
        |   ln(CAST(sum(CASE WHEN lab = 1 THEN 1 ELSE 0 END) AS DOUBLE))
        |   - ln(CAST(sum(CASE WHEN lab = 0 THEN 1 ELSE 0 END) AS DOUBLE)))
        |   * 1000000.0) AS BIGINT) AS prior
        | FROM d)
        |SELECT d.doc_id, coalesce(s.sc, 0) + pri.prior AS score_ppm
        |FROM d LEFT JOIN s ON d.doc_id = s.doc_id, pri""".stripMargin,
    "q118_semdedup" ->
      """WITH base AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cp AS (
        | SELECT vec_id + 10000000 AS vec_id, list_transform(v, x -> x * 1.01) AS v
        | FROM base WHERE vec_id % 25 = 0),
        |allv AS (SELECT * FROM base UNION ALL SELECT * FROM cp),
        |c AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 4),
        |asn AS (
        | SELECT vec_id, cid FROM (
        |  SELECT a.vec_id, c.cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS rn
        |  FROM allv a CROSS JOIN c) WHERE rn = 1)
        |SELECT CAST(x.cid AS INT) AS cid, x.vec_id AS id_a, y.vec_id AS id_b,
        | round(list_cosine_similarity(xa.v, yb.v), 4) AS cos
        |FROM asn x
        |JOIN asn y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |JOIN allv xa ON xa.vec_id = x.vec_id
        |JOIN allv yb ON yb.vec_id = y.vec_id
        |WHERE list_cosine_similarity(xa.v, yb.v) >= 0.95""".stripMargin,
    "q119_hard_negatives" ->
      """WITH base AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 4),
        |asn AS (
        | SELECT vec_id, cid FROM (
        |  SELECT b.vec_id, c.cid,
        |   row_number() OVER (PARTITION BY b.vec_id
        |     ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid ASC) AS rn
        |  FROM base b CROSS JOIN c) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 3),
        |probe AS (
        | SELECT query_id, cid FROM (
        |  SELECT q.query_id, c.cid,
        |   row_number() OVER (PARTITION BY q.query_id
        |     ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC) AS rn
        |  FROM q CROSS JOIN c) WHERE rn <= 2),
        |cand AS (
        | SELECT p.query_id, a.vec_id,
        |  list_cosine_similarity(b.v, q.qv) AS c
        | FROM probe p
        | JOIN asn a ON a.cid = p.cid
        | JOIN base b ON b.vec_id = a.vec_id
        | JOIN q ON q.query_id = p.query_id
        | WHERE a.vec_id <> p.query_id)
        |SELECT query_id, vec_id, round(c, 4) AS cos, rank FROM (
        | SELECT query_id, vec_id, c,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, vec_id ASC) AS rank
        | FROM cand WHERE c >= 0.2 AND c < 0.8)
        |WHERE rank <= 5""".stripMargin,
    "q120_contam_report" ->
      """WITH d AS (
        | SELECT doc_id,
        |  regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks) - 6),
        |                           i -> array_to_string(toks[i:i+7], ' '))
        |  END AS gs
        | FROM d),
        |b AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 50 = 0),
        |c AS (
        | SELECT doc_id, len(gs)::BIGINT AS n_grams, i - 1 AS pos, gs[i] AS g
        | FROM g, unnest(range(1, len(gs) + 1)) AS t(i)),
        |h AS (SELECT c.doc_id, c.n_grams, c.pos FROM c JOIN b ON c.g = b.g),
        |r AS (
        | SELECT doc_id, n_grams, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        | FROM h),
        |runs AS (
        | SELECT doc_id, n_grams, grp, count(*)::BIGINT AS rl
        | FROM r GROUP BY doc_id, n_grams, grp)
        |SELECT doc_id, n_grams, sum(rl)::BIGINT AS n_hit_pos,
        | CAST(floor(sum(rl) * 1000000 / n_grams) AS BIGINT) AS frac_ppm,
        | max(rl)::BIGINT AS longest_run
        |FROM runs GROUP BY doc_id, n_grams""".stripMargin,
    "q121_skew_audit" ->
      """WITH c AS (
        | SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
        |s AS (SELECT cnt, count(*)::BIGINT AS nk FROM c GROUP BY 1),
        |cum AS (SELECT cnt, nk, sum(nk) OVER (ORDER BY cnt) AS cumk FROM s),
        |tot AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |  max(cnt)::BIGINT AS max_key_rows FROM c)
        |SELECT t.n_keys, t.n_rows, t.max_key_rows,
        | CAST(floor(t.max_key_rows * 1000000 / t.n_rows) AS BIGINT)
        |   AS top1_share_ppm,
        | min(CASE WHEN cum.cumk * 2 >= t.n_keys THEN cum.cnt END)::BIGINT
        |   AS p50_key_rows,
        | min(CASE WHEN cum.cumk * 100 >= t.n_keys * 99 THEN cum.cnt END)::BIGINT
        |   AS p99_key_rows,
        | CAST(floor((t.max_key_rows + 99) / 100) AS BIGINT) AS salt_suggest
        |FROM cum, tot t
        |GROUP BY t.n_keys, t.n_rows, t.max_key_rows""".stripMargin,
    "q122_shuffle_order" ->
      """WITH k AS (
        | SELECT doc_id,
        |  CAST('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |       AS BIGINT) AS h
        | FROM documents),
        |s AS (SELECT doc_id, h, CAST(h % 16 AS INT) AS shard FROM k),
        |p AS (
        | SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
        |       AS BIGINT) AS shard_pos
        | FROM s),
        |o AS (
        | SELECT shard,
        |  CAST(coalesce(sum(sz) OVER (ORDER BY shard
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off
        | FROM (SELECT shard, count(*) AS sz FROM s GROUP BY shard))
        |SELECT p.doc_id, p.shard, p.shard_pos, p.shard_pos + o.off AS global_idx
        |FROM p JOIN o ON p.shard = o.shard""".stripMargin,
    "q123_temporal_ref" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        | 'SHIP_BEFORE_ORDER' AS rule_id, 'l_shipdate' AS field,
        | 'l_shipdate ' || CAST(l.l_shipdate AS VARCHAR)
        |  || ' precedes parent o_orderdate ' || CAST(o.o_orderdate AS VARCHAR)
        |  AS message
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_orderkey < 3000 AND l.l_shipdate < o.o_orderdate""".stripMargin,
    "q132_fd_audit" ->
      """WITH g AS (
        | SELECT o_custkey, o_orderpriority, count(*) AS n
        | FROM orders WHERE o_custkey < 300
        | GROUP BY o_custkey, o_orderpriority)
        |SELECT o_custkey, count(*)::BIGINT AS n_distinct_dep,
        | min(CAST(o_orderpriority AS VARCHAR)) AS dep_min,
        | max(CAST(o_orderpriority AS VARCHAR)) AS dep_max
        |FROM g GROUP BY o_custkey HAVING count(*) > 1""".stripMargin,
    "q131_benford" ->
      """WITH v AS (
        | SELECT CAST(abs(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
        |   AS BIGINT) AS c
        | FROM lineitem),
        |d AS (
        | SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS fd
        | FROM v WHERE c > 0),
        |g AS (
        | SELECT CAST(count(*) AS DOUBLE) AS n,
        |  sum(CASE WHEN fd = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
        |  sum(CASE WHEN fd = 2 THEN 1 ELSE 0 END)::BIGINT AS d2,
        |  sum(CASE WHEN fd = 3 THEN 1 ELSE 0 END)::BIGINT AS d3,
        |  sum(CASE WHEN fd = 4 THEN 1 ELSE 0 END)::BIGINT AS d4,
        |  sum(CASE WHEN fd = 5 THEN 1 ELSE 0 END)::BIGINT AS d5,
        |  sum(CASE WHEN fd = 6 THEN 1 ELSE 0 END)::BIGINT AS d6,
        |  sum(CASE WHEN fd = 7 THEN 1 ELSE 0 END)::BIGINT AS d7,
        |  sum(CASE WHEN fd = 8 THEN 1 ELSE 0 END)::BIGINT AS d8,
        |  sum(CASE WHEN fd = 9 THEN 1 ELSE 0 END)::BIGINT AS d9
        | FROM d)
        |SELECT CAST(n AS BIGINT) AS n, d1, d2, d3, d4, d5, d6, d7, d8, d9,
        | round(
        |  (CAST(d1 AS DOUBLE) - n * (ln(1.0 + 1.0/1.0) / ln(10.0))) * (CAST(d1 AS DOUBLE) - n * (ln(1.0 + 1.0/1.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/1.0) / ln(10.0)))
        |  + (CAST(d2 AS DOUBLE) - n * (ln(1.0 + 1.0/2.0) / ln(10.0))) * (CAST(d2 AS DOUBLE) - n * (ln(1.0 + 1.0/2.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/2.0) / ln(10.0)))
        |  + (CAST(d3 AS DOUBLE) - n * (ln(1.0 + 1.0/3.0) / ln(10.0))) * (CAST(d3 AS DOUBLE) - n * (ln(1.0 + 1.0/3.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/3.0) / ln(10.0)))
        |  + (CAST(d4 AS DOUBLE) - n * (ln(1.0 + 1.0/4.0) / ln(10.0))) * (CAST(d4 AS DOUBLE) - n * (ln(1.0 + 1.0/4.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/4.0) / ln(10.0)))
        |  + (CAST(d5 AS DOUBLE) - n * (ln(1.0 + 1.0/5.0) / ln(10.0))) * (CAST(d5 AS DOUBLE) - n * (ln(1.0 + 1.0/5.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/5.0) / ln(10.0)))
        |  + (CAST(d6 AS DOUBLE) - n * (ln(1.0 + 1.0/6.0) / ln(10.0))) * (CAST(d6 AS DOUBLE) - n * (ln(1.0 + 1.0/6.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/6.0) / ln(10.0)))
        |  + (CAST(d7 AS DOUBLE) - n * (ln(1.0 + 1.0/7.0) / ln(10.0))) * (CAST(d7 AS DOUBLE) - n * (ln(1.0 + 1.0/7.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/7.0) / ln(10.0)))
        |  + (CAST(d8 AS DOUBLE) - n * (ln(1.0 + 1.0/8.0) / ln(10.0))) * (CAST(d8 AS DOUBLE) - n * (ln(1.0 + 1.0/8.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/8.0) / ln(10.0)))
        |  + (CAST(d9 AS DOUBLE) - n * (ln(1.0 + 1.0/9.0) / ln(10.0))) * (CAST(d9 AS DOUBLE) - n * (ln(1.0 + 1.0/9.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/9.0) / ln(10.0))), 4)
        |  AS chi2,
        | ((CAST(d1 AS DOUBLE) - n * (ln(1.0 + 1.0/1.0) / ln(10.0))) * (CAST(d1 AS DOUBLE) - n * (ln(1.0 + 1.0/1.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/1.0) / ln(10.0)))
        |  + (CAST(d2 AS DOUBLE) - n * (ln(1.0 + 1.0/2.0) / ln(10.0))) * (CAST(d2 AS DOUBLE) - n * (ln(1.0 + 1.0/2.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/2.0) / ln(10.0)))
        |  + (CAST(d3 AS DOUBLE) - n * (ln(1.0 + 1.0/3.0) / ln(10.0))) * (CAST(d3 AS DOUBLE) - n * (ln(1.0 + 1.0/3.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/3.0) / ln(10.0)))
        |  + (CAST(d4 AS DOUBLE) - n * (ln(1.0 + 1.0/4.0) / ln(10.0))) * (CAST(d4 AS DOUBLE) - n * (ln(1.0 + 1.0/4.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/4.0) / ln(10.0)))
        |  + (CAST(d5 AS DOUBLE) - n * (ln(1.0 + 1.0/5.0) / ln(10.0))) * (CAST(d5 AS DOUBLE) - n * (ln(1.0 + 1.0/5.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/5.0) / ln(10.0)))
        |  + (CAST(d6 AS DOUBLE) - n * (ln(1.0 + 1.0/6.0) / ln(10.0))) * (CAST(d6 AS DOUBLE) - n * (ln(1.0 + 1.0/6.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/6.0) / ln(10.0)))
        |  + (CAST(d7 AS DOUBLE) - n * (ln(1.0 + 1.0/7.0) / ln(10.0))) * (CAST(d7 AS DOUBLE) - n * (ln(1.0 + 1.0/7.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/7.0) / ln(10.0)))
        |  + (CAST(d8 AS DOUBLE) - n * (ln(1.0 + 1.0/8.0) / ln(10.0))) * (CAST(d8 AS DOUBLE) - n * (ln(1.0 + 1.0/8.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/8.0) / ln(10.0)))
        |  + (CAST(d9 AS DOUBLE) - n * (ln(1.0 + 1.0/9.0) / ln(10.0))) * (CAST(d9 AS DOUBLE) - n * (ln(1.0 + 1.0/9.0) / ln(10.0))) / (n * (ln(1.0 + 1.0/9.0) / ln(10.0)))) <= 50.0
        |  AS benford_ok
        |FROM g""".stripMargin,
    "q130_cardinality" ->
      """WITH c AS (
        | SELECT l_orderkey, count(*)::BIGINT AS n FROM lineitem GROUP BY 1)
        |SELECT o.o_orderkey AS l_orderkey,
        | coalesce(c.n, 0) AS n_children,
        | 'LINEITEM_COUNT' AS rule_id,
        | 'Expected between 1 and 7 children, found ' ||
        |   CAST(coalesce(c.n, 0) AS VARCHAR) AS message
        |FROM orders o LEFT JOIN c ON c.l_orderkey = o.o_orderkey
        |WHERE coalesce(c.n, 0) < 1 OR coalesce(c.n, 0) > 7""".stripMargin,
    "q129_centroid_cosine" ->
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        | SELECT e.vec_id, d.source, e.v
        | FROM e JOIN documents d ON d.doc_id = e.vec_id),
        |x AS (
        | SELECT source, i AS pos, v[i] AS x
        | FROM s, unnest(range(1, len(v) + 1)) AS t(i)),
        |c AS (
        | SELECT source, pos,
        |  CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS m
        | FROM x GROUP BY source, pos),
        |cents AS (
        | SELECT source, list(m ORDER BY pos) AS cv FROM c GROUP BY source)
        |SELECT s.vec_id, s.source,
        | round(list_cosine_similarity(s.v, cents.cv), 4) AS cos_centroid
        |FROM s JOIN cents USING (source)""".stripMargin,
    "q128_gopher_gate" ->
      """WITH d AS (
        | SELECT doc_id,
        |  coalesce(text, '')
        |   || CASE WHEN doc_id % 3 = 0 THEN ' and that have with' ELSE '' END
        |   || CASE WHEN doc_id % 7 = 0 THEN ' ### ... ### ... ###' ELSE '' END
        |   AS t
        | FROM documents),
        |w AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN trim(t) = '' THEN 0
        |   ELSE len(regexp_split_to_array(trim(t), '\s+')) END AS BIGINT) AS nw,
        |  CAST(len(array_to_string(
        |    regexp_split_to_array(trim(t), '\s+'), '')) AS BIGINT) AS nchars,
        |  CAST(len(list_filter(regexp_split_to_array(trim(t), '\s+'),
        |    x -> regexp_matches(x, '\p{L}'))) AS BIGINT) AS nalphaw,
        |  CAST(len(regexp_extract_all(t, '#|\.\.\.')) AS BIGINT) AS nsym,
        |  CAST(len(list_intersect(
        |    regexp_split_to_array(lower(t), '[^a-z]+'),
        |    ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |    AS nstop
        | FROM d)
        |SELECT doc_id, nw AS n_words,
        | (nw >= 10 AND nw <= 100000) AS ok_words,
        | (nchars >= greatest(nw, 1) * 3 AND nchars <= greatest(nw, 1) * 10)
        |   AS ok_wordlen,
        | (nsym * 10 <= greatest(nw, 1)) AS ok_symbols,
        | (nalphaw * 5 >= nw * 4) AS ok_alpha,
        | (nstop >= 2) AS ok_stop,
        | ((nw >= 10 AND nw <= 100000)
        |  AND (nchars >= greatest(nw, 1) * 3 AND nchars <= greatest(nw, 1) * 10)
        |  AND (nsym * 10 <= greatest(nw, 1))
        |  AND (nalphaw * 5 >= nw * 4)
        |  AND (nstop >= 2)) AS gopher_ok
        |FROM w""".stripMargin,
    "q127_c4_clean" ->
      """WITH d AS (
        | SELECT doc_id,
        |  regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+') AS toks
        | FROM documents),
        |L AS (
        | SELECT doc_id,
        |  list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
        |   i -> array_to_string(toks[i*8+1 : i*8+8], ' ') ||
        |    CASE CAST((doc_id + i) % 5 AS INT)
        |     WHEN 0 THEN '.' WHEN 1 THEN '?' WHEN 2 THEN ''
        |     WHEN 3 THEN ' javascript.' ELSE ' { x }.' END) AS lines
        | FROM d),
        |P AS (
        | SELECT doc_id,
        |  array_to_string(lines, chr(10)) ||
        |   CASE WHEN doc_id % 97 = 0
        |    THEN chr(10) || 'this page contains lorem ipsum filler text here.'
        |    ELSE '' END AS page
        | FROM L),
        |K AS (
        | SELECT doc_id, page, string_split(page, chr(10)) AS all_lines,
        |  list_filter(string_split(page, chr(10)), l ->
        |   regexp_matches(trim(l), '[.!?"]$')
        |   AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |   AND NOT contains(lower(trim(l)), 'javascript')
        |   AND NOT contains(trim(l), '{')) AS kept
        | FROM P)
        |SELECT doc_id, len(all_lines)::BIGINT AS n_lines,
        | len(kept)::BIGINT AS n_kept,
        | (len(kept) >= 3 AND NOT contains(lower(page), 'lorem ipsum'))
        |   AS page_ok,
        | coalesce(array_to_string(kept, chr(10)), '') AS cleaned
        |FROM K""".stripMargin,
    "q126_wilson_quality" ->
      """WITH f AS (
        | SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS len,
        |  CAST(CASE WHEN trim(t) = '' THEN 0
        |       ELSE length(regexp_split_to_array(trim(t), '\s+')) END AS BIGINT) AS ntok,
        |  CAST(length(list_distinct(regexp_split_to_array(trim(t), '\s+'))) AS BIGINT) AS ndtok,
        |  CAST(length(regexp_replace(t, '[^\p{L}]', '', 'g')) AS BIGINT) AS nalpha
        | FROM (SELECT doc_id, COALESCE(text, '') AS t FROM documents) d),
        |fr AS (
        | SELECT doc_id, len, ntok, ndtok, nalpha,
        |  greatest(len, 1) AS lp, greatest(ntok, 1) AS np
        | FROM f),
        |q AS (
        | SELECT doc_id,
        |  (((CASE WHEN len BETWEEN 20 AND 10000 THEN 10 WHEN len > 0 THEN 5 ELSE 0 END) * 3
        |    + (CASE WHEN len >= np * 2 AND len <= np * 12 THEN 10 ELSE 4 END) * 2) * lp * np
        |   + nalpha * np * 30
        |   + least(ndtok * 2, np) * lp * 20) AS numer,
        |  lp * np * 100 AS denom
        | FROM fr),
        |q2 AS (
        | SELECT doc_id, (numer * 20000 + denom) // (denom * 2) AS q4 FROM q),
        |p AS (
        | SELECT d.source, CASE WHEN q2.q4 >= 8000 THEN 1 ELSE 0 END AS pass
        | FROM documents d JOIN q2 ON d.doc_id = q2.doc_id),
        |g AS (
        | SELECT source, count(*)::BIGINT AS n_rows, sum(pass)::BIGINT AS n_pass
        | FROM p GROUP BY 1),
        |w AS (
        | SELECT source, n_rows, n_pass,
        |  CAST(n_pass AS DOUBLE) / CAST(n_rows AS DOUBLE) AS pr,
        |  CAST(n_rows AS DOUBLE) AS n
        | FROM g)
        |SELECT source, n_rows, n_pass,
        | greatest(least(CAST(floor(
        |  (pr + (1.96 * 1.96) / (n * 2.0)
        |   - 1.96 * sqrt(pr * (1.0 - pr) / n + (1.96 * 1.96) / (n * n * 4.0)))
        |  / (1.0 + (1.96 * 1.96) / n) * 1000000.0) AS BIGINT), 1000000), 0)
        |  AS wilson_low_ppm
        |FROM w""".stripMargin,
    "q125_readability" ->
      """WITH d AS (
        | SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |m AS (
        | SELECT doc_id,
        |  CASE WHEN trim(t) = '' THEN 0
        |       ELSE len(regexp_split_to_array(trim(t), '\s+')) END AS words,
        |  greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS sents,
        |  len(regexp_extract_all(lower(t), '[aeiouy]+')) AS sylls
        | FROM d)
        |SELECT doc_id,
        | CASE WHEN words = 0 THEN NULL
        |  ELSE CAST(floor((206.835
        |    - 1.015 * (CAST(greatest(words, 1) AS DOUBLE) / CAST(sents AS DOUBLE))
        |    - 84.6 * (CAST(sylls AS DOUBLE) / CAST(greatest(words, 1) AS DOUBLE)))
        |    * 1000.0) AS BIGINT) END AS flesch_milli
        |FROM m""".stripMargin,
    "q124_script_signals" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents)
        |SELECT doc_id, len(t)::BIGINT AS n_chars,
        | CASE WHEN len(t) = 0 THEN 0 ELSE CAST(floor(
        |  len(regexp_extract_all(t, '[A-Za-z]')) * 1000000 / len(t)) AS BIGINT)
        |  END AS latin_ppm,
        | CASE WHEN len(t) = 0 THEN 0 ELSE CAST(floor(
        |  len(regexp_extract_all(t, '[0-9]')) * 1000000 / len(t)) AS BIGINT)
        |  END AS digit_ppm,
        | CASE WHEN len(t) = 0 THEN 0 ELSE CAST(floor(
        |  len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]'))
        |   * 1000000 / len(t)) AS BIGINT) END AS cjk_ppm,
        | CASE WHEN len(t) = 0 THEN 0 ELSE CAST(floor(
        |  len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]'))
        |   * 1000000 / len(t)) AS BIGINT) END AS cyrillic_ppm,
        | CASE WHEN len(t) = 0 THEN 0 ELSE CAST(floor(
        |  len(regexp_extract_all(t, '[ \t\n\r]')) * 1000000 / len(t))
        |  AS BIGINT) END AS space_ppm
        |FROM d""".stripMargin,
    "q28_sessionize" ->
      """WITH f AS (
        | SELECT user_id, ts, event_id,
        |  CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM f),
        |per AS (SELECT user_id, session_id, count(*) AS n_events
        |        FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        | max(n_events) AS max_session_events,
        | CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM per GROUP BY user_id""".stripMargin,
    "q30_url_list" ->
      """WITH d AS (
        | SELECT doc_id,
        |  ['https://example.org/' || lang,
        |   CASE WHEN doc_id % 7 = 0 THEN 'htp:/bad/' || CAST(doc_id AS VARCHAR)
        |        ELSE 'http://ok.example/' || CAST(doc_id AS VARCHAR) END,
        |   CASE WHEN doc_id % 11 = 0 THEN NULL
        |        ELSE 'https://files.example/' || source END] AS urls
        | FROM documents),
        |b AS (
        | SELECT doc_id,
        |  list_filter(urls, x -> x IS NULL
        |    OR NOT regexp_matches(x, '(?i)^https?://[^/?#]')) AS bad
        | FROM d)
        |SELECT doc_id,
        | CAST(len(bad) AS VARCHAR) || ' invalid URLs in urls: [' ||
        | array_to_string(list_transform(bad,
        |   x -> CASE WHEN x IS NULL THEN 'None'
        |             ELSE chr(39) || x || chr(39) END), ', ') || ']' AS message
        |FROM b WHERE len(bad) > 0""".stripMargin,
    "q31_author_shape" ->
      """WITH rec AS (
        | SELECT c_custkey,
        |  [{'name': CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END,
        |    'orcidId': CASE WHEN c_custkey % 13 = 0
        |               THEN 'orcid-' || CAST(c_custkey AS VARCHAR)
        |               ELSE 'https://orcid.org/' || CAST(c_custkey AS VARCHAR) END},
        |   {'name': CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE 'Co Author' END,
        |    'orcidId': CAST(NULL AS VARCHAR)}] AS author
        | FROM customer),
        |badorc AS (
        | SELECT c_custkey,
        |  list_filter(author, a -> a.orcidId IS NOT NULL AND a.orcidId <> ''
        |    AND NOT regexp_matches(a.orcidId, '(?i)^https?://[^/?#]')) AS bad
        | FROM rec)
        |SELECT c_custkey, 'AUTHOR_NAME_author' AS rule_id,
        | 'Missing `name` in author object' AS message
        |FROM rec
        |WHERE len(list_filter(author, a -> a.name IS NULL OR a.name = '')) > 0
        |UNION ALL
        |SELECT c_custkey, 'AUTHOR_ORCID_author' AS rule_id,
        | 'Invalid ORCID ID: ' || bad[1].orcidId AS message
        |FROM badorc WHERE len(bad) > 0""".stripMargin,
    "q32_version_list" ->
      """WITH rec AS (
        | SELECT p_partkey,
        |  [{'softwareVersion': CASE WHEN p_partkey % 5 = 0
        |     THEN 'v' || CAST(p_size AS VARCHAR)
        |     ELSE CAST(p_size AS VARCHAR) || '.0.1' END},
        |   {'softwareVersion': CASE WHEN p_partkey % 9 = 0 THEN NULL
        |     ELSE '2.10.3' END}] AS images
        | FROM part),
        |b AS (
        | SELECT p_partkey,
        |  list_filter(images, e -> e.softwareVersion IS NOT NULL
        |    AND NOT regexp_full_match(e.softwareVersion, '\d+\.\d+\.\d+')) AS bad
        | FROM rec)
        |SELECT p_partkey,
        | 'Invalid softwareVersion: ' || bad[1].softwareVersion AS message
        |FROM b WHERE len(bad) > 0""".stripMargin,
    "q33_zod_projection" ->
      """SELECT c_custkey, '{' || array_to_string(list_filter([
        |  '"schema:name":"' || c_name || '"',
        |  CASE WHEN c_custkey % 4 <> 0
        |   THEN '"schema:description":"segment ' || c_mktsegment || '"' END,
        |  '"schema:dateCreated":"' ||
        |   strftime(DATE '2020-01-01' + CAST(c_custkey % 1000 AS INTEGER),
        |            '%Y-%m-%dT00:00:00Z') || '"',
        |  CASE WHEN c_custkey % 3 = 0
        |   THEN '"schema:license":"https://spdx.org/licenses/MIT"' END,
        |  '"schema:author":[{"schema:name":"' || c_name || '"' ||
        |   CASE WHEN c_custkey % 2 = 0
        |    THEN ',"md4i:orcidId":"https://orcid.org/' ||
        |         CAST(c_custkey AS VARCHAR) || '"'
        |    ELSE '' END || '}]'
        | ], x -> x IS NOT NULL), ',') || '}' AS zod_json
        |FROM customer""".stripMargin,
    "q35_merge_stats" ->
      """WITH p AS (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0),
        | s AS (SELECT c_custkey, 'llm_' || c_name AS c_name, CAST(NULL AS DOUBLE) AS c_acctbal FROM customer),
        | j AS (SELECT p.c_name AS pn, p.c_acctbal AS pa, s.c_name AS sn, s.c_acctbal AS sa
        |       FROM p FULL OUTER JOIN s ON p.c_custkey = s.c_custkey)
        |SELECT 'c_name' AS field,
        | CAST(sum(CASE WHEN pn IS NULL AND sn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled_from_secondary
        |FROM j
        |UNION ALL
        |SELECT 'c_acctbal' AS field,
        | CAST(sum(CASE WHEN pa IS NULL AND sa IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled_from_secondary
        |FROM j""".stripMargin,
    "q39_cosine_neardup" ->
      """WITH base AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cp AS (
        | SELECT vec_id + 10000000 AS vec_id, list_transform(v, x -> x * 1.01) AS v
        | FROM base WHERE vec_id % 25 = 0),
        |allv AS (SELECT * FROM base UNION ALL SELECT * FROM cp)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.95""".stripMargin,
    "q38_minhash_exact" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        | FROM documents WHERE doc_id < 1000),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                          i -> array_to_string(toks[i:i+2], ' ')))
        |  END AS sh
        | FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      >= 0.7 * len(list_distinct(list_concat(a.sh, b.sh)))""".stripMargin,
    "q37_invalid_fields" ->
      """WITH v AS (
        | SELECT doc_id, 'text' AS field, 'Missing required field: text' AS message
        | FROM documents WHERE text IS NULL OR text = ''
        | UNION ALL
        | SELECT doc_id, 'lang', 'Invalid lang format in lang: ' || COALESCE(lang, 'None')
        | FROM documents
        | WHERE lang IS NOT NULL AND NOT regexp_full_match(lang, '[a-z]{2}')
        | UNION ALL
        | SELECT doc_id, 'text', 'Value exceeds max_length=400 in text: length ' ||
        |  CAST(length(text) AS VARCHAR)
        | FROM documents WHERE text IS NOT NULL AND length(text) > 400),
        |f AS (SELECT doc_id, field, min(message) AS reason FROM v GROUP BY 1, 2)
        |SELECT doc_id,
        | '{' || string_agg('"' || field || '":"' || reason || '"', ','
        |        ORDER BY field) || '}' AS invalid_json
        |FROM f GROUP BY doc_id""".stripMargin,
    "q36_window_segmented" ->
      """WITH e AS (
        | SELECT CAST(user_id AS VARCHAR) AS conv_id,
        |  CAST(event_id AS INT) AS turn_idx,
        |  make_timestamp(CAST(floor(value * 1000) AS BIGINT) * 1000000) AS ts,
        |  props AS text
        | FROM events),
        |w AS (
        | SELECT conv_id, turn_idx, ts, text,
        |  lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts
        | FROM e)
        |SELECT conv_id, turn_idx, 'TS_ORDER_ts' AS rule_id,
        | 'Non-monotonic ts in conv ' || conv_id || ' at turn ' ||
        |  CAST(turn_idx AS VARCHAR) || ': ' || CAST(ts AS VARCHAR) ||
        |  ' < ' || CAST(prev_ts AS VARCHAR) AS message,
        | text
        |FROM w WHERE prev_ts > ts""".stripMargin,
    "q34_strict_first" ->
      """WITH v AS (
        | SELECT doc_id, 'REQUIRED_NONEMPTY_text' AS rule_id, 'text' AS field,
        |  'Missing required field: text' AS message
        | FROM documents WHERE text IS NULL OR text = ''
        | UNION ALL
        | SELECT doc_id, 'FORMAT_REGEX_lang', 'lang',
        |  'Invalid lang format in lang: ' || COALESCE(lang, 'None')
        | FROM documents
        | WHERE lang IS NOT NULL AND NOT regexp_full_match(lang, '[a-z]{2}')
        | UNION ALL
        | SELECT doc_id, 'LENGTH_MAX_text', 'text',
        |  'Value exceeds max_length=400 in text: length ' ||
        |   CAST(length(text) AS VARCHAR)
        | FROM documents WHERE text IS NOT NULL AND length(text) > 400)
        |SELECT * FROM v ORDER BY doc_id, rule_id LIMIT 1""".stripMargin,
    "q42_repetition" ->
      """WITH f AS (SELECT lang, COALESCE(text, '') AS t FROM documents),
        |g AS (
        | SELECT lang,
        |  CASE WHEN t = '' THEN 0.0 ELSE
        |   CAST(len(string_split_regex(t, '\n'))
        |        - len(list_distinct(string_split_regex(t, '\n'))) AS DOUBLE)
        |   / len(string_split_regex(t, '\n')) END AS dlf,
        |  CASE WHEN trim(t) = '' THEN 0.0 ELSE
        |   CAST(len(regexp_split_to_array(trim(t), '\s+'))
        |        - len(list_distinct(regexp_split_to_array(trim(t), '\s+'))) AS DOUBLE)
        |   / len(regexp_split_to_array(trim(t), '\s+')) END AS dtf
        | FROM f)
        |SELECT lang,
        | round(CAST(sum(CAST(round(dlf, 6) AS DECIMAL(12,6))) AS DOUBLE) / count(*), 4)
        |   AS avg_dup_line_frac,
        | round(CAST(sum(CAST(round(dtf, 6) AS DECIMAL(12,6))) AS DOUBLE) / count(*), 4)
        |   AS avg_dup_token_frac,
        | count(*) AS n_docs
        |FROM g GROUP BY lang""".stripMargin,
    "q43_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'""".stripMargin,
    "q44_stratified_sample" ->
      """SELECT lang, doc_id FROM (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) t
        |WHERE rn <= 3""".stripMargin,
    "q67_pii_redact" ->
      """WITH p AS (
        | SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com from 10.0.0.' || CAST(doc_id % 200 AS VARCHAR) AS t
        | FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{13,16}\b', '<NUMBER>', 'g') AS redacted,
        | CAST(len(regexp_extract_all(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        | CAST(len(regexp_extract_all(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
        | CAST(len(regexp_extract_all(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{13,16}\b')) AS INT) AS n_number
        |FROM p""".stripMargin,
    "q66_pixel_stats" ->
      """SELECT doc_id,
        | 'bmp24' AS pix_format,
        | CAST(2 AS BIGINT) AS n_pixels,
        | CAST(127.5 AS DOUBLE) AS mean_r,
        | CAST(64.0 AS DOUBLE) AS mean_g,
        | round(CAST(doc_id * 37 % 256 AS DOUBLE), 4) AS mean_b
        |FROM documents WHERE doc_id < 200""".stripMargin,
    "q68_png_pixel_stats" ->
      """SELECT doc_id,
        | 'png8' AS pix_format,
        | CAST(2 AS BIGINT) AS n_pixels,
        | CAST(127.5 AS DOUBLE) AS mean_r,
        | CAST(64.0 AS DOUBLE) AS mean_g,
        | round(CAST(doc_id * 37 % 256 AS DOUBLE), 4) AS mean_b
        |FROM documents WHERE doc_id < 200""".stripMargin,
    "q69_gif_pixel_stats" ->
      """SELECT doc_id,
        | 'gif8' AS pix_format,
        | CAST(16 AS BIGINT) AS n_pixels,
        | round(CAST(6 * (doc_id * 7 % 256) + 1070 AS DOUBLE) / 16, 4) AS mean_r,
        | round(CAST(6 * (doc_id * 11 % 256) + 1605 AS DOUBLE) / 16, 4) AS mean_g,
        | round(CAST(6 * (doc_id * 37 % 256) + 631 AS DOUBLE) / 16, 4) AS mean_b
        |FROM documents WHERE doc_id < 200""".stripMargin,
    "q133_jpeg_pixel_stats" -> jpegFlatOracleSql,
    "q135_jpeg_progressive" -> jpegFlatOracleSql,
    "q136_jpeg_sa_refine" ->
      // reconstruct the SA-coded samples from the dc literals: sample =
      // floor(dc/8 + 128.5) (odd dc — the refinement bit is always 1),
      // then the same pinned JFIF conversion
      """WITH v(vr, dy, dcb, dcr, npx) AS (VALUES
        | (0, -321, NULL, NULL,  64),
        | (1, -191, NULL, NULL,  64),
        | (2,   65, NULL, NULL,  64),
        | (3,  257, NULL, NULL,  64),
        | (4,   65, -383,  513, 256),
        | (5, -255,  257, -255, 256),
        | (6,  577,    1,    1, 256),
        | (7, -511,  513, -511, 256)),
        |s AS (
        | SELECT vr, npx,
        |  floor(dy / 8.0 + 128.5) AS y,
        |  CASE WHEN dcb IS NULL THEN NULL
        |   ELSE floor(dcb / 8.0 + 128.5) END AS cb,
        |  CASE WHEN dcr IS NULL THEN NULL
        |   ELSE floor(dcr / 8.0 + 128.5) END AS cr
        | FROM v)
        |SELECT d.doc_id,
        | 'jpeg' AS pix_format,
        | CAST(s.npx AS BIGINT) AS n_pixels,
        | round(CASE WHEN s.cb IS NULL THEN s.y
        |  ELSE least(255.0, greatest(0.0,
        |   floor(s.y + 1.402 * (s.cr - 128) + 0.5))) END, 4) AS mean_r,
        | round(CASE WHEN s.cb IS NULL THEN s.y
        |  ELSE least(255.0, greatest(0.0,
        |   floor(s.y - 0.344136 * (s.cb - 128)
        |         - 0.714136 * (s.cr - 128) + 0.5))) END, 4) AS mean_g,
        | round(CASE WHEN s.cb IS NULL THEN s.y
        |  ELSE least(255.0, greatest(0.0,
        |   floor(s.y + 1.772 * (s.cb - 128) + 0.5))) END, 4) AS mean_b
        |FROM documents d JOIN s ON d.doc_id % 8 = s.vr
        |WHERE d.doc_id < 200""".stripMargin,
    "q70_weighted_sample" ->
      """SELECT doc_id, w FROM (
        | SELECT doc_id, greatest(n_chars, 1) AS w,
        |  ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
        |      + 0.5) / 16777216.0) / greatest(n_chars, 1) AS es
        | FROM documents) t
        |ORDER BY es DESC, doc_id LIMIT 25""".stripMargin,
    "q74_session_grammar" ->
      """WITH s AS (
        | SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS prev_state
        | FROM events)
        |SELECT user_id, ts, event_id, prev_state, event_type AS state,
        | 'FIRST_EVENT' AS rule
        |FROM s WHERE prev_state IS NULL AND event_type <> 'signup'
        |UNION ALL
        |SELECT user_id, ts, event_id, prev_state, event_type, 'REPEAT_SIGNUP'
        |FROM s WHERE prev_state IS NOT NULL AND event_type = 'signup'
        |UNION ALL
        |SELECT user_id, ts, event_id, prev_state, event_type,
        | 'UNPRIMED_PURCHASE'
        |FROM s WHERE event_type = 'purchase'
        | AND (prev_state IS NULL OR prev_state NOT IN ('click', 'view'))""".stripMargin,
    "q71_split_leakage" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split,
        |  regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+') AS toks
        | FROM documents),
        |s AS (
        | SELECT doc_id, split,
        |  CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |                          i -> array_to_string(toks[i:i+7], ' ')))
        |  END AS sh
        | FROM d),
        |tr AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE split = 'train'),
        |ev AS (SELECT split, doc_id, unnest(sh) AS g FROM s WHERE split <> 'train')
        |SELECT ev.split, ev.doc_id, count(DISTINCT ev.g) AS n_leaked_grams
        |FROM ev JOIN tr ON ev.g = tr.g
        |GROUP BY 1, 2""".stripMargin,
    "q72_lm_xent" -> lmXentOracleSql,
    "q96_xent_buckets" ->
      ("WITH base AS (" + lmXentOracleSql + "),\n" +
        "cuts AS (SELECT quantile_cont(xent_bits, 0.3333333333333333) " +
        "AS c1, quantile_cont(xent_bits, 0.6666666666666666) AS c2 " +
        "FROM base)\n" +
        "SELECT CASE WHEN xent_bits <= c1 THEN 'head' " +
        "WHEN xent_bits <= c2 THEN 'middle' ELSE 'tail' END AS bucket,\n" +
        " count(*) AS n_docs, CAST(sum(n_tris) AS BIGINT) AS n_tris_total\n" +
        "FROM base, cuts GROUP BY 1"),
    // BM25: constants forced to DOUBLE (a bare 1.2 is a DuckDB DECIMAL and
    // decimal·bigint math would diverge from Spark's double sequence at the
    // ulp level); operand order mirrors Tfidf.bm25TopK exactly, and the
    // per-term floor(w·10⁶) long makes the per-doc sum exact cross-engine.
    "q97_bm25" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (1, 'spark window merge'),
        |  (2, 'hash join filter'),
        |  (3, 'stream batch query table'),
        |  (4, 'vector column scan'),
        |  (5, 'customer order the')),
        |d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |tok AS (SELECT doc_id, unnest(list_filter(
        |  regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z]+'),
        |  t -> len(t) >= 3)) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM d) AS n_docs,
        |              (SELECT count(*) FROM tok) AS tot_toks),
        |qt AS (SELECT DISTINCT query_id, unnest(list_filter(
        |  regexp_split_to_array(lower(qtext), '[^a-z]+'),
        |  t -> len(t) >= 3)) AS term FROM q),
        |pt AS (
        | SELECT qt.query_id, tf.doc_id,
        |  CAST(floor(
        |   ln(1.0 + (st.n_docs - dfq.dft + 0.5) / (dfq.dft + 0.5))
        |   * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
        |   / (tf.tf + CAST(1.2 AS DOUBLE) * (0.25 +
        |      CAST(0.75 AS DOUBLE) * dl.dl /
        |      (CAST(st.tot_toks AS DOUBLE) / st.n_docs)))
        |   * 1000000.0) AS BIGINT) AS w_ppm
        | FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |   JOIN dl USING (doc_id) CROSS JOIN st),
        |pd AS (SELECT query_id, doc_id,
        |       CAST(sum(w_ppm) AS BIGINT) AS score_ppm
        |       FROM pt GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_ppm,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_ppm DESC, doc_id) AS INT) AS rank FROM pd)
        |SELECT query_id, doc_id, score_ppm, rank FROM r
        |WHERE rank <= 5""".stripMargin,
    "q98_chunks" ->
      """WITH d AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(COALESCE(text, ''), '\s+'),
        |   t -> len(t) > 0) AS toks
        | FROM documents),
        |s AS (
        | SELECT doc_id, toks, len(toks) AS n,
        |   unnest(range(1, len(toks) + 1, 11)) AS start
        | FROM d WHERE len(toks) >= 1)
        |SELECT doc_id,
        | CAST((start - 1) // 11 AS INT) AS chunk_idx,
        | CAST(least(16, n - start + 1) AS INT) AS n_toks,
        | array_to_string(toks[start:start + 15], ' ') AS chunk_text
        |FROM s""".stripMargin,
    "q99_turn_dedup" ->
      """WITH f AS (
        | SELECT COALESCE(event_type, 'unknown') || ':' ||
        |        COALESCE(props, '') AS s,
        |   count(DISTINCT user_id) AS nc
        | FROM events GROUP BY 1),
        |tot AS (SELECT count(DISTINCT user_id) AS n FROM events),
        |drops AS (SELECT s FROM f, tot
        |          WHERE nc >= greatest(CAST(ceil(0.15 * n) AS BIGINT), 2))
        |SELECT event_id, user_id, event_type, props FROM events
        |WHERE COALESCE(event_type, 'unknown') || ':' || COALESCE(props, '')
        |  NOT IN (SELECT s FROM drops)""".stripMargin,
    "q101_dsir_weights" ->
      """WITH lt AS (
        | SELECT doc_id, lang, lower(COALESCE(text, '')) AS t FROM documents),
        |tri AS (
        | SELECT doc_id, lang,
        |  unnest(list_transform(range(1, greatest(length(t) - 1, 1)),
        |                        i -> substr(t, i, 3))) AS tri
        | FROM lt),
        |c3t AS (
        | SELECT tri, count(*) AS c3 FROM tri WHERE lang = 'en' GROUP BY tri),
        |tott AS (SELECT sum(c3) AS total FROM c3t),
        |m3t AS (
        | SELECT tri, c3 FROM c3t, tott
        | WHERE c3 >= CAST(ceil(1e-05 * total) AS BIGINT)),
        |m2t AS (
        | SELECT bg, c2 FROM (
        |   SELECT substr(tri, 1, 2) AS bg, sum(c3) AS c2
        |   FROM c3t GROUP BY 1) p, tott
        | WHERE c2 >= CAST(ceil(1e-05 * total) AS BIGINT)),
        |vt AS (SELECT count(DISTINCT substr(tri, 3, 1)) AS vs FROM c3t),
        |c3r AS (SELECT tri, count(*) AS c3 FROM tri GROUP BY tri),
        |totr AS (SELECT sum(c3) AS total FROM c3r),
        |m3r AS (
        | SELECT tri, c3 FROM c3r, totr
        | WHERE c3 >= CAST(ceil(1e-05 * total) AS BIGINT)),
        |m2r AS (
        | SELECT bg, c2 FROM (
        |   SELECT substr(tri, 1, 2) AS bg, sum(c3) AS c2
        |   FROM c3r GROUP BY 1) p, totr
        | WHERE c2 >= CAST(ceil(1e-05 * total) AS BIGINT)),
        |vr AS (SELECT count(DISTINCT substr(tri, 3, 1)) AS vs FROM c3r),
        |sc AS (
        | SELECT t.doc_id, count(*) AS n_tris,
        |  sum(ln(CAST(COALESCE(m3t.c3, 0) + 1 AS DOUBLE)
        |         / (COALESCE(m2t.c2, 0) + vt.vs))
        |    - ln(CAST(COALESCE(m3r.c3, 0) + 1 AS DOUBLE)
        |         / (COALESCE(m2r.c2, 0) + vr.vs))) AS s
        | FROM tri t
        | CROSS JOIN vt CROSS JOIN vr
        | LEFT JOIN m3t ON t.tri = m3t.tri
        | LEFT JOIN m2t ON substr(t.tri, 1, 2) = m2t.bg
        | LEFT JOIN m3r ON t.tri = m3r.tri
        | LEFT JOIN m2r ON substr(t.tri, 1, 2) = m2r.bg
        | GROUP BY t.doc_id)
        |SELECT doc_id, n_tris,
        | round(s / (n_tris * 0.6931471805599453), 4) AS weight_bits
        |FROM sc""".stripMargin,
    // inter-arrival buckets: the CASE chain is GENERATED from the same
    // powers of two the Spark when-chain folds over, so they cannot drift
    "q114_interarrival" -> {
      val branches = (1 to 26)
        .map(k => s"WHEN dt <= ${1L << (k - 1)} THEN CAST(${1L << (k - 1)} AS BIGINT)")
        .mkString("\n   ")
      s"""WITH g AS (
         | SELECT ts,
         |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |    AS prev
         | FROM events),
         |d AS (SELECT epoch_ms(ts) - epoch_ms(prev) AS dt
         |      FROM g WHERE prev IS NOT NULL)
         |SELECT CASE
         |   $branches
         |   ELSE CAST(${1L << 26} AS BIGINT) END AS bucket_ms,
         | count(*) AS n_gaps, CAST(sum(dt) AS BIGINT) AS sum_ms,
         | CAST(min(dt) AS BIGINT) AS min_ms, CAST(max(dt) AS BIGINT) AS max_ms
         |FROM d GROUP BY 1""".stripMargin
    },
    // analytic twin of the planted WAV: frames (v,128) (w,0) (255,v)
    // (0,64) → channel sums/squares/peaks in closed form
    "q113_wav_pcm_stats" ->
      """WITH b AS (
        | SELECT doc_id, doc_id % 256 AS v, (doc_id * 2) % 256 AS w
        | FROM documents)
        |SELECT doc_id, 'wav_pcm16' AS format,
        | CAST(4 AS BIGINT) AS n_frames,
        | CAST(2 AS INT) AS channels,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(v + w + 255 AS BIGINT) AS sum0,
        | CAST(v * v + w * w + 65025 AS BIGINT) AS sumsq0,
        | CAST(255 AS INT) AS peak0,
        | CAST(128 + v + 64 AS BIGINT) AS sum1,
        | CAST(16384 + v * v + 4096 AS BIGINT) AS sumsq1,
        | CAST(greatest(v, 128) AS INT) AS peak1
        |FROM b""".stripMargin,
    "q111_kl_slices" ->
      """WITH c AS (
        | SELECT source AS slice, lang AS cat, count(*) AS c
        | FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
        |st AS (SELECT slice, sum(c) AS t FROM c GROUP BY 1),
        |ct AS (SELECT cat, sum(c) AS g FROM c GROUP BY 1),
        |gt AS (SELECT sum(c) AS gt FROM c),
        |tm AS (
        | SELECT c.slice,
        |  CAST(floor((CAST(c.c AS DOUBLE) / t)
        |    * ln((CAST(c.c AS DOUBLE) / t) / (CAST(g AS DOUBLE) / gt))
        |    / 0.6931471805599453 * 1000000.0) AS BIGINT) AS term
        | FROM c JOIN st USING (slice) JOIN ct USING (cat) CROSS JOIN gt)
        |SELECT slice, count(*) AS n_cats,
        | CAST(sum(term) AS BIGINT) AS kl_ppm_bits
        |FROM tm GROUP BY 1""".stripMargin,
    "q112_alpha_shares" ->
      """WITH c AS (
        | SELECT source AS stratum, count(*) AS n_docs
        | FROM documents GROUP BY 1),
        |s AS (SELECT stratum, n_docs,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    AS sqrt_ppm FROM c),
        |t AS (SELECT sum(sqrt_ppm) AS tot FROM s)
        |SELECT stratum, n_docs, sqrt_ppm,
        | CAST(floor(CAST(sqrt_ppm AS DOUBLE) * 1000000.0 / tot) AS BIGINT)
        |   AS share_ppm
        |FROM s CROSS JOIN t""".stripMargin,
    "q110_corpus_diff" ->
      """WITH oldh AS (
        | SELECT doc_id AS id, md5(COALESCE(text, '')) AS ho FROM documents),
        |news AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN COALESCE(text, '') || ' v2'
        |       ELSE text END AS text
        | FROM documents WHERE doc_id % 17 <> 3
        | UNION ALL
        | SELECT doc_id + 10000000,
        |  'new doc ' || CAST(doc_id AS VARCHAR)
        | FROM documents WHERE doc_id % 29 = 0),
        |newh AS (SELECT doc_id AS id, md5(COALESCE(text, '')) AS hn
        |         FROM news),
        |j AS (
        | SELECT CASE WHEN ho IS NULL THEN 'added'
        |   WHEN hn IS NULL THEN 'removed'
        |   WHEN ho = hn THEN 'unchanged' ELSE 'changed' END AS status
        | FROM oldh FULL OUTER JOIN newh USING (id))
        |SELECT status, count(*) AS n_docs FROM j GROUP BY 1""".stripMargin,
    "q109_quality_pct" ->
      """WITH f AS (
        | SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS len,
        |  CAST(CASE WHEN trim(t) = '' THEN 0
        |       ELSE length(regexp_split_to_array(trim(t), '\s+')) END AS BIGINT) AS ntok,
        |  CAST(length(list_distinct(regexp_split_to_array(trim(t), '\s+'))) AS BIGINT) AS ndtok,
        |  CAST(length(regexp_replace(t, '[^\p{L}]', '', 'g')) AS BIGINT) AS nalpha
        | FROM (SELECT doc_id, COALESCE(text, '') AS t FROM documents) d),
        |fr AS (
        | SELECT doc_id, len, ntok, ndtok, nalpha,
        |  greatest(len, 1) AS lp, greatest(ntok, 1) AS np
        | FROM f),
        |q AS (
        | SELECT doc_id,
        |  (((CASE WHEN len BETWEEN 20 AND 10000 THEN 10 WHEN len > 0 THEN 5 ELSE 0 END) * 3
        |    + (CASE WHEN len >= np * 2 AND len <= np * 12 THEN 10 ELSE 4 END) * 2) * lp * np
        |   + nalpha * np * 30
        |   + least(ndtok * 2, np) * lp * 20) AS numer,
        |  lp * np * 100 AS denom
        | FROM fr),
        |q2 AS (
        | SELECT doc_id, (numer * 20000 + denom) // (denom * 2) AS q4 FROM q),
        |cnt AS (SELECT q4, count(*) AS c FROM q2 GROUP BY 1),
        |cw AS (SELECT q4,
        |  CAST(sum(c) OVER (ORDER BY q4) AS BIGINT) AS cum FROM cnt),
        |t AS (SELECT count(*) AS t FROM q2)
        |SELECT q2.doc_id, CAST(q2.q4 AS BIGINT) AS q4,
        | CAST(floor(CAST(cw.cum AS DOUBLE) * 1000000.0 / t.t) AS BIGINT)
        |   AS pct_le_ppm
        |FROM q2 JOIN cw USING (q4) CROSS JOIN t""".stripMargin,
    "q107_edit_verify" ->
      """WITH c AS (
        | SELECT doc_id, source, lang, COALESCE(text, '') AS t
        | FROM documents WHERE doc_id < 300),
        |p AS (
        | SELECT doc_id AS id_a,
        |  lead(doc_id) OVER (PARTITION BY source, lang ORDER BY doc_id)
        |    AS id_b,
        |  t AS ta,
        |  lead(t) OVER (PARTITION BY source, lang ORDER BY doc_id) AS tb
        | FROM c),
        |d AS (
        | SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
        |  CAST(greatest(len(ta), len(tb), 1) AS BIGINT) AS mx
        | FROM p WHERE id_b IS NOT NULL)
        |SELECT id_a, id_b, lev,
        | CAST(floor(CAST(lev AS DOUBLE) * 1000000.0 / mx) AS BIGINT)
        |   AS dist_ppm,
        | CAST(floor(CAST(lev AS DOUBLE) * 1000000.0 / mx) AS BIGINT)
        |   <= 700000 AS is_dup
        |FROM d""".stripMargin,
    "q108_transition_matrix" ->
      """WITH p AS (
        | SELECT COALESCE(lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id), '<start>') AS prev_state,
        |  event_type AS state
        | FROM events)
        |SELECT prev_state, state, count(*) AS n
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q106_col_entropy" ->
      """WITH p AS (
        | SELECT 'source' AS col_name, source AS value FROM documents
        |  WHERE source IS NOT NULL
        | UNION ALL
        | SELECT 'lang', lang FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT col_name, value, count(*) AS c FROM p GROUP BY 1, 2),
        |t AS (SELECT col_name, sum(c) AS t FROM c GROUP BY 1),
        |tm AS (
        | SELECT c.col_name,
        |  CAST(floor((CAST(c.c AS DOUBLE) / t.t)
        |    * ln(CAST(t.t AS DOUBLE) / c.c)
        |    / 0.6931471805599453 * 1000000.0) AS BIGINT) AS term_ppm
        | FROM c JOIN t USING (col_name))
        |SELECT col_name, count(*) AS n_values,
        | CAST(sum(term_ppm) AS BIGINT) AS entropy_ppm_bits
        |FROM tm GROUP BY 1""".stripMargin,
    "q105_zipf_curve" ->
      """WITH tok AS (
        | SELECT unnest(list_filter(
        |   regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z]+'),
        |   t -> len(t) >= 1)) AS term
        | FROM documents),
        |c AS (SELECT term, count(*) AS freq FROM tok GROUP BY 1),
        |bf AS (SELECT freq, count(*) AS n_terms FROM c GROUP BY 1),
        |cw AS (SELECT freq, n_terms,
        |  CAST(sum(n_terms) OVER (ORDER BY freq DESC) AS BIGINT)
        |    AS cum_terms,
        |  CAST(sum(freq * n_terms) OVER (ORDER BY freq DESC) AS BIGINT)
        |    AS cum_tokens
        | FROM bf),
        |t AS (SELECT sum(freq * n_terms) AS tot FROM bf)
        |SELECT freq, n_terms, cum_terms, cum_tokens,
        | CAST(floor(CAST(cum_tokens AS DOUBLE) * 1000000.0 / tot)
        |   AS BIGINT) AS coverage_ppm
        |FROM cw CROSS JOIN t""".stripMargin,
    "q104_collocations" ->
      """WITH d AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z]+'),
        |   w -> len(w) >= 3) AS ws
        | FROM documents),
        |uni AS (SELECT unnest(ws) AS w FROM d),
        |u AS (SELECT w, count(*) AS cu FROM uni GROUP BY 1),
        |bi0 AS (
        | SELECT unnest(list_transform(range(1, len(ws)),
        |   i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
        | FROM d WHERE len(ws) >= 2),
        |bi AS (
        | SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS n_pair
        | FROM bi0 GROUP BY 1, 2 HAVING count(*) >= 5),
        |tu AS (SELECT sum(cu) AS tu FROM u),
        |tb AS (SELECT sum(greatest(len(ws) - 1, 0)) AS tb FROM d),
        |sc AS (
        | SELECT w1, w2, n_pair,
        |  CAST(floor(ln(CAST(n_pair AS DOUBLE) / tb
        |    * (CAST(tu AS DOUBLE) / cx)
        |    * (CAST(tu AS DOUBLE) / cy)) * 1000000.0) AS BIGINT) AS pmi_ppm
        | FROM bi
        | JOIN (SELECT w AS w1, cu AS cx FROM u) USING (w1)
        | JOIN (SELECT w AS w2, cu AS cy FROM u) USING (w2)
        | CROSS JOIN tu CROSS JOIN tb)
        |SELECT w1, w2, n_pair, pmi_ppm FROM sc
        |ORDER BY pmi_ppm DESC, w1, w2 LIMIT 50""".stripMargin,
    "q103_inverted_index" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |   regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z]+'),
        |   t -> len(t) >= 5)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |st AS (SELECT term, count(*) AS dft,
        |        CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
        |r AS (SELECT term, doc_id, tf,
        |  row_number() OVER (PARTITION BY term
        |    ORDER BY tf DESC, doc_id) AS rank FROM tf),
        |po AS (SELECT term,
        |  string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
        |    ' ' ORDER BY rank) AS postings
        | FROM r WHERE rank <= 3 GROUP BY 1)
        |SELECT st.term, st.dft, st.cf, po.postings
        |FROM st JOIN po ON st.term = po.term""".stripMargin,
    // PageRank: all-integer ppm ranks — DuckDB's `//` floor-div equals
    // Spark's `div` truncation on the all-positive values here; sum()
    // widens to HUGEINT so the damped form is CAST back to BIGINT.
    "q102_pagerank" ->
      """WITH chain AS (
        | SELECT doc_id AS src,
        |  lead(doc_id) OVER (PARTITION BY source, lang ORDER BY doc_id)
        |    AS dst
        | FROM documents),
        |e AS (
        | SELECT src, dst FROM chain WHERE dst IS NOT NULL
        | UNION
        | SELECT doc_id, doc_id // 2 FROM documents
        | WHERE doc_id % 100 = 0 AND doc_id > 0),
        |nodes AS (SELECT DISTINCT node FROM
        | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_ppm FROM nodes),
        |c1 AS (SELECT e.dst AS node, sum(r.rank_ppm // d.deg) AS s
        |  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.node
        |  GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000 + CASE WHEN c.s IS NULL THEN 0
        |   ELSE 85 * (c.s // 100) + (85 * (c.s % 100)) // 100 END
        |   AS BIGINT) AS rank_ppm
        |  FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
        |c2 AS (SELECT e.dst AS node, sum(r.rank_ppm // d.deg) AS s
        |  FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.node
        |  GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000 + CASE WHEN c.s IS NULL THEN 0
        |   ELSE 85 * (c.s // 100) + (85 * (c.s % 100)) // 100 END
        |   AS BIGINT) AS rank_ppm
        |  FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
        |c3 AS (SELECT e.dst AS node, sum(r.rank_ppm // d.deg) AS s
        |  FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.node
        |  GROUP BY 1),
        |r3 AS (SELECT n.node, CAST(150000 + CASE WHEN c.s IS NULL THEN 0
        |   ELSE 85 * (c.s // 100) + (85 * (c.s % 100)) // 100 END
        |   AS BIGINT) AS rank_ppm
        |  FROM nodes n LEFT JOIN c3 c ON n.node = c.node),
        |c4 AS (SELECT e.dst AS node, sum(r.rank_ppm // d.deg) AS s
        |  FROM e JOIN r3 r ON e.src = r.node JOIN deg d ON e.src = d.node
        |  GROUP BY 1),
        |r4 AS (SELECT n.node, CAST(150000 + CASE WHEN c.s IS NULL THEN 0
        |   ELSE 85 * (c.s // 100) + (85 * (c.s % 100)) // 100 END
        |   AS BIGINT) AS rank_ppm
        |  FROM nodes n LEFT JOIN c4 c ON n.node = c.node)
        |SELECT node, rank_ppm FROM r4""".stripMargin,
    "q100_quantize_int8" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(COALESCE(embedding,
        |   CAST([] AS FLOAT[])), x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |s AS (
        | SELECT vec_id, v,
        |  COALESCE(list_max(list_transform(v, x -> abs(x))), 0.0) AS scale
        | FROM e),
        |q AS (
        | SELECT vec_id, scale,
        |  list_transform(v, x -> CASE WHEN scale = 0.0 THEN 0
        |    ELSE CAST(floor(x / scale * 127.0 + 0.5) AS INT) END) AS qv
        | FROM s)
        |SELECT vec_id, CAST(len(qv) AS INT) AS n_dims, scale,
        | array_to_string(qv, ',') AS qvec,
        | CAST(COALESCE(list_aggregate(qv, 'sum'), 0) AS BIGINT) AS q_sum,
        | CAST(COALESCE(list_aggregate(list_transform(qv, x -> abs(x)),
        |   'sum'), 0) AS BIGINT) AS q_l1
        |FROM q""".stripMargin,
    "q73_keep_best" ->
      """WITH RECURSIVE
        | f AS (
        |  SELECT doc_id,
        |   CAST(length(t) AS BIGINT) AS len,
        |   CAST(CASE WHEN trim(t) = '' THEN 0
        |        ELSE length(regexp_split_to_array(trim(t), '\s+')) END AS BIGINT) AS ntok,
        |   CAST(length(list_distinct(regexp_split_to_array(trim(t), '\s+'))) AS BIGINT) AS ndtok,
        |   CAST(length(regexp_replace(t, '[^\p{L}]', '', 'g')) AS BIGINT) AS nalpha
        |  FROM (SELECT doc_id, COALESCE(text, '') AS t FROM documents) d),
        | fr AS (
        |  SELECT doc_id, len, ntok, ndtok, nalpha,
        |   greatest(len, 1) AS lp, greatest(ntok, 1) AS np
        |  FROM f),
        | q AS (
        |  SELECT doc_id,
        |   (((CASE WHEN len BETWEEN 20 AND 10000 THEN 10 WHEN len > 0 THEN 5 ELSE 0 END) * 3
        |     + (CASE WHEN len >= np * 2 AND len <= np * 12 THEN 10 ELSE 4 END) * 2) * lp * np
        |    + nalpha * np * 30
        |    + least(ndtok * 2, np) * lp * 20) AS numer,
        |   lp * np * 100 AS denom
        |  FROM fr),
        | q2 AS (
        |  SELECT doc_id, (numer * 20000 + denom) // (denom * 2) AS q4 FROM q),
        | chain AS (
        |  SELECT doc_id AS a,
        |   lead(doc_id) OVER (PARTITION BY source, lang ORDER BY doc_id) AS b
        |  FROM documents),
        | e0 AS (
        |  SELECT a, b FROM chain WHERE b IS NOT NULL
        |  UNION
        |  SELECT doc_id, doc_id // 2 FROM documents
        |  WHERE doc_id % 100 = 0 AND doc_id > 0),
        | und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        | reach(n, m) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a),
        | comp AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n),
        | wc AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, q2.q4
        |  FROM documents d
        |  LEFT JOIN comp c ON d.doc_id = c.n
        |  JOIN q2 ON q2.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id, CAST(q4 AS DOUBLE) / 10000.0 AS quality,
        | row_number() OVER (PARTITION BY cluster_id
        |                    ORDER BY q4 DESC, doc_id ASC) = 1 AS is_keeper
        |FROM wc""".stripMargin,
    "q78_span_pairs" ->
      (spanOracleCtes + """,
        |b AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 1 AND count(*) <= 64),
        |fb AS (SELECT f.doc_id, f.fp FROM f JOIN b USING (fp))
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        | count(DISTINCT a.fp) AS n_shared
        |FROM fb a JOIN fb c ON a.fp = c.fp AND a.doc_id < c.doc_id
        |GROUP BY 1, 2""").stripMargin,
    "q79_span_incidence" ->
      (spanOracleCtes + """,
        |cnt AS (SELECT fp, count(*) AS nf FROM f GROUP BY fp)
        |SELECT f.doc_id, count(*) AS n_fps,
        | CAST(sum(CASE WHEN cnt.nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_shared_fps
        |FROM f JOIN cnt USING (fp) GROUP BY f.doc_id""").stripMargin,
    "q77_canonicalize" ->
      """WITH p AS (
        | SELECT doc_id,
        |  COALESCE(text, '') || '  Cafe' || chr(769) || ' ' || chr(13)
        |   || chr(10) || 'A' || chr(778) || chr(9) || 'x' || chr(7)
        |   || ' end ' AS t
        | FROM documents WHERE doc_id < 150)
        |SELECT doc_id,
        | trim(regexp_replace(regexp_replace(
        |   nfc_normalize(regexp_replace(t,
        |     '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')),
        |   '\r\n?', chr(10), 'g'),
        |   '[ \t]+', ' ', 'g')) AS canon
        |FROM p""".stripMargin,
    "q75_pack" ->
      """SELECT doc_id, w, cb AS cum_before, cb // 4096 AS pack_id FROM (
        | SELECT doc_id, w,
        |  CAST(COALESCE(sum(w) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        | FROM (SELECT doc_id, COALESCE(n_chars, 0) AS w FROM documents) d) p""".stripMargin,
    "q76_group_weighted" ->
      """SELECT source, doc_id, w FROM (
        | SELECT source, doc_id, w,
        |  row_number() OVER (PARTITION BY source ORDER BY es DESC, doc_id) AS rn
        | FROM (
        |  SELECT source, doc_id, greatest(n_chars, 1) AS w,
        |   ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
        |       + 0.5) / 16777216.0) / greatest(n_chars, 1) AS es
        |  FROM documents) r) t
        |WHERE rn <= 5""".stripMargin,
"q82_line_dedup" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0
        |   THEN COALESCE(text,'') || chr(10) || 'Banner variant ' ||
        |        CAST(doc_id % 3 AS VARCHAR) ||
        |        ' subscribe to our newsletter today' || chr(10) || 'ok'
        |   ELSE COALESCE(text,'') END AS t
        | FROM documents),
        |s AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d),
        |l0 AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(parts) + 1),
        |   i -> {p: i - 1, ln: parts[i]})) AS u
        | FROM s),
        |l AS (
        | SELECT doc_id, u.p AS pos,
        |  CAST('0x' || substr(md5(u.ln), 1, 15) AS BIGINT) AS h
        | FROM l0 WHERE length(trim(u.ln)) >= 15),
        |f AS (SELECT h FROM l GROUP BY h
        |      HAVING count(DISTINCT doc_id) >= 2),
        |dr AS (SELECT doc_id, list_sort(list(pos)) AS dp
        |       FROM l JOIN f USING (h) GROUP BY doc_id),
        |r AS (SELECT s.doc_id, parts,
        |       COALESCE(dp, CAST([] AS BIGINT[])) AS dp
        |      FROM s LEFT JOIN dr ON s.doc_id = dr.doc_id)
        |SELECT doc_id,
        | -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
        | -- array_join([]) is '' — a doc whose EVERY line is removed is
        | -- the empty document, not a null (first occurs at sf0.1, where
        | -- 13 single-line docs recur verbatim in ≥2 documents)
        | COALESCE(array_to_string(list_transform(
        |   list_filter(range(1, len(parts) + 1),
        |     i -> NOT list_contains(dp, i - 1)),
        |   i -> parts[i]), chr(10)), '') AS clean_text,
        | CAST(len(parts) AS INT) AS n_lines,
        | CAST(len(dp) AS INT) AS n_lines_removed
        |FROM r""".stripMargin,
    "q83_html_extract" ->
      ("WITH h AS (SELECT doc_id, " + htmlPlantSql + " AS x FROM documents)\n" +
        "SELECT doc_id, " + stripHtmlSql("x") + " AS clean_text FROM h"),
    "q84_url_normalize" ->
      (urlPartsSqlPrefix + "\nSELECT doc_id, url_norm, host, domain FROM pf"),
    "q85_domain_stats" ->
      (urlPartsSqlPrefix + "\nSELECT domain, count(*) AS n_docs, " +
        "count(DISTINCT host) AS n_hosts, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM pf GROUP BY domain"),
    "q86_turn_budget" ->
      """WITH n AS (
        | SELECT user_id, ts, event_id,
        |  greatest(1, CAST(floor(length(COALESCE(props,'')) / 4) AS BIGINT))
        |    AS nt
        | FROM events),
        |w AS (
        | SELECT user_id, nt,
        |  sum(nt) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY ts DESC, event_id DESC) AS rn
        | FROM n)
        |SELECT user_id,
        | CAST(sum(CASE WHEN cum <= 64 OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS kept_events,
        | CAST(sum(CASE WHEN cum <= 64 OR rn = 1 THEN nt ELSE 0 END)
        |   AS BIGINT) AS kept_tokens,
        | CAST(sum(CASE WHEN cum <= 64 OR rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
        |   AS dropped_events
        |FROM w GROUP BY user_id""".stripMargin,
    "q89_html_signals" ->
      ("WITH h AS (SELECT doc_id, " + htmlPlantSql + " AS x FROM documents),\n" +
        "s AS (SELECT doc_id, greatest(length(x), 1) AS total,\n" +
        " CAST(length(" + stripHtmlSql("x") + ") AS BIGINT) AS text_len,\n" +
        " CAST(len(regexp_extract_all(x, '<[^>]*>')) AS BIGINT) AS n_tags,\n" +
        " CAST(len(regexp_extract_all(x, '(?i)<a\\b')) AS BIGINT) " +
        "AS n_links,\n" +
        " CAST(length(x) - length(regexp_replace(x, " +
        "'(?is)<a\\b[^>]*>.*?</a\\s*>', '', 'g')) AS BIGINT) AS link_chars\n" +
        " FROM h)\n" +
        "SELECT doc_id,\n" +
        " least(CAST(floor(text_len * 1000000 / total) AS BIGINT), 1000000) " +
        "AS text_ratio_ppm,\n" +
        " least(CAST(floor(link_chars * 1000000 / total) AS BIGINT), " +
        "1000000) AS link_density_ppm,\n" +
        " n_tags, n_links\nFROM s"),
    "q90_chat_render" ->
      """WITH r AS (
        | SELECT user_id,
        |  string_agg('<|' || COALESCE(event_type, 'unknown') || '|>' ||
        |    COALESCE(props, ''), chr(10) ORDER BY ts, event_id)
        |    AS rendered,
        |  count(*) AS n_turns
        | FROM events GROUP BY user_id)
        |SELECT user_id, rendered, n_turns,
        | greatest(1, CAST(floor(length(rendered) / 4) AS BIGINT))
        |   AS n_tokens
        |FROM r""".stripMargin,
    "q91_prefix_dedup" ->
      """WITH r AS (
        | SELECT user_id, event_type, props, ts, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS nt
        | FROM events),
        |s AS (
        | SELECT user_id, max(nt) AS n_turns,
        |  md5(string_agg(COALESCE(event_type, 'unknown') || ':' ||
        |    COALESCE(props, ''), chr(30) ORDER BY ts, event_id))
        |    AS prefix_sig
        | FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT prefix_sig, min(user_id) AS keeper,
        | count(*) AS n_convs, CAST(sum(n_turns) AS BIGINT) AS n_turns_total
        |FROM s GROUP BY prefix_sig""".stripMargin,
    "q92_messages_json" ->
      ("WITH r AS (SELECT user_id,\n" +
        " '[' || string_agg('{\"role\":\"' || " +
        jsonEscSql("COALESCE(event_type, 'unknown')") +
        " || '\",\"content\":\"' || " + jsonEscSql("COALESCE(props, '')") +
        " || '\"}', ',' ORDER BY ts, event_id) || ']' AS messages_json,\n" +
        " count(*) AS n_turns\n FROM events GROUP BY user_id)\n" +
        "SELECT user_id, messages_json, n_turns FROM r"),
    "q93_mixture_plan" ->
      """WITH inv AS (
        | SELECT lang, count(*) AS n_docs,
        |  CAST(sum(greatest(1, CAST(floor(length(COALESCE(text,'')) / 4)
        |    AS BIGINT))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY lang),
        |p AS (
        | SELECT lang, n_docs, n_tokens,
        |  CAST(CASE WHEN lang = 'de' THEN 200000
        |   WHEN lang = 'en' THEN 500000 WHEN lang = 'es' THEN 100000
        |   WHEN lang = 'fr' THEN 150000 WHEN lang = 'zh' THEN 50000
        |   ELSE 0 END AS BIGINT) AS weight_ppm
        | FROM inv),
        |q AS (SELECT *, CAST((weight_ppm * 200000) // 1000000 AS BIGINT)
        |        AS target_tokens FROM p),
        |r AS (SELECT *, CAST(least(1000000,
        |        (target_tokens * 1000000) // greatest(n_tokens, 1))
        |        AS BIGINT) AS rate_ppm FROM q)
        |SELECT lang, n_docs, n_tokens, weight_ppm, target_tokens, rate_ppm,
        | CAST((n_tokens // 1000000) * rate_ppm +
        |   ((n_tokens % 1000000) * rate_ppm) // 1000000 AS BIGINT)
        |   AS expected_tokens
        |FROM r""".stripMargin,
    "q94_length_buckets" ->
      ("WITH n0 AS (SELECT greatest(1, CAST(floor(length(COALESCE(text,''))" +
        " / 4) AS BIGINT)) AS n FROM documents),\n" +
        "b AS (SELECT CAST(" + bucketCaseSql + " AS BIGINT) AS bucket, n " +
        "FROM n0),\n" +
        "g AS (SELECT bucket, count(*) AS n_seqs, " +
        "CAST(sum(n) AS BIGINT) AS sum_tokens FROM b GROUP BY bucket)\n" +
        "SELECT bucket, n_seqs, sum_tokens,\n" +
        " CAST(greatest(bucket * n_seqs - sum_tokens, 0) AS BIGINT) " +
        "AS padding_tokens,\n" +
        " CAST(floor(CAST(sum_tokens AS DOUBLE) * 1000000.0 / " +
        "(CAST(bucket AS DOUBLE) * CAST(n_seqs AS DOUBLE))) AS BIGINT) " +
        "AS fill_ppm\nFROM g"),
    "q95_incremental_dedup" ->
      """WITH d AS (
        | SELECT doc_id, n_chars,
        |  CASE WHEN doc_id % 7 = 3
        |   THEN 'planted shared document variant ' ||
        |        CAST(doc_id % 4 AS VARCHAR)
        |   ELSE COALESCE(text,'') END AS text
        | FROM documents),
        |seen AS (
        | SELECT DISTINCT md5(text) AS ch FROM d WHERE doc_id < 250),
        |arr AS (
        | SELECT doc_id, n_chars, md5(text) AS ch
        | FROM d WHERE doc_id >= 250),
        |fresh AS (
        | SELECT * FROM arr WHERE ch NOT IN (SELECT ch FROM seen)),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY ch)
        |SELECT f.doc_id, f.n_chars FROM fresh f
        |JOIN keep k ON f.doc_id = k.doc_id""".stripMargin,
    "q87_mojibake" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN " +
        "COALESCE(text,'') || " +
        sqlStrEsc(graft.ops.TextOps.utf8AsCp1252(mojibakeCleanSample)) +
        " ELSE COALESCE(text,'') END AS x FROM documents)\n" +
        "SELECT doc_id, " + fixMojibakeSql("x") + " AS fixed,\n" +
        " CAST(len(regexp_extract_all(x, 'Ã|â€|Â')) AS BIGINT) " +
        "AS n_markers_before,\n" +
        " CAST(len(regexp_extract_all(" + fixMojibakeSql("x") +
        ", 'Ã|â€|Â')) AS BIGINT) AS n_markers_after\nFROM d"),
    "q88_ngram_repetition" ->
      """WITH w AS (
        | SELECT doc_id, greatest(length(COALESCE(text,'')), 1) AS nch,
        |  string_split_regex(trim(COALESCE(text,'')), '\s+') AS ws
        | FROM documents),
        |nn AS (SELECT unnest([2,3,4,5,6]) AS n),
        |g AS (
        | SELECT doc_id, nch, n,
        |  unnest(list_transform(list_filter(range(1, len(ws) + 1),
        |    i -> i + n - 1 <= len(ws)),
        |    i -> array_to_string(ws[i:i+n-1], ' '))) AS gram
        | FROM w, nn),
        |e AS (
        | SELECT doc_id, nch, n,
        |  CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h,
        |  CAST(length(gram) AS BIGINT) AS glen
        | FROM g
        | UNION ALL
        | SELECT doc_id, greatest(length(COALESCE(text,'')), 1), 0, 0, 0
        | FROM documents),
        |c AS (SELECT doc_id, nch, n, h, glen, count(*) AS cnt
        |      FROM e GROUP BY 1,2,3,4,5),
        |p AS (SELECT doc_id, nch,
        |  max(CASE WHEN n = 2 THEN cnt*glen END) AS t2,
        |  max(CASE WHEN n = 3 THEN cnt*glen END) AS t3,
        |  max(CASE WHEN n = 4 THEN cnt*glen END) AS t4,
        |  CAST(sum(CASE WHEN n = 5 AND cnt >= 2 THEN cnt*glen ELSE 0 END)
        |    AS BIGINT) AS d5,
        |  CAST(sum(CASE WHEN n = 6 AND cnt >= 2 THEN cnt*glen ELSE 0 END)
        |    AS BIGINT) AS d6
        | FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        | least(CAST(floor(COALESCE(t2,0) * 1000000 / nch) AS BIGINT),
        |   1000000) AS top2_ppm,
        | least(CAST(floor(COALESCE(t3,0) * 1000000 / nch) AS BIGINT),
        |   1000000) AS top3_ppm,
        | least(CAST(floor(COALESCE(t4,0) * 1000000 / nch) AS BIGINT),
        |   1000000) AS top4_ppm,
        | least(CAST(floor(d5 * 1000000 / nch) AS BIGINT), 1000000)
        |   AS dup5_ppm,
        | least(CAST(floor(d6 * 1000000 / nch) AS BIGINT), 1000000)
        |   AS dup6_ppm
        |FROM p""".stripMargin,
    "q81_epoch_expand" ->
      """WITH r AS (
        | SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN CAST(2.3 AS DOUBLE)
        |            WHEN 'de' THEN CAST(1.0 AS DOUBLE)
        |            WHEN 'fr' THEN CAST(0.7 AS DOUBLE)
        |            WHEN 'es' THEN CAST(0.4 AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END AS e,
        |  (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 6)
        |        AS BIGINT) + 0.5) / 16777216.0 AS u
        | FROM documents),
        |n AS (
        | SELECT doc_id, lang,
        |  CAST(floor(e) AS BIGINT)
        |   + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END AS nn
        | FROM r)
        |SELECT doc_id, lang, unnest(range(0, nn)) AS copy_idx
        |FROM n WHERE nn > 0""".stripMargin,
    "q80_pack_payloads" ->
      """WITH d AS (
        | SELECT doc_id, COALESCE(text, '') AS txt,
        |        length(COALESCE(text, '')) AS len
        | FROM documents),
        |c AS (
        | SELECT doc_id, txt, len,
        |  CAST(COALESCE(sum(len) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS cb
        | FROM d),
        |p AS (
        | SELECT doc_id, txt, len, cb,
        |  unnest(range(cb // 2048, (cb + len - 1) // 2048 + 1)) AS pack_id
        | FROM c WHERE len > 0),
        |s AS (
        | SELECT pack_id, doc_id,
        |  greatest(pack_id * 2048, cb) - pack_id * 2048 AS off_in_pack,
        |  substr(txt, CAST(greatest(pack_id * 2048, cb) - cb + 1 AS INT),
        |   CAST(least((pack_id + 1) * 2048, cb + len)
        |        - greatest(pack_id * 2048, cb) AS INT)) AS piece
        | FROM p)
        |SELECT pack_id, count(*) AS n_pieces,
        | string_agg(piece, '' ORDER BY off_in_pack) AS payload
        |FROM s GROUP BY pack_id""".stripMargin,
    "q65_stratified_salted" ->
      """SELECT lang, doc_id FROM (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) t
        |WHERE rn <= 3""".stripMargin,
    "q45_exact_quantiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99,
        | count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q46_asof_join" ->
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        | c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        | j AS (
        |  SELECT p.user_id, p.ts, c.ts AS asof_ts
        |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT user_id, count(*) AS n_purchases,
        | count(asof_ts) AS n_matched,
        | round(CAST(sum(CAST(COALESCE(round(epoch(ts) - epoch(asof_ts), 3), 0.0)
        |   AS DECIMAL(18,3))) AS DOUBLE), 3) AS total_gap_sec
        |FROM j GROUP BY user_id""".stripMargin,
    "q47_range_join" ->
      """SELECT p.user_id, count(*) AS n_pairs,
        | count(DISTINCT p.event_id) AS n_purchases_with_view
        |FROM events p JOIN events v ON p.user_id = v.user_id
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        | AND epoch(v.ts) >= epoch(p.ts) - 21600 AND v.ts < p.ts
        |GROUP BY p.user_id""".stripMargin,
    "q48_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q49_setops" ->
      """SELECT 'intersect' AS op, lang, source FROM (
        | SELECT DISTINCT lang, source FROM documents WHERE doc_id % 2 = 0
        | INTERSECT
        | SELECT DISTINCT lang, source FROM documents WHERE doc_id % 3 = 0) a
        |UNION ALL
        |SELECT 'except' AS op, lang, source FROM (
        | SELECT DISTINCT lang, source FROM documents WHERE doc_id % 2 = 0
        | EXCEPT
        | SELECT DISTINCT lang, source FROM documents WHERE doc_id % 3 = 0) b""".stripMargin,
    "q50_rank_windows" ->
      """SELECT * FROM (
        | SELECT o_orderpriority, o_orderkey,
        |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS kbucket,
        |  CAST(dense_rank() OVER wc AS INT) AS drank,
        |  round(percent_rank() OVER wc, 6) AS prank,
        |  CAST(row_number() OVER wf AS INT) AS rn,
        |  CAST(ntile(4) OVER wf AS INT) AS quartile
        | FROM orders
        | WINDOW wc AS (PARTITION BY o_orderpriority
        |               ORDER BY floor(o_totalprice / 1000) DESC),
        |        wf AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey)) t
        |WHERE drank <= 2""".stripMargin,
    "q51_url_parse" ->
      """WITH u AS (
        | SELECT CASE WHEN doc_id % 7 = 0
        |   THEN 'htp:/bad/' || CAST(doc_id AS VARCHAR)
        |   ELSE 'https://files.' || source || '.example/x?y=1' END AS url
        | FROM documents)
        |SELECT regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1) AS protocol,
        | COALESCE(NULLIF(regexp_extract(url,
        |   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ''), '__none__') AS host,
        | count(*) AS n
        |FROM u GROUP BY 1, 2""".stripMargin,
    "q52_dup_clusters" ->
      """WITH RECURSIVE
        | chain AS (
        |  SELECT doc_id AS a,
        |   lead(doc_id) OVER (PARTITION BY source, lang ORDER BY doc_id) AS b
        |  FROM documents),
        | e0 AS (
        |  SELECT a, b FROM chain WHERE b IS NOT NULL
        |  UNION
        |  SELECT doc_id, doc_id // 2 FROM documents
        |  WHERE doc_id % 100 = 0 AND doc_id > 0),
        | und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        | reach(n, m) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a),
        | comp AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n)
        |SELECT d.doc_id,
        | COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        | d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS is_keeper
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.n""".stripMargin,
    "q53_decontam" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+') AS toks
        | FROM documents),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |                          i -> array_to_string(toks[i:i+7], ' ')))
        |  END AS sh
        | FROM d),
        |b AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 50 = 0),
        |c AS (SELECT doc_id, unnest(sh) AS g FROM s)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_hit_grams
        |FROM c JOIN b ON c.g = b.g
        |GROUP BY 1""".stripMargin,
    "q54_tfidf_terms" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |   regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z]+'),
        |   t -> len(t) >= 5)) AS term
        | FROM documents WHERE doc_id < 100),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS dft FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents WHERE doc_id < 100),
        |sc AS (
        | SELECT tf.doc_id, tf.term,
        |  round(tf.tf * ln((n.n + 1.0) / (dfq.dft + 1.0)), 4) AS score
        | FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS INT) AS rank FROM sc)
        |SELECT doc_id, term, score, rank FROM r WHERE rank <= 3""".stripMargin,
    "q55_freq_items" ->
      """WITH u AS (
        | SELECT 'source' AS col_name, source AS item, count(*) AS est
        | FROM documents GROUP BY 2
        | UNION ALL
        | SELECT 'lang', lang, count(*) FROM documents GROUP BY 2),
        |r AS (SELECT col_name, item, est,
        |  row_number() OVER (PARTITION BY col_name
        |    ORDER BY est DESC, item) AS rn FROM u)
        |SELECT col_name, item, est FROM r WHERE rn <= 5""".stripMargin,
    "q56_boilerplate" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |gl AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks)),
        |                           i -> array_to_string(toks[i:i+1], ' '))
        |  END AS grams
        | FROM d),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM gl),
        |f AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 40),
        |j AS (
        | SELECT g.doc_id, CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END AS hit
        | FROM g LEFT JOIN f USING (gram))
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(sum(hit) AS BIGINT) AS n_boiler,
        | round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS boiler_frac
        |FROM j GROUP BY doc_id""".stripMargin,
    "q64_boilerplate_frac" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |gl AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks)),
        |                           i -> array_to_string(toks[i:i+1], ' '))
        |  END AS grams
        | FROM d),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM gl),
        |f AS (SELECT gram FROM g GROUP BY gram
        |      HAVING CAST(count(*) AS DOUBLE) >=
        |             greatest(2.0, 0.05 * (SELECT count(*) FROM documents))),
        |j AS (
        | SELECT g.doc_id, CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END AS hit
        | FROM g LEFT JOIN f USING (gram))
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(sum(hit) AS BIGINT) AS n_boiler,
        | round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS boiler_frac
        |FROM j GROUP BY doc_id""".stripMargin,
    "q57_json_extract" ->
      """WITH e AS (
        | SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        | FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_k,
        | min(k) AS min_k, max(k) AS max_k,
        | CAST(sum(k) AS BIGINT) AS sum_k
        |FROM e GROUP BY event_type""".stripMargin,
    "q58_length_hist" ->
      """WITH b AS (
        | SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bin,
        |  count(*) AS n
        | FROM documents GROUP BY 1)
        |SELECT bin, n,
        | round(CAST(n AS DOUBLE) / sum(n) OVER (), 4) AS share
        |FROM b""".stripMargin,
    "q59_outliers" ->
      """WITH m AS (
        | SELECT event_type,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        | FROM events GROUP BY 1),
        |s AS (
        | SELECT event_type, s1 / n AS mu,
        |  sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sigma
        | FROM m WHERE n > 1),
        |s2 AS (SELECT * FROM s WHERE sigma > 0)
        |SELECT e.event_id, e.event_type, e.value,
        | round((e.value - s2.mu) / s2.sigma, 3) AS z
        |FROM events e JOIN s2 USING (event_type)
        |WHERE abs((e.value - s2.mu) / s2.sigma) > 4.0""".stripMargin,
    "q60_mixture" ->
      """WITH thr AS (
        | SELECT source,
        |  CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |       THEN '9999' ELSE '2666' END AS t
        | FROM (SELECT DISTINCT source FROM documents))
        |SELECT d.source, count(*) AS n_kept,
        | CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
        |FROM documents d JOIN thr ON d.source = thr.source
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.t
        |GROUP BY d.source""".stripMargin,
    "q61_split" ->
      """WITH s AS (
        | SELECT lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < 'cccc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents)
        |SELECT lang, split, count(*) AS n FROM s GROUP BY 1, 2""".stripMargin,
    "q62_mad_outliers" ->
      """WITH m AS (
        | SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |d AS (
        | SELECT e.event_type, median(abs(e.value - m.med)) AS mad,
        |  max(m.med) AS med
        | FROM events e JOIN m USING (event_type) GROUP BY 1),
        |d2 AS (SELECT * FROM d WHERE mad > 0)
        |SELECT e.event_id, e.event_type, e.value,
        | round((e.value - d2.med) / (1.4826 * d2.mad), 3) AS rz
        |FROM events e JOIN d2 USING (event_type)
        |WHERE abs((e.value - d2.med) / (1.4826 * d2.mad)) > 6.0""".stripMargin,
    "q63_new_keys" ->
      """WITH f AS (
        | SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        | FROM events GROUP BY 1)
        |SELECT first_day, count(*) AS n_new_users
        |FROM f GROUP BY 1""".stripMargin,
    "q24_ann_brute_topk" ->
      """SELECT query_id, vec_id, round(c, 4) AS cos, rank FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS c,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
        |             e.vec_id) AS INT) AS rank
        | FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
        | WHERE e.vec_id <> q.vec_id) s
        |WHERE rank <= 5""".stripMargin
  )
}

/** DuckDB twin of [[graft.ops.TextOps.langId]] — kept in its own object so
  * the CASE chain mirrors the Scala fold order (later languages win ties:
  * fr > es > en > de, "und" when no stopword fires). Same single-pass shape:
  * one regexp split, then len(list_intersect) per language — DuckDB's
  * list_intersect and Spark's array_intersect both count DISTINCT common
  * elements.
  */
private object LangIdSql {
  private def score(lang: String): String = {
    val ws = graft.ops.TextOps.stopwords(lang)
    s"CAST(len(list_intersect(tk, [${ws.map(w => s"'$w'").mkString(", ")}])) AS INT)"
  }
  val sql: String =
    s"""WITH scored AS (
       | SELECT lang,
       |  ${score("de")} AS s_de, ${score("en")} AS s_en,
       |  ${score("es")} AS s_es, ${score("fr")} AS s_fr
       | FROM (SELECT lang,
       |   regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z]+') AS tk
       |   FROM documents) d),
       |pred AS (
       | SELECT lang,
       |  CASE
       |   WHEN s_fr > 0 AND s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es THEN 'fr'
       |   WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_en AND s_es >= s_fr THEN 'es'
       |   WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |   WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |   ELSE 'und' END AS predicted
       | FROM scored)
       |SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2""".stripMargin
}

/** DuckDB twin of [[graft.ops.TextOps.qualityScore]]. */
private object QualitySql {
  val sql: String =
    """WITH f AS (
      | SELECT lang,
      |  CAST(length(t) AS DOUBLE) AS len,
      |  CAST(CASE WHEN trim(t) = '' THEN 0
      |       ELSE length(regexp_split_to_array(trim(t), '\s+')) END AS DOUBLE) AS ntok,
      |  CAST(length(list_distinct(regexp_split_to_array(trim(t), '\s+'))) AS DOUBLE) AS ndtok,
      |  CAST(length(regexp_replace(t, '[^\p{L}]', '', 'g')) AS DOUBLE) AS nalpha
      | FROM (SELECT lang, COALESCE(text, '') AS t FROM documents) d),
      |q AS (
      | SELECT lang,
      |  round(
      |   (CASE WHEN len >= 20 AND len <= 10000 THEN 1.0 WHEN len > 0 THEN 0.5 ELSE 0.0 END) * 0.3
      |   + (nalpha / greatest(len, 1.0)) * 0.3
      |   + (CASE WHEN len / greatest(ntok, 1.0) >= 2 AND len / greatest(ntok, 1.0) <= 12
      |      THEN 1.0 ELSE 0.4 END) * 0.2
      |   + least(ndtok / greatest(ntok, 1.0) * 2, 1.0) * 0.2, 4) AS quality
      | FROM f)
      |SELECT lang, round(avg(quality), 4) AS avg_quality, count(*) AS n_docs
      |FROM q GROUP BY lang""".stripMargin
}

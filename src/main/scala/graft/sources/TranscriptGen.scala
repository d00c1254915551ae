package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript-table generator (FIXTURES.md §A).
  *
  * `north_rule` forbids external data, so the subject table is synthesized
  * in-engine: every value is a pure function of `(seed, conv_seq, turn_idx)`
  * through `xxhash64`, so the same config yields byte-identical tables at any
  * parallelism — the invariant the two-cluster-size bench relies on. No
  * wall-clock, no RNG, no driver-side loops: generation is
  * `spark.range(...)` + column expressions, distributed and codegen'd.
  *
  * Violations are planted at ~1/`plantRate` per rule on rows selected by
  * `hash % plantRate == 0` (FIXTURES.md plant table), mirroring the rule
  * shapes of reference `src/core/verification.py` (SURVEY.md §2.3). A Zipf-ish
  * hot conversation (conv_seq = 0) holds `hotTurns` rows to exercise the
  * hot-key path of the key window and the dedup.
  */
object TranscriptGen {

  final case class Config(
      nConvs: Long = 10000L,
      hotTurns: Long = 0L, // extra rows on conv 0; 0 = derive ~1% of total
      parts: Int = 32,
      seed: Long = 42L,
      plantRate: Int = 200, // ~0.5% per rule
      plant: Boolean = true
  ) {
    val hot: Long = if (hotTurns > 0) hotTurns else math.max(12L, (nConvs * 65L) / 1000L)
  }

  val epoch: Long = 1767225600L // 2026-01-01T00:00:00Z, fixed (no now())

  private val vocab: Seq[String] = Seq(
    "the", "a", "of", "and", "data", "query", "table", "row", "column",
    "value", "part", "hash", "join", "agg", "scan", "filter", "sort",
    "merge", "window", "stream", "batch", "spark", "order", "key", "line",
    "customer", "small", "big", "fast", "slow", "naïve", "café", "日本語",
    "schema", "check", "valid", "turn", "conv", "tool", "role", "état",
    "\"quoted\"", "emoji🙂", "tab\tsep", "multi\nline", "año", "ünïcode")

  private val tools: Seq[String] =
    Seq("search", "fetch", "calc", "code_run", "db_query")

  /** Stable per-rule selection hash — also used by tests to count expected
    * plants independently of the engine under test.
    */
  def gate(cfg: Config, rule: String, conv: Column, turn: Column): Column =
    pmod(xxhash64(lit(cfg.seed), lit(rule), conv, turn), lit(cfg.plantRate)) === 0

  private def h(cfg: Config, tag: String, conv: Column, turn: Column): Column =
    xxhash64(lit(cfg.seed), lit(tag), conv, turn)

  /** Clean (pre-plant) turn rows. Exposes `conv_seq` for plant gating. */
  private def cleanTurns(spark: SparkSession, cfg: Config): DataFrame = {
    // Bulk conversations: 1..12 turns each, exploded from a bounded sequence
    // (max 12 elements — scale-safe; the hot conversation is generated from a
    // flat range below instead of one giant array row).
    val bulk = spark
      .range(1L, cfg.nConvs)
      .toDF("conv_seq")
      .withColumn("n_turns",
        (pmod(xxhash64(lit(cfg.seed), lit("nt"), col("conv_seq")), lit(12)) + 1).cast("int"))
      .select(col("conv_seq"),
        explode(sequence(lit(0), col("n_turns") - 1)).as("turn_idx"))
    val hot = spark
      .range(0L, cfg.hot)
      .toDF("turn_idx")
      .select(lit(0L).as("conv_seq"), col("turn_idx").cast("int").as("turn_idx"))
    val base = bulk.unionByName(hot)

    val conv = col("conv_seq")
    val turn = col("turn_idx")
    val roleH = pmod(h(cfg, "role", conv, turn), lit(100))
    val role = when(turn === 0, lit("system"))
      .when(roleH < 42, lit("user"))
      .when(roleH < 84, lit("assistant"))
      .otherwise(lit("tool"))
    val tool = when(role === "tool",
      element_at(array(tools.map(lit): _*),
        (pmod(h(cfg, "tool", conv, turn), lit(tools.size)) + 1).cast("int")))
    val nWords = (pmod(h(cfg, "nw", conv, turn), lit(40)) + 5).cast("int")
    val words = transform(
      sequence(lit(1), nWords),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(cfg.seed), lit("w"), conv, turn, i), lit(vocab.size)) + 1).cast("int")))
    val prose = concat_ws(" ", words)
    val text = when(tool === "fetch",
      format_string("https://example.org/r/%d/p%d",
        pmod(h(cfg, "url", conv, turn), lit(100000)), turn))
      .otherwise(prose)
    // Monotonic-within-conversation timestamps: conversation start offset +
    // cumulative-ish step (turn_idx * bounded per-turn step keeps monotonicity
    // without a window during generation).
    val ts = timestamp_seconds(
      lit(epoch) + pmod(conv, lit(86400L * 30)) * 60L +
        turn.cast("long") * (lit(5L) + pmod(h(cfg, "step", conv, turn % 1), lit(120L))))

    base.select(
      conv, turn,
      role.as("role"),
      tool.as("tool"),
      text.as("text"),
      ts.as("ts"))
  }

  private def withPlants(df: DataFrame, cfg: Config): DataFrame = {
    if (!cfg.plant) return df
    val conv = col("conv_seq")
    val turn = col("turn_idx")
    def g(rule: String) = gate(cfg, rule, conv, turn)

    df
      // REQUIRED_NONEMPTY: text -> NULL or "" (verification.py:39 empties)
      .withColumn("text",
        when(g("REQ") && pmod(conv + turn, lit(2)) === 0, lit(null).cast("string"))
          .when(g("REQ"), lit(""))
          .otherwise(col("text")))
      // ENUM_MEMBER: role -> out-of-vocabulary
      .withColumn("role", when(g("ENUM"), lit("operator")).otherwise(col("role")))
      // FORMAT_REGEX: tool -> "v1.2" (fails the identifier fullmatch)
      .withColumn("tool",
        when(g("FMT") && col("tool").isNotNull, lit("v1.2")).otherwise(col("tool")))
      // URL_FORMAT: fetch payload -> malformed scheme
      .withColumn("text",
        when(g("URL") && col("tool") === "fetch", lit("htp:/bad")).otherwise(col("text")))
      // LENGTH_MAX: text beyond the 2000-char cap
      .withColumn("text",
        when(g("LEN"), concat(lit("x"), repeat(lit("y"), 2100))).otherwise(col("text")))
      // MIN_VALUE: turn_idx -> -1 (only from turn 1; keeps (conv,-1) unique)
      .withColumn("turn_idx",
        when(g("NEG") && turn === 1, lit(-1)).otherwise(col("turn_idx")))
      // CROSS_FIELD: tool/role decoupled both ways
      .withColumn("tool",
        when(g("XF") && col("role") === "tool", lit(null).cast("string"))
          .when(g("XF") && col("role") =!= "tool", lit("search"))
          .otherwise(col("tool")))
      // TS_ORDER: pull a later turn's ts before its predecessor
      .withColumn("ts",
        when(g("TSO") && turn > 0, col("ts") - expr("INTERVAL 1 DAY"))
          .otherwise(col("ts")))
  }

  /** The transcript table, planted, with Iceberg-partition stand-in
    * `part_id = pmod(xxhash64(conv_id), parts)`.
    */
  def transcripts(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    val planted = withPlants(cleanTurns(spark, cfg), cfg)
    // DUPLICATE_KEY: clone selected rows (heavier rate on the hot conv)
    val dupes = planted.filter(
      gate(cfg, "DUP", col("conv_seq"), col("turn_idx")) ||
        (col("conv_seq") === 0 && pmod(col("turn_idx"), lit(cfg.plantRate / 2)) === 1))
    planted
      .unionByName(dupes)
      .select(
        format_string("c%012d", col("conv_seq")).as("conv_id"),
        col("turn_idx"),
        col("role"),
        col("text"),
        col("tool"),
        col("ts"))
      .withColumn("part_id",
        pmod(xxhash64(col("conv_id")), lit(cfg.parts)).cast("int"))
  }

  /** Conversations dimension — generated minus the ORPHAN_CONV ids, so
    * transcript rows whose conv was gated out become dangling references
    * (the reference silently drops these at `models.py:246`; we surface them
    * as violations).
    */
  def conversations(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    spark
      .range(0L, cfg.nConvs)
      .toDF("conv_seq")
      .filter(!gate(cfg, "ORPHAN", col("conv_seq"), lit(0)))
      .select(
        format_string("c%012d", col("conv_seq")).as("conv_id"),
        element_at(array(lit("web"), lit("mobile"), lit("api")),
          (pmod(xxhash64(lit(cfg.seed), lit("ch"), col("conv_seq")), lit(3)) + 1).cast("int"))
          .as("channel"),
        timestamp_seconds(lit(epoch) + pmod(col("conv_seq"), lit(86400L * 30)) * 60L)
          .as("created_ts"))
  }

  /** Planted `search` and `fetch` tool-call args for case `m` in 0..10:
    * m = 0..6 plant one schema fault each (malformed JSON, a non-object, a
    * missing required arg, unknown keys, an enum miss, a wrongly typed
    * value, an out-of-range value), m = 7 is a null payload and m ≥ 8 a
    * clean one. Shared by [[toolCalls]] and the q116 entry, whose oracle
    * rebuilds the same cases.
    */
  def plantedArgs(m: Column): (Column, Column) = {
    val searchArgs = when(m === 0, lit("{\"q\":"))
      .when(m === 1, lit("[1, 2]"))
      .when(m === 2, lit("{}"))
      .when(m === 3, lit("{\"q\":\"a\",\"zz\":2,\"extra\":1}"))
      .when(m === 4, lit("{\"q\":\"a\",\"mode\":\"turbo\"}"))
      .when(m === 5, lit("{\"q\":\"a\",\"limit\":\"many\"}"))
      .when(m === 6, lit("{\"q\":\"a\",\"limit\":1000}"))
      .when(m === 7, lit(null).cast("string"))
      .otherwise(lit("{\"q\":\"a\",\"limit\":7,\"mode\":\"fast\"}"))
    val fetchArgs = when(m === 0, lit("{\"url\":"))
      .when(m === 1, lit("\"str\""))
      .when(m === 2, lit("{\"url\":\"https://e.org/x\"}"))
      .when(m === 3, lit("{\"url\":\"https://e.org/x\",\"method\":\"GET\"," +
        "\"hdrs\":{},\"auth\":1}"))
      .when(m === 4, lit("{\"url\":\"https://e.org/x\",\"method\":\"PUT\"}"))
      .when(m === 5, lit("{\"url\":\"u\",\"method\":\"GET\",\"timeout_ms\":\"soon\"}"))
      .when(m === 6, lit("{\"url\":\"u\",\"method\":\"GET\",\"timeout_ms\":0}"))
      .when(m === 7, lit(null).cast("string"))
      .otherwise(lit("{\"url\":\"u\",\"method\":\"POST\",\"timeout_ms\":500}"))
    (searchArgs, fetchArgs)
  }

  /** Tool-call payload table for `role = 'tool'` turns: (conv_id, turn_idx,
    * tool, args) with per-tool JSON args and planted schema violations at
    * ~8/11 of rows clean (m = xxhash64(seed,"argm",conv_id,turn_idx) mod 11
    * selects the q116 case list for search/fetch; other tools — including
    * the FMT-planted "v1.2" — carry a generic payload, malformed at m = 0,
    * exercising the unknown-tool path where only MALFORMED_ARGS applies).
    * Same no-RNG/no-wall-clock generation contract as [[transcripts]].
    */
  def toolCalls(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    val tt = transcripts(spark, cfg)
      .filter(col("role") === "tool" && col("tool").isNotNull)
    val m = pmod(xxhash64(lit(cfg.seed), lit("argm"),
      col("conv_id"), col("turn_idx")), lit(11))
    val (searchArgs, fetchArgs) = plantedArgs(m)
    val otherArgs = when(m === 0, lit("{")).otherwise(lit("{\"x\":1}"))
    tt.select(col("conv_id"), col("turn_idx"), col("tool"),
      when(col("tool") === "search", searchArgs)
        .when(col("tool") === "fetch", fetchArgs)
        .otherwise(otherArgs).as("args"))
  }
}

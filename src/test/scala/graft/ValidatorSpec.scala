package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Validator
import graft.sources.TranscriptGen

/** End-to-end engine tests on the deterministic synthetic table: planted
  * violation parity, verdict arithmetic, byte-identity of per-turn text, and
  * shuffle/parallelism invariance of the full result set.
  */
class ValidatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = TranscriptGen.Config(nConvs = 800L)
  private lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  private lazy val convs = TranscriptGen.conversations(spark, cfg).cache()
  private lazy val violations = Validator.allViolations(turns, Some(convs)).cache()

  test("each planted family is found, nothing else exists") {
    val found = violations.groupBy("rule_id").count()
      .as[(String, Long)].collect().toMap
    val expectedRules = Set(
      "REQUIRED_NONEMPTY_text", "ENUM_MEMBER_role", "FORMAT_REGEX_tool",
      "URL_FORMAT_text", "LENGTH_MAX_text", "MIN_VALUE_turn_idx",
      "CROSS_FIELD_tool_role", "TS_ORDER_ts", "DUPLICATE_KEY", "ORPHAN_CONV")
    assert(expectedRules.subsetOf(found.keySet),
      s"missing: ${expectedRules -- found.keySet}")
    assert(found.keySet.subsetOf(expectedRules),
      s"unexpected: ${found.keySet -- expectedRules}")
    expectedRules.foreach(r => assert(found(r) > 0, s"$r fired zero times"))
  }

  test("per-row violation count parity with independent predicate recount") {
    def recount(pred: org.apache.spark.sql.Column): Long = turns.filter(pred).count()
    val byRule = violations.groupBy("rule_id").count()
      .as[(String, Long)].collect().toMap
    assert(byRule("REQUIRED_NONEMPTY_text") ===
      recount(col("text").isNull || col("text") === ""))
    assert(byRule("ENUM_MEMBER_role") ===
      recount(col("role").isNotNull &&
        !col("role").isin("system", "user", "assistant", "tool")))
    assert(byRule("LENGTH_MAX_text") === recount(length(col("text")) > 2000))
    assert(byRule("MIN_VALUE_turn_idx") === recount(col("turn_idx") < 0))
  }

  test("duplicate-key parity with plain groupBy recount (salted == unsalted)") {
    // the standalone face and allViolations' merged tail each report
    // exactly the recount's duplicate keys with their row counts, once
    def keyCounts(df: org.apache.spark.sql.DataFrame) = df
      .select(col("conv_id"), col("turn_idx"),
        regexp_extract(col("message"), "^(\\d+) duplicate", 1)
          .cast("long").as("n"))
      .as[(String, Int, Long)].collect().toSeq.sorted
    val expected = turns.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1)
      .as[(String, Int, Long)].collect().toSeq.sorted
    assert(expected.nonEmpty)
    assert(keyCounts(Validator.dupViolations(turns)) === expected)
    assert(keyCounts(violations.filter(col("rule_id") === "DUPLICATE_KEY")) ===
      expected)
  }

  test("hot conversation carries duplicates (skew path exercised)") {
    val hotDups = Validator.dupViolations(turns)
      .filter(col("conv_id") === "c000000000000").count()
    assert(hotDups > 0)
  }

  test("orphan parity with anti-join recount; every orphan conv is absent from dim") {
    val orphans = Validator.orphanViolations(turns, convs)
    val expected = turns.join(convs, Seq("conv_id"), "left_anti").count()
    assert(orphans.count() === expected)
    assert(expected > 0)
    val orphanConvs = orphans.select("conv_id").distinct()
    assert(orphanConvs.join(convs, Seq("conv_id"), "left_semi").count() === 0)
    // allViolations' merged marker join emits exactly the anti-join's rows,
    // here and on a dim with a duplicated and a null conv_id against turns
    // with a null conv_id
    def sameOrphans(t: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame): Long = {
      val merged = Validator.allViolations(t, Some(c))
        .filter(col("rule_id") === "ORPHAN_CONV")
      val anti = Validator.orphanViolations(t, c)
      assert(merged.exceptAll(anti).count() === 0)
      assert(anti.exceptAll(merged).count() === 0)
      anti.count()
    }
    assert(sameOrphans(turns, convs) === expected)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val handTurns = Seq(
      graft.model.Turn("c1", 0, "user", "a", null, ts0, 0),
      graft.model.Turn("c1", 1, "assistant", "b", null, ts0, 0),
      graft.model.Turn("c2", 0, "user", "c", null, ts0, 1),
      graft.model.Turn(null, 0, "user", "d", null, ts0, 1)).toDF()
    val handDim = Seq(Some("c1"), Some("c1"), None).toDF("conv_id")
    assert(sameOrphans(handTurns, handDim) === 2) // c2 and the null conv_id
  }

  test("ts-order parity with window recount (key-level semantics)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val expected = turns
      .withColumn("prev", lag("ts", 1).over(w))
      .filter(col("prev") > col("ts"))
      .select("conv_id", "turn_idx").distinct().count()
    assert(violations.filter(col("rule_id") === "TS_ORDER_ts").count() === expected)
  }

  test("verdicts: valid iff zero issues; counts add up (verification.py:241)") {
    val v = Validator.verdicts(turns, violations).cache()
    val totalViol = v.agg(sum("n_violations")).as[Long].head()
    assert(totalViol === violations.count())
    assert(v.filter(col("status") === "valid" && col("n_violations") > 0).count() === 0)
    assert(v.filter(col("status") === "invalid" && col("n_violations") === 0).count() === 0)
    val totalRows = v.agg(sum("n_rows")).as[Long].head()
    assert(totalRows === turns.count())
  }

  test("violation text is byte-identical to the source turn text") {
    // every per-row violation's text must equal the turn's text exactly
    val joined = Validator.rowViolations(turns)
      .join(turns.select(col("conv_id"), col("turn_idx"),
        col("text").as("orig_text")).distinct(), Seq("conv_id", "turn_idx"))
    val mismatches = joined.filter(
      !(col("text") <=> col("orig_text")) &&
        // duplicate keys may legitimately carry either clone's text
        lit(true)).join(
        turns.groupBy("conv_id", "turn_idx").count().filter(col("count") > 1),
        Seq("conv_id", "turn_idx"), "left_anti")
    assert(mismatches.count() === 0)
  }

  test("result set invariant under repartitioning (determinism at any parallelism)") {
    val a = violations
      .select("conv_id", "turn_idx", "rule_id", "message").collect()
      .map(_.toString).sorted
    val b = Validator.allViolations(turns.repartition(13), Some(convs.repartition(3)))
      .select("conv_id", "turn_idx", "rule_id", "message").collect()
      .map(_.toString).sorted
    assert(a.length === b.length)
    assert(a.sameElements(b))
  }

  test("generator is deterministic: same config twice gives identical bytes") {
    def tableHash(df: org.apache.spark.sql.DataFrame): Long = df
      .select(xxhash64(col("conv_id"), col("turn_idx"), col("role"),
        col("text"), col("tool"), col("ts")).as("h"))
      .agg(expr("bit_xor(h)")).as[Long].head()
    val h1 = tableHash(TranscriptGen.transcripts(spark, cfg))
    val h2 = tableHash(TranscriptGen.transcripts(spark, cfg).repartition(7))
    assert(h1 === h2)
  }

  test("temporalViolations: strict precedence only, exact message, " +
    "differing key names, dangling children skipped (orphan check's job)") {
    val child = Seq(
      (1L, 10, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")), // before
      (1L, 11, java.sql.Timestamp.valueOf("2026-01-02 00:00:00")), // equal
      (1L, 12, java.sql.Timestamp.valueOf("2026-01-03 00:00:00")), // after
      (9L, 13, java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))) // dangling
      .toDF("cid", "idx", "ts")
    val parent = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00")))
      .toDF("pid", "created")
    val got = Validator.temporalViolations(child, parent, "cid", "ts",
        "created", idCols = Seq("cid", "idx"),
        parentKeyCol = Some("pid"))
      .select("cid", "idx", "rule_id", "field", "message")
      .as[(Long, Int, String, String, String)].collect().toSeq
    assert(got === Seq((1L, 10, "TS_BEFORE_PARENT", "ts",
      "ts 2026-01-01 00:00:00 precedes parent created 2026-01-02 00:00:00")))
  }

  test("temporalViolations on the fixture: every violation is a TSO-planted " +
    "turn whose 1-day backshift crossed the conversation's creation") {
    val cfg = TranscriptGen.Config(nConvs = 2000L)
    val turns = TranscriptGen.transcripts(spark, cfg)
    val convs = TranscriptGen.conversations(spark, cfg)
    val v = Validator.temporalViolations(turns, convs, "conv_id", "ts",
      "created_ts", idCols = Seq("conv_id", "turn_idx"))
    val keys = v.select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSet
    assert(keys.nonEmpty, "the TSO plant must produce temporal orphans")
    // every flagged key must be TSO-gated in the generator
    val gated = turns
      .filter(TranscriptGen.gate(cfg, "TSO", expr("CAST(substr(conv_id, 2) AS BIGINT)"),
        col("turn_idx")) && col("turn_idx") > 0)
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    assert(keys.subsetOf(gated), s"non-planted violation: ${keys -- gated}")
  }

  test("cardinalityViolations: childless parents, under- and over-bounded " +
    "counts fire with exact messages; in-range and orphan children do not") {
    val parent = Seq(1L, 2L, 3L, 4L).toDF("pid")
    val child = (Seq.fill(1)(2L) ++ Seq.fill(3)(3L) ++ Seq.fill(5)(4L) ++
      Seq.fill(2)(99L)) // 99 references no parent -> orphan check's job
      .toDF("pid")
    val got = Validator.cardinalityViolations(child, parent, "pid",
        minChildren = 2L, maxChildren = 4L)
      .select("pid", "n_children", "message")
      .as[(Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 0L, "Expected between 2 and 4 children, found 0"),
      (2L, 1L, "Expected between 2 and 4 children, found 1"),
      (4L, 5L, "Expected between 2 and 4 children, found 5")))
  }

  test("fdViolations: holding dependencies emit nothing; violations carry " +
    "the distinct count and lexicographic witnesses; duplicate " +
    "attributions collapse; null is a distinct attribution") {
    val df = Seq(
      (1L, "web"), (1L, "web"), (1L, "web"),       // holds (dups collapse)
      (2L, "web"), (2L, "api"), (2L, "api"),       // violated: 2 values
      (3L, "mob"), (3L, null), (3L, "zzz"))        // null counts as distinct
      .toDF("conv", "channel")
    val got = Validator.fdViolations(df, "conv", "channel")
      .as[(Long, Long, String, String)].collect().toSet
    assert(got === Set(
      (2L, 2L, "api", "web"),
      (3L, 3L, "mob", "zzz")))
  }

  /** Hand-built keys the generator never plants: a duplicate pair with a
    * null turn_idx, rows with a null conv_id, a duplicate key whose copies
    * differ in part_id and text, and duplicate copies on a hot conversation.
    * Copies share their ts and inversions sit on single-copy keys, so the
    * peer order inside the window cannot change any output byte.
    */
  private lazy val adversarial = {
    val t0 = 1767225600000L // 2026-01-01 00:00:00 UTC
    def row(conv: String, idx: Option[Int], sec: Long, text: String,
        part: Int) =
      (conv, idx, "user", text, Option.empty[String],
        new java.sql.Timestamp(t0 + sec * 1000L), part)
    val hot = (0 until 400).map(i =>
      row("hot", Some(i), if (i == 200) 5L else i * 10L, s"h$i", i % 3))
    val hotCopies = Seq(
      row("hot", Some(10), 100L, "h10 copy", 5),
      row("hot", Some(199), 1990L, "h199 copy", 7),
      row("hot", Some(300), 3000L, "h300 copy", 1),
      row("hot", Some(300), 3000L, "h300 copy 2", 4))
    val odd = Seq(
      row("a", None, 50L, "null idx 1", 0),
      row("a", None, 50L, "null idx 2", 1),
      row("a", Some(0), 30L, "a0", 0),
      row(null, Some(0), 20L, "null conv 0", 0),
      row(null, Some(1), 10L, "null conv 1", 1),
      row(null, Some(1), 10L, "null conv 1 copy", 2),
      row("b", Some(0), 60L, "b0", 3),
      row("b", Some(1), 70L, "b1 first", 6),
      row("b", Some(1), 70L, "b1 second", 2),
      row("b", Some(2), 65L, "b2", 3))
    (hot ++ hotCopies ++ odd)
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "part_id")
  }

  /** One 50k-turn conversation (a single task under the conv_id window)
    * beside the generated ones, with ts inversions every 997th turn and
    * at turns 1000 and 32768.
    */
  private lazy val hotConv = {
    val hot = spark.range(50000).select(
      lit("hot_conv").as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      lit("user").as("role"),
      concat(lit("t"), col("id")).as("text"),
      lit(null).cast("string").as("tool"),
      // base: ts = id * 10 s; every 997th turn jumps back 50 s, and turns
      // 1000 and 32768 dip 15 s below their predecessor's ts
      timestamp_seconds(
        col("id") * 10 -
          when(col("id") % 997 === 0 && col("id") > 0, 50).otherwise(0) -
          when(col("id") === 1000 || col("id") === 32768, 15).otherwise(0))
        .as("ts"),
      lit(0).as("part_id"))
    val normal = TranscriptGen.transcripts(spark, cfg)
    normal.unionByName(hot.select(normal.columns.map(col): _*))
  }

  test("merged ts+dup tail is row-identical to the standalone branch " +
      "functions (the shared text-attach optimization changes the plan, " +
      "never a byte)") {
    val cols = Seq("conv_id", "turn_idx", "part_id", "rule_id", "field",
      "message", "text")
    def tsDup(all: org.apache.spark.sql.DataFrame) = all
      .filter(col("rule_id").isin("TS_ORDER_ts", "DUPLICATE_KEY"))
      .select(cols.map(col): _*)
    def branches(t: org.apache.spark.sql.DataFrame) =
      Validator.tsOrderViolations(t)
        .unionByName(Validator.dupViolations(t))
        .select(cols.map(col): _*)
    val advMerged = tsDup(Validator.allViolations(adversarial))
    val hotMerged = tsDup(Validator.allViolations(hotConv))
    Seq("generated" -> (tsDup(violations), branches(turns)),
      "adversarial" -> (advMerged, branches(adversarial)),
      "hot conversation" -> (hotMerged, branches(hotConv)))
      .foreach { case (name, (merged, expected)) =>
        assert(merged.exceptAll(expected).isEmpty &&
          expected.exceptAll(merged).isEmpty, s"$name input")
      }
    // sanity: the planted dip at turn 1000 is found
    assert(hotMerged.filter(col("conv_id") === "hot_conv")
      .select("conv_id", "turn_idx", "message").collect().map(_.toString)
      .exists(_.contains("[hot_conv,1000,")))
    // pins today's null-key behaviour: rows with a null conv_id or
    // turn_idx are dropped at the text-attach join, and (a, 0) is flagged
    // because the null-index rows sort before it in the window
    val got = advMerged
      .select("conv_id", "turn_idx", "part_id", "rule_id", "message", "text")
      .as[(String, Int, Int, String, String, String)].collect().toSet
    assert(got === Set(
      ("hot", 10, 1, "DUPLICATE_KEY",
        "2 duplicate rows for key (conv_id, turn_idx)=(hot, 10)", "h10"),
      ("hot", 199, 1, "DUPLICATE_KEY",
        "2 duplicate rows for key (conv_id, turn_idx)=(hot, 199)", "h199"),
      ("hot", 200, 2, "TS_ORDER_ts",
        "Non-monotonic ts in conv hot at turn 200: " +
          "2026-01-01 00:00:05 < 2026-01-01 00:33:10", "h200"),
      ("hot", 300, 0, "DUPLICATE_KEY",
        "3 duplicate rows for key (conv_id, turn_idx)=(hot, 300)", "h300"),
      ("a", 0, 0, "TS_ORDER_ts",
        "Non-monotonic ts in conv a at turn 0: " +
          "2026-01-01 00:00:30 < 2026-01-01 00:00:50", "a0"),
      ("b", 1, 2, "DUPLICATE_KEY",
        "2 duplicate rows for key (conv_id, turn_idx)=(b, 1)", "b1 first"),
      ("b", 2, 3, "TS_ORDER_ts",
        "Non-monotonic ts in conv b at turn 2: " +
          "2026-01-01 00:01:05 < 2026-01-01 00:01:10", "b2")))
  }
}

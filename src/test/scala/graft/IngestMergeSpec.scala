package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Validator
import graft.ops.{Merge, TextOps}
import graft.sources.{TextIngest, TranscriptGen}

/** Text-corpus ingest (priority sort + budget), priority merge, strict mode,
  * and the remaining reference scalar ops (fence strip, ISO midnight Z).
  */
class IngestMergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("text ingest: stable (priority, path) order, budget truncation") {
    val dir = SparkTestSession.tempDir("graft_ingest")
    def w(name: String, content: String): Unit =
      Files.writeString(dir.resolve(name), content)
    w("zeta.md", "DOC_Z")   // docs first (priority 0), path-ordered
    w("alpha.py", "CODE_A") // then code (priority 1)
    w("beta.bin", "OTHER_B") // then other (priority 2)
    w("aaa.md", "DOC_A")
    val files = TextIngest.readFiles(spark, dir.toString)
    assert(files.count() === 4)
    val combined = TextIngest.combine(files).collect()(0)
    assert(combined.getAs[Int]("n_files") === 4)
    // reference sort_files_by_priority: (extension_priority, path) stable
    assert(combined.getAs[String]("combined_text") ===
      "DOC_A\nDOC_Z\nCODE_A\nOTHER_B")
    // reduce_input_size analog: budget cuts the tail
    val cut = TextIngest.combine(files, charBudget = 7).collect()(0)
    assert(cut.getAs[String]("combined_text") === "DOC_A\nD")
    // token-budget form (genai_model.py:131 call site): cuts on TOKEN
    // boundaries — "DOC_A\nDOC_Z..." tokenizes [DOC][_][A][\n][DOC]…, so a
    // 5-token budget keeps exactly "DOC_A\nDOC" and never splits a token
    val tok = TextIngest.combineTokenBudget(files, tokenBudget = 5).collect()(0)
    assert(tok.getAs[String]("combined_text") === "DOC_A\nDOC")
    val full = TextIngest.combineTokenBudget(files, tokenBudget = 1000).collect()(0)
    assert(full.getAs[String]("combined_text") === "DOC_A\nDOC_Z\nCODE_A\nOTHER_B")
  }

  test("priority merge: primary wins, secondary fills absent keys (utils.py:55-62)") {
    val primary = Seq((1L, "gimie1"), (3L, "gimie3")).toDF("k", "v")
    val secondary = Seq((1L, "llm1"), (2L, "llm2"), (3L, null: String))
      .toDF("k", "v")
    val m = Merge.priorityMerge(primary, secondary, "k")
      .orderBy("k").as[(Long, String)].collect()
    assert(m.toSeq === Seq((1L, "gimie1"), (2L, "llm2"), (3L, "gimie3")))
  }

  test("strict mode throws on first violation with byte-matched message") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val bad = Seq(("c1", 0, "user", null: String, null: String, ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .withColumn("part_id", lit(0))
    val e = intercept[IllegalStateException](Validator.validateStrict(bad))
    assert(e.getMessage.startsWith("Missing required field: text"))
    // clean data passes silently
    val clean = Seq(("c1", 0, "user", "hi", null: String, ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .withColumn("part_id", lit(0))
    Validator.validateStrict(clean)
  }

  test("fence strip (utils.py:20-27) and ISO midnight Z (models.py:398-401)") {
    val r = Seq(
      ("```json\n{\"a\": 1}\n```", "2026-03-05 10:30:00"),
      ("no fences", "2026-12-31 23:59:59")
    ).toDF("s", "d")
      .select(
        TextOps.stripCodeFences(col("s")).as("clean"),
        TextOps.isoMidnightZ(col("d").cast("timestamp")).as("iso"))
      .as[(String, String)].collect()
    assert(r(0) === (("{\"a\": 1}", "2026-03-05T00:00:00Z")))
    assert(r(1) === (("no fences", "2026-12-31T00:00:00Z")))
  }

  test("invalid_fields map per conversation (verification.py:13 analog)") {
    val cfg = TranscriptGen.Config(nConvs = 300L)
    val turns = TranscriptGen.transcripts(spark, cfg)
    val viol = Validator.rowViolations(turns)
    val m = Validator.invalidFieldsMap(viol)
    assert(m.count() === viol.select("conv_id").distinct().count())
    val one = m.limit(1).collect()(0)
    val fields = one.getAs[Map[String, String]]("invalid_fields")
    assert(fields.nonEmpty)
  }

  test("combined text write + null-dropping JSON form") {
    val dir = SparkTestSession.tempDir("graft_wt")
    Files.writeString(dir.resolve("a.md"), "HELLO")
    val combined = TextIngest.combine(TextIngest.readFiles(spark, dir.toString))
    val out = SparkTestSession.tempDir("graft_wt_out").toString + "/txt"
    TextIngest.writeText(combined, out)
    assert(spark.read.text(out).as[String].collect().mkString === "HELLO")
    val js = Seq((1, null: String, "x")).toDF("a", "b", "c")
      .select(TextOps.toCleanJson(struct(col("a"), col("b"), col("c"))))
      .as[String].head()
    assert(js === """{"a":1,"c":"x"}""") // null field dropped (models.py:419)
  }

  test("custom expressions callable from SQL after registration") {
    graft.functions.Registry.registerAll(spark)
    val r = spark.sql(
      "SELECT round(cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6) c, " +
        "dot_product(array(2.0d, 3.0d), array(4.0d, 5.0d)) d").collect()(0)
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 23.0)
    val q = spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) x")
      .selectExpr("tdigest_quantiles(x, array(0.5d)) q").collect()(0)
      .getSeq[Double](0)
    assert(math.abs(q.head - 500) < 25)
  }

  test("contains-substring + date-format check kinds (license/date analogs)") {
    import graft.checks.{ContainsSubstring, DateFormat}
    val df = Seq(
      ("https://spdx.org/licenses/MIT", "2026-01-02"),
      ("https://example.org/custom", "01/02/2026"),
      (null: String, null: String),
      ("", "")
    ).toDF("license", "created")
    val lic = ContainsSubstring("license", "spdx.org/licenses/",
      "License is not a valid SPDX URL: ")
    val dt = DateFormat("created")
    val flags = df.select(
      coalesce(lic.violated, lit(false)).as("l"),
      coalesce(dt.violated, lit(false)).as("d"),
      when(lic.violated, lic.message).as("lm"))
      .collect()
    assert(flags.map(_.getBoolean(0)).toSeq === Seq(false, true, false, false))
    assert(flags.map(_.getBoolean(1)).toSeq === Seq(false, true, false, false))
    assert(flags(1).getString(2) ===
      "License is not a valid SPDX URL: https://example.org/custom")
  }
}

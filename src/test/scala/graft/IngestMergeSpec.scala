package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Validator
import graft.ops.{Merge, TextOps}
import graft.sources.TranscriptGen

/** Priority merge, strict mode, and the remaining reference scalar ops
  * (ISO midnight Z, null-dropping JSON).
  */
class IngestMergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

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

  test("ISO midnight Z (models.py:398-401)") {
    val r = Seq("2026-03-05 10:30:00", "2026-12-31 23:59:59").toDF("d")
      .select(TextOps.isoMidnightZ(col("d").cast("timestamp")).as("iso"))
      .as[String].collect().toSeq
    assert(r === Seq("2026-03-05T00:00:00Z", "2026-12-31T00:00:00Z"))
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

  test("null-dropping JSON form (models.py:419)") {
    val js = Seq((1, null: String, "x")).toDF("a", "b", "c")
      .select(TextOps.toCleanJson(struct(col("a"), col("b"), col("c"))))
      .as[String].head()
    assert(js === """{"a":1,"c":"x"}""") // null field dropped
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

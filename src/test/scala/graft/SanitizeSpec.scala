package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Sanitizer, Validator}
import graft.sources.TranscriptGen

/** Sanitization rewrite (reference verification.py:175-222) + property-style
  * invariants swept over parameter grids (the scalatest-scalacheck bridge is
  * not in the offline cache, so properties run as deterministic sweeps).
  */
class SanitizeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sanitize nulls fields with failed format checks, keeps clean values") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val df = Seq(
      ("c1", 0, "operator", "keep me", "v1.2", ts),  // bad role + bad tool
      ("c2", 0, "user", "clean text", null: String, ts),
      ("c3", 0, "user", "", null: String, ts)        // empty sweep
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .withColumn("part_id", lit(0))
    val out = Sanitizer.sanitize(df).orderBy("conv_id").collect()
    assert(out(0).isNullAt(2)); assert(out(0).isNullAt(4)) // role, tool nulled
    assert(out(0).getString(3) === "keep me")               // text untouched
    assert(out(1).getString(2) === "user")                  // clean row intact
    assert(out(2).isNullAt(3))                              // "" swept to null
  }

  test("property: sanitize-then-validate fires only required/missing-side rules") {
    for ((nConvs, rate) <- Seq((100L, 50), (250L, 100), (400L, 150))) {
      val cfg = TranscriptGen.Config(nConvs = nConvs, plantRate = rate)
      val turns = TranscriptGen.transcripts(spark, cfg)
      val revalidated = Validator.rowViolations(Sanitizer.sanitize(turns))
      val rules = revalidated.select("rule_id").distinct().as[String].collect().toSet
      val allowed = Set(
        "REQUIRED_NONEMPTY_text", "REQUIRED_NONEMPTY_role",
        "REQUIRED_NONEMPTY_conv_id", "REQUIRED_NONEMPTY_ts",
        "URL_FORMAT_text",        // fire-on-null quirk: nulled text re-fires it
        "CROSS_FIELD_tool_role")  // nulled tool on a tool-role turn
      assert(rules.subsetOf(allowed), s"format rules survived: ${rules -- allowed}")
    }
  }

  test("property: violation totals scale ~linearly with plant rate inverse") {
    val counts = Seq(100, 400).map { rate =>
      val cfg = TranscriptGen.Config(nConvs = 600L, plantRate = rate)
      val turns = TranscriptGen.transcripts(spark, cfg)
      rate -> Validator.rowViolations(turns).count()
    }.toMap
    // 4x rarer plants -> roughly a quarter of the violations (loose band)
    val ratio = counts(100).toDouble / math.max(counts(400), 1L)
    assert(ratio > 2.0 && ratio < 8.0, s"ratio $ratio, counts $counts")
  }

  test("property: dedup correct under arbitrary salt factors") {
    // the salt is gone; the property now ranges over generator seeds
    for (seed <- Seq(1L, 7L, 128L)) {
      val cfg = TranscriptGen.Config(nConvs = 300L, seed = seed)
      val turns = TranscriptGen.transcripts(spark, cfg)
      val expected = turns.groupBy("conv_id", "turn_idx").count()
        .filter(col("count") > 1).count()
      assert(Validator.dupViolations(turns).count() === expected,
        s"seed $seed")
    }
  }
}

package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Stats
import graft.sources.JsonlIngest

/** Audited JSONL ingestion (clean/corrupt split against an explicit
  * schema) and the metadata-only schema-drift audit.
  */
class IngestAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("score", DoubleType)))

  private def writeJsonl(lines: Seq[String]): String = {
    val dir = SparkTestSession.tempDir("graft_jsonl")
    java.nio.file.Files.writeString(dir.resolve("part-0.jsonl"),
      lines.mkString("\n"))
    dir.toString
  }

  test("readAudited: clean rows parse typed; truncated and non-object " +
    "lines land in the corrupt audit with the raw line preserved") {
    val path = writeJsonl(Seq(
      """{"id": 1, "text": "ok", "score": 0.5}""",
      """{"id": 2, "text": "also ok"}""",      // missing field -> null, clean
      """{"id": 3, "text": "broken""",          // truncated
      """[1, 2, 3]""",                          // not an object
      """{"id": 5, "text": "fine", "score": 1.25}"""))
    val (clean, corrupt) = JsonlIngest.readAudited(spark, path, schema)
    val cleanRows = clean.as[(Option[Long], String, Option[Double])]
      .collect().sortBy(_._1)
    assert(cleanRows.map(_._1.get).toSeq === Seq(1L, 2L, 5L))
    assert(cleanRows(1)._3 === None, "absent field is null, not corrupt")
    assert(!clean.columns.contains(JsonlIngest.corruptCol))
    val bad = corrupt.as[String].collect().sorted
    assert(bad.length === 2)
    assert(bad.exists(_.startsWith("""{"id": 3""")), s"raw line kept: $bad")
    assert(bad.contains("[1, 2, 3]"))
  }

  test("ingestReport: exact integer corrupt ppm") {
    val path = writeJsonl(Seq(
      """{"id": 1, "text": "a", "score": 0.1}""",
      """{"id": 2, "text": "b", "score": 0.2}""",
      """{"id": 3 broken"""))
    val Seq((n, c, ppm)) = JsonlIngest.ingestReport(spark, path, schema)
      .as[(Long, Long, Long)].collect().toSeq
    assert((n, c, ppm) === ((2L, 1L, 333333L)))
  }

  test("schemaDiff: added/removed/type_changed, metadata-only, sorted; " +
    "identical schemas diff to zero rows") {
    val a = Seq((1L, "x", 0.5)).toDF("id", "text", "score")
    val b = Seq((1L, 2, "en", true)).toDF("id", "score", "lang", "flag")
    val d = Stats.schemaDiff(a, b)
      .as[(String, String, Option[String], Option[String])].collect().toSeq
    assert(d === Seq(
      ("flag", "added", None, Some("BOOLEAN")),
      ("lang", "added", None, Some("STRING")),
      ("text", "removed", Some("STRING"), None),
      ("score", "type_changed", Some("DOUBLE"), Some("INT"))))
    assert(Stats.schemaDiff(a, a).count() === 0)
  }
}

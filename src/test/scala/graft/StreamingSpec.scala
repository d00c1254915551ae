package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Turn
import graft.streaming.StreamValidator

/** Streaming path: the batch validator's rules over a MemoryStream-driven
  * micro-batch, results observed through an in-memory sink.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: Int) =
    java.sql.Timestamp.valueOf(f"2026-01-01 00:${s / 60}%02d:${s % 60}%02d")

  test("violations stream finds planted rows, passes clean ones") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    input.addData(
      Turn("c1", 0, "user", "hello", null, ts(0), 0),
      Turn("c1", 1, "operator", "bad role", null, ts(5), 0), // enum violation
      Turn("c2", 0, "user", "", null, ts(0), 1))             // required violation
    val stream = StreamValidator.violations(input.toDF())
    // one schema for stream and batch sinks
    assert(stream.columns.toSeq === graft.engine.Validator.violationCols)
    val q = stream
      .writeStream.format("memory").queryName("viol_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rules = spark.table("viol_out")
      .select("rule_id").as[String].collect().sorted
    assert(rules.toSeq === Seq("ENUM_MEMBER_role", "REQUIRED_NONEMPTY_text"))
  }

  /** A violation row, in `Validator.violationCols` order. */
  private type Row7 = (String, Int, Int, String, String, String, String)

  /** Feed `batches` to [[StreamValidator.statefulTsOrder]] one micro-batch
    * each; returns its rows and the batch validator's rows over all of them.
    */
  private def tsOrderBothWays(name: String, batches: Seq[Seq[Turn]])
      : (Seq[Row7], Seq[Row7]) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamValidator.statefulTsOrder(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(graft.engine.Validator.violationCols.map(df.col): _*)
        .as[Row7].collect().toSeq.sorted
    (rows(spark.table(name)),
      rows(graft.engine.Validator.tsOrderViolations(batches.flatten.toDF())))
  }

  test("stateful ts-order catches CROSS-micro-batch inversions, " +
    "messages byte-match the batch validator") {
    // batch 1: conv c1 turns 0,1 in order — carries state (1, ts(60));
    // batch 2: turn 2 arrives with ts BEFORE batch 1's last — only the
    // carried state can see the inversion (a per-batch window would not)
    val (got, batch) = tsOrderBothWays("order_out", Seq(
      Seq(Turn("c1", 0, "user", "a", null, ts(0), 0),
        Turn("c1", 1, "assistant", "b", null, ts(60), 0)),
      Seq(Turn("c1", 2, "user", "c", null, ts(30), 0),
        Turn("c2", 0, "user", "d", null, ts(0), 1)))) // clean other conv
    assert(got.map(r => (r._1, r._2)) === Seq(("c1", 2)))
    assert(got === batch)
    // the message renders ts in the session time zone, fractions included
    def at(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val (gotLa, batchLa) = tsOrderBothWays("order_out_la", Seq(
        Seq(Turn("c3", 0, "user", "e", null, at("2026-01-01T10:00:00.5Z"), 2),
          Turn("c3", 1, "assistant", "f", null,
            at("2026-01-01T10:00:01.75Z"), 2)),
        Seq(Turn("c3", 2, "user", "g", null,
          at("2026-01-01T10:00:00.125Z"), 2))))
      assert(gotLa.map(_._6) === Seq("Non-monotonic ts in conv c3 at turn 2: " +
        "2026-01-01 02:00:00.125 < 2026-01-01 02:00:01.75"))
      assert(gotLa === batchLa)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.checks.{Check, Checks}
import graft.engine.Validator

/** Typed rows for the stateful streaming path. */
final case class StreamTurn(
    conv_id: String, turn_idx: Int, part_id: Int, text: String,
    ts: java.sql.Timestamp)

/** Per-conversation order state carried across micro-batches. */
final case class ConvOrderState(lastTurnIdx: Int, lastTsMicros: Long)

/** A turn whose ts precedes its predecessor's, which may have arrived in an
  * earlier micro-batch (`prev_ts_micros` is the carried state's ts).
  */
final case class StreamTsInversion(
    conv_id: String, turn_idx: Int, part_id: Int, text: String,
    ts: java.sql.Timestamp, prev_ts_micros: Long)

/** Streaming validation: the batch [[Validator]]'s rules over a
  * `readStream` of transcript appends (SURVEY.md §2.10 stance — the batch
  * `Column` predicates and messages transfer unchanged).
  *
  * Usage:
  * {{{
  *   val stream = spark.readStream.schema(turnSchema).parquet(in)
  *   StreamValidator.violations(stream)
  *     .writeStream.format("parquet").option("path", out)
  *     .option("checkpointLocation", ck).trigger(Trigger.AvailableNow).start()
  * }}}
  * `Trigger.AvailableNow` + checkpoint gives the incremental
  * re-validation-of-new-data mode (batch-over-new-appends) described in
  * SURVEY.md §7.3 without a long-running cluster.
  */
object StreamValidator {

  /** Stateless per-row violation stream: [[Validator.rowViolations]]
    * itself, safe in append mode; stream and batch sinks share one schema.
    */
  def violations(
      stream: DataFrame,
      checks: Seq[Check] = Checks.transcriptChecks): DataFrame =
    Validator.rowViolations(stream, checks)

  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** STATEFUL cross-batch ts-order check — the piece the stateless stream
    * cannot express: a conversation's turns may arrive across micro-batches,
    * and "is this turn's ts ≥ the previous turn's" needs the previous
    * batch's last (turn_idx, ts) per conversation. Custom state via
    * `flatMapGroupsWithState` (the sanctioned Structured Streaming state
    * API; the zero-row-UDF policy governs the codegen'd CHECK hot path —
    * streaming state is the documented exception, SURVEY.md §2.10):
    *
    *  - state per conv_id: (lastTurnIdx, lastTsMicros) — 12 bytes of state
    *    per live conversation, not the turns themselves;
    *  - event-time timeout evicts conversations `stateGapMs` past the
    *    watermark, bounding total state at (live convs in the gap window);
    *  - the state function emits only the violating pair; `rule_id`,
    *    `field` and `message` are the batch validator's own columns, so
    *    the bytes match it in every session time zone (spec-asserted).
    *
    * In-batch ordering is (turn_idx, ts) — same key-level semantics as the
    * batch window variant for unique keys.
    */
  def statefulTsOrder(
      stream: DataFrame,
      watermark: String = "30 minutes",
      stateGapMs: Long = 60L * 60 * 1000): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark("ts", watermark)
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("text"),
        col("ts"))
      .as[StreamTurn]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvOrderState, StreamTsInversion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[StreamTurn],
         state: GroupState[ConvOrderState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val turns = rows.toArray.sortBy(t => (t.turn_idx, tsMicros(t.ts)))
            if (turns.isEmpty) Iterator.empty
            else {
              var lastTs =
                state.getOption.map(_.lastTsMicros).getOrElse(Long.MinValue)
              val out =
                scala.collection.mutable.ArrayBuffer[StreamTsInversion]()
              turns.foreach { t =>
                val m = tsMicros(t.ts)
                if (lastTs != Long.MinValue && lastTs > m)
                  out += StreamTsInversion(
                    t.conv_id, t.turn_idx, t.part_id, t.text, t.ts, lastTs)
                lastTs = m
              }
              state.update(ConvOrderState(turns.last.turn_idx, lastTs))
              val maxEventMs = turns.map(_.ts.getTime).max
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs(), maxEventMs) + stateGapMs)
              out.iterator
            }
          }
      }
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("text"),
        struct(col("ts"), timestamp_micros(col("prev_ts_micros")).as("prev_ts"))
          .as("p"))
      .select(Seq(col("conv_id"), col("turn_idx"), col("part_id")) ++
        Validator.tsOrderRule :+ col("text"): _*)
  }
}

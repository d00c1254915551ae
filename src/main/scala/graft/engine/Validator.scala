package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.checks.{Check, Checks}

/** The distributed replay of the reference's soft-path validator
  * (`Verification.run`, reference `src/core/verification.py:15-28`): collect
  * typed violations per turn, never throw; verdict per partition is
  * `"valid"` iff zero issues (`verification.py:241`). The strict mode of the
  * reference (pydantic constructor throws, `models.py:184-266` via
  * `api.py:32`) maps to `failFast`, which raises on the first violation.
  */
object Validator {

  val violationCols: Seq[String] =
    Seq("conv_id", "turn_idx", "part_id", "rule_id", "field", "message", "text")

  /** Per-row checks compiled to one projection + explode, both inside the
    * scan's whole-stage-codegen pipeline; reads only the columns the catalog
    * references (Catalyst prunes the rest through the scan).
    */
  def rowViolations(
      turns: DataFrame,
      checks: Seq[Check] = Checks.transcriptChecks): DataFrame = {
    turns
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"), col("text"),
        explode(Checks.violationsArray(checks)).as("v"))
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        col("v.rule_id").as("rule_id"),
        col("v.field").as("field"),
        col("v.message").as("message"),
        col("text"))
  }

  /** Conversation-level cross-row checks (SURVEY.md §2.6): timestamp
    * monotonicity via `lag(ts)` over `(conv_id ordered by turn_idx)`.
    *
    * The window shuffles only NARROW columns (conv_id, turn_idx, part_id,
    * ts) — `text` dominates row bytes and shuffling it made this branch the
    * pipeline's bottleneck (measured: zero speedup 8→32 cores, IO-bound).
    * The kept row's text is attached afterwards by joining the rare
    * violating keys back (AQE broadcasts them), the same text attach as
    * [[dupViolations]]. Violations are key-level: at most one TS_ORDER row
    * per (conv_id, turn_idx), with the lexicographically first
    * (ts, prev_ts) pair in the message for determinism under duplicate
    * keys.
    */
  def tsOrderViolations(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val badKeys = turns
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"))
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"),
        lag("ts", 1).over(w).as("prev_ts"))
      .filter(col("prev_ts").isNotNull && col("prev_ts") > col("ts"))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(min("part_id").as("part_id"),
        min(struct(col("ts"), col("prev_ts"))).as("p"))
    withText(badKeys, turns)
      .select(Seq(col("conv_id"), col("turn_idx"), col("part_id")) ++
        tsOrderRule :+ col("text"): _*)
  }

  /** Kept only for the frozen `Bench` skew block, whose JSON still reports
    * a "seg" timing: delegates to [[tsOrderViolations]] and ignores
    * `segSize`. No other code may call it.
    */
  private[graft] def tsOrderViolationsSegmented(
      turns: DataFrame, segSize: Int = 1 << 16): DataFrame =
    tsOrderViolations(turns)

  /** The key-level checks' shared text attach: join the violating keys back
    * to `text` (rare keys — AQE broadcasts) and take, per key, the `min` of
    * `text` and of every other column of `badKeys`.
    */
  private def withText(badKeys: DataFrame, turns: DataFrame): DataFrame = {
    val keys = Seq("conv_id", "turn_idx")
    val aggs = (badKeys.columns.toSeq.filterNot(keys.contains) :+ "text")
      .map(c => min(c).as(c))
    turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .join(badKeys, keys)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** `rule_id`, `field` and `message` of a TS_ORDER_ts violation, from the
    * key and its first violating pair `p = (ts, prev_ts)`. Shared by every
    * ts-order face, the streaming one included, so their bytes cannot
    * drift apart.
    */
  private[graft] def tsOrderRule: Seq[Column] = Seq(
    lit("TS_ORDER_ts").as("rule_id"),
    lit("ts").as("field"),
    format_string("Non-monotonic ts in conv %s at turn %d: %s < %s",
      col("conv_id"), col("turn_idx"),
      col("p.ts").cast("string"), col("p.prev_ts").cast("string"))
      .as("message"))

  /** `rule_id`, `field` and `message` of a DUPLICATE_KEY violation, from the
    * key and its row count `n`. Shared like [[tsOrderRule]].
    */
  private def dupKeyRule: Seq[Column] = Seq(
    lit("DUPLICATE_KEY").as("rule_id"),
    lit("conv_id,turn_idx").as("field"),
    format_string("%d duplicate rows for key (conv_id, turn_idx)=(%s, %d)",
      col("n"), col("conv_id"), col("turn_idx")).as("message"))

  /** `(conv_id, turn_idx)` uniqueness (SURVEY.md §2.5): one groupBy on the
    * key over NARROW columns, so both aggregate phases stay HashAggregate
    * with a map-side partial combine (min(text) here would demote the hot
    * path to SortAggregate, see PlanSpec). The key is not hot under a hot
    * conversation, and the partial combine collapses a repeated key before
    * the shuffle, so no salt is needed. The kept row's text is attached
    * afterwards over the rare duplicate keys only. The single-root /
    * exactly-one analog of reference `models.py:284-290`.
    */
  def dupViolations(turns: DataFrame): DataFrame = {
    val dupKeys = turns
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(count(lit(1)).as("n"), min("part_id").as("part_id"))
      .filter(col("n") > 1)
    withText(dupKeys, turns)
      .select(Seq(col("conv_id"), col("turn_idx"), col("part_id")) ++
        dupKeyRule :+ col("text"): _*)
  }

  /** ORPHAN_CONV as a compiled row check over the `__dim` marker of an
    * existence join against the dim's keys (false: no dim row, or a null
    * `conv_id`).
    */
  private val orphanCheck: Check = new Check {
    val ruleId = "ORPHAN_CONV"
    val field = "conv_id"
    def violated: Column = !col("__dim")
    def message: Column =
      format_string("Dangling conv_id reference: %s", col("conv_id"))
  }

  /** The stats gate for a join side meant to be small: hint `df` for
    * broadcast when its optimizer-estimated size fits `budget`, else leave
    * the strategy to the planner (SMJ/shuffled-hash, SURVEY.md §2.4). The
    * referential checks gate the dim with it, and the ANN joins their query
    * side, so an oversized frame degrades to a shuffle join instead of
    * OOMing the driver building the broadcast.
    */
  private[graft] def broadcastIfFits(
      df: DataFrame, budget: Long = 64L << 20): DataFrame =
    if (fitsBroadcast(df, 1, budget)) broadcast(df) else df

  /** The gate of [[broadcastIfFits]] for a frame that will fan out to
    * `fanOut` rows per row: Spark gives a `Generate` its child's row
    * count, so a frame is sized BEFORE its explode, times the fan-out.
    */
  private[graft] def fitsBroadcast(
      df: DataFrame, fanOut: Int, budget: Long = 64L << 20): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes * fanOut <= budget

  /** Referential integrity of `conv_id` against the conversations dim — the
    * engine surfaces what the reference silently drops (dangling `@id` refs,
    * `models.py:246`). A standalone anti-join, the reference the merged
    * check in [[allViolations]] is compared against; same rule and message.
    */
  def orphanViolations(
      turns: DataFrame,
      conversations: DataFrame,
      broadcastThresholdBytes: Long = 64L << 20): DataFrame =
    turns
      .join(broadcastIfFits(conversations.select("conv_id"),
        broadcastThresholdBytes), Seq("conv_id"), "left_anti")
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        lit(orphanCheck.ruleId).as("rule_id"),
        lit(orphanCheck.field).as("field"),
        orphanCheck.message.as("message"),
        col("text"))

  /** Cross-table temporal consistency — the referential check's TIME
    * axis: a child row whose event time precedes its parent's creation
    * time is as broken a reference as a dangling key (a turn before its
    * conversation existed, a shipment before its order). Generic over any
    * (child, parent, key, two timestamp-ish columns); emits one violation
    * row per offending CHILD row with both times in the message.
    *
    * Scale shape = [[orphanViolations]]: the parent side reduces to
    * (key, ts) in its scan projection and the join strategy is driven by
    * the same stats gate; the child's payload columns never widen the
    * join — only `idCols` and the timestamp ride it.
    *
    * A duplicate-keyed parent (the corruption the DUPLICATE_KEY check
    * hunts) is pre-aggregated to its EARLIEST timestamp, so each offending
    * child emits exactly one row and only when it precedes EVERY copy —
    * the conservative reading; a clean dimension is unaffected.
    */
  def temporalViolations(
      child: DataFrame,
      parent: DataFrame,
      keyCol: String,
      childTsCol: String,
      parentTsCol: String,
      idCols: Seq[String],
      ruleId: String = "TS_BEFORE_PARENT",
      parentKeyCol: Option[String] = None): DataFrame = {
    val dim = parent
      .select(col(parentKeyCol.getOrElse(keyCol)).as(keyCol),
        col(parentTsCol).as("__pts"))
      .groupBy(keyCol).agg(min("__pts").as("__pts"))
    child
      .select((keyCol +: idCols).distinct.map(col) :+
        col(childTsCol).as("__cts"): _*)
      .join(broadcastIfFits(dim), Seq(keyCol))
      .filter(col("__cts") < col("__pts"))
      .select((keyCol +: idCols).distinct.map(col) ++ Seq(
        lit(ruleId).as("rule_id"),
        lit(childTsCol).as("field"),
        // concat, not format_string: caller-supplied column names must be
        // data, never a printf template ('%' in a name would throw)
        concat(lit(childTsCol + " "), col("__cts").cast("string"),
          lit(s" precedes parent $parentTsCol "),
          col("__pts").cast("string")).as("message")): _*)
  }

  /** Referential cardinality check — pydantic's `min_items`/`max_items`
    * list-shape constraint (the reference's version-list rule,
    * `verification.py:140-144`) lifted to TABLE grain: every parent must
    * own between `minChildren` and `maxChildren` child rows, childless
    * parents included (the LEFT join + coalesce-0 that a child-side
    * groupBy alone can never see). Children referencing nonexistent
    * parents are the orphan check's finding, not this rule's — one rule,
    * one cause.
    *
    * Scale shape: the child reduces to its key column at the scan and one
    * partial-combined count; both join sides are narrow keyed rows, so
    * the join never carries payload at any scale.
    */
  def cardinalityViolations(
      child: DataFrame,
      parent: DataFrame,
      keyCol: String,
      minChildren: Long,
      maxChildren: Long,
      ruleId: String = "CHILD_COUNT",
      parentKeyCol: Option[String] = None): DataFrame = {
    require(minChildren >= 0 && minChildren <= maxChildren,
      "0 <= minChildren <= maxChildren")
    val counts = child.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"))
    val n = coalesce(col("__n"), lit(0L))
    parent.select(col(parentKeyCol.getOrElse(keyCol)).as(keyCol))
      .join(counts, Seq(keyCol), "left")
      .filter(n < minChildren || n > maxChildren)
      .select(col(keyCol), n.as("n_children"),
        lit(ruleId).as("rule_id"),
        concat(lit(s"Expected between $minChildren and $maxChildren " +
          "children, found "), n.cast("string")).as("message"))
  }

  /** Functional-dependency audit — "does A determine B?" at table grain:
    * one row per determinant value bound to MORE than one distinct
    * dependent value, with the count and the lexicographic witness pair.
    * The schema-consistency check behind denormalized corpora (a conv_id
    * mapping to two channels, a doc_id to two languages) — violations
    * here mean upstream joins or merges disagree about an attribute.
    *
    * Scale shape: one partial-combined groupBy on (det, dep) collapses
    * duplicate attributions BEFORE the per-determinant reduce, so a
    * billion rows re-asserting the same (id, value) cross the wire once;
    * the second aggregate sees at most |distinct pairs| rows.
    */
  def fdViolations(
      df: DataFrame, detCol: String, depCol: String): DataFrame =
    df
      .groupBy(col(detCol), col(depCol))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(detCol))
      .agg(count(lit(1)).as("n_distinct_dep"),
        min(col(depCol).cast("string")).as("dep_min"),
        max(col(depCol).cast("string")).as("dep_max"))
      .filter(col("n_distinct_dep") > 1)

  /** Per-conversation `invalid_fields` map — reference `verification.py:13`
    * + its `invalid_fields[field] = reason` updates: field → first reason,
    * assembled with `map_from_entries(collect_list(...))` (SURVEY.md §2.5).
    * First = lexicographically-first message for determinism (the reference
    * keeps the last write; rule order is fixed so both are stable).
    */
  def invalidFieldsMap(
      violations: DataFrame, keyCol: String = "conv_id"): DataFrame =
    violations
      .groupBy(col(keyCol), col("field"))
      .agg(min("message").as("reason"))
      .groupBy(col(keyCol))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("field"), col("reason")))))
        .as("invalid_fields"))

  /** Strict mode — the reference's pydantic-constructor path
    * (`models.py:184-266` via `api.py:32`): the first violation aborts the
    * run with its byte-matched message instead of being collected
    * (SURVEY.md §3.2 — same predicates, different sink handling; the HTTP
    * 400 analog, `api.py:85-89`).
    */
  def validateStrict(
      turns: DataFrame,
      conversations: Option[DataFrame] = None,
      checks: Seq[Check] = Checks.transcriptChecks): Unit = {
    // Deterministic first violation: total order on (conv_id, turn_idx,
    // rule_id). orderBy+limit(1) plans as TakeOrderedAndProject — per-
    // partition top-1 then a driver merge of K candidate rows, NOT a global
    // sort shuffle, so the strict gate stays cheap at scale.
    val first = allViolations(turns, conversations, checks, sortOutput = false)
      .orderBy("conv_id", "turn_idx", "rule_id").limit(1).collect()
    if (first.nonEmpty) {
      val r = first(0)
      throw new IllegalStateException(
        s"${r.getAs[String]("message")} " +
          s"(rule=${r.getAs[String]("rule_id")}, conv_id=${r.getAs[String]("conv_id")}, " +
          s"turn_idx=${r.getAs[Int]("turn_idx")})")
    }
  }

  /** Merged tail of [[tsOrderViolations]] + [[dupViolations]] for
    * [[allViolations]], row-identical to them (asserted in ValidatorSpec).
    * Duplicate keys are peers in the ts-order window's key order, so a
    * peer-range `count(1)` beside `lag(ts)` finds them in ONE window. The
    * rare surviving rows join `text` first, so one per-key `groupBy` takes
    * both rules' minima and the kept text: a minimum over the join equals
    * the minimum over the window rows, whatever a key's multiplicity. Null
    * keys drop at that join, as in the standalone faces.
    */
  private def tsDupViolations(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val tsBad = col("prev_ts").isNotNull && col("prev_ts") > col("ts")
    val keys = Seq("conv_id", "turn_idx")
    turns
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"),
        lag("ts", 1).over(w).as("prev_ts"),
        count(lit(1)).over(w.rangeBetween(Window.currentRow, Window.currentRow))
          .as("n"))
      .filter(tsBad || col("n") > 1)
      .join(turns.select(col("conv_id"), col("turn_idx"), col("text")), keys)
      .groupBy(keys.map(col): _*)
      .agg(min(when(tsBad, col("part_id"))).as("ts_pid"),
        min(when(tsBad, struct(col("ts"), col("prev_ts")))).as("p"),
        min("part_id").as("dup_pid"), max("n").as("n"), min("text").as("text"))
      .select(col("conv_id"), col("turn_idx"), col("text"),
        explode(array(
          when(col("p").isNotNull,
            struct(col("ts_pid").as("part_id") +: tsOrderRule: _*)),
          when(col("n") > 1,
            struct(col("dup_pid").as("part_id") +: dupKeyRule: _*))))
          .as("v"))
      .filter(col("v").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("v.*"), col("text"))
  }

  /** Full violations table: per-row ∪ window ∪ dedup ∪ referential, in the
    * stable `(conv_id, turn_idx)` sort-within-partitions output ordering
    * mandated by the north star (no global sort — no extra shuffle).
    *
    * Scale note — each branch re-reads the source pruned to its own columns
    * instead of sharing one repartition(conv_id) exchange, which on a 100 TB
    * table would ship `text`, the dominant bytes, once per consumer. The
    * row checks never shuffle; the key window shuffles only (conv_id,
    * turn_idx, part_id, ts) and runs a hot conversation in one task:
    * on a 4.36M-turn hot conversation (4 vCPU), splitting it into
    * segments with a boundary stitch, or salting the dedup, was slower in
    * every sample and never cut both wall time and max task.
    */
  def allViolations(
      turns: DataFrame,
      conversations: Option[DataFrame] = None,
      checks: Seq[Check] = Checks.transcriptChecks,
      sortOutput: Boolean = true): DataFrame = {
    // The referential check rides the SAME scan as the row checks: an
    // IN subquery on the dim's keys marks dim presence (an existence join,
    // which never duplicates turn rows, so the dim needs no dedup) and
    // ORPHAN_CONV is one more compiled rule in the row-check explode
    // (guide §1.2). The join broadcasts when the dim's key set passes the
    // stats gate, else it is a plain join.
    val rows = conversations match {
      case Some(dim) =>
        val keys = broadcastIfFits(dim.select("conv_id"))
        val marked = turns.withColumn("__dim", col("conv_id").isin(keys))
        rowViolations(marked, checks :+ orphanCheck)
      case None => rowViolations(turns, checks)
    }
    val all = rows.unionByName(tsDupViolations(turns))
    // sortOutput=false lets a sink that repartitions by part_id apply the
    // stable ordering once, after its exchange, instead of sorting twice.
    if (sortOutput) all.sortWithinPartitions("conv_id", "turn_idx") else all
  }

  /** Per-partition verdicts (reference `as_dict`, `verification.py:239-245`):
    * status "valid" iff zero issues; warnings counted separately and never
    * flip the verdict (reference: warnings don't enter `self.issues`).
    * The one soft check, a text length in (1000, 2000], is the engine's
    * deterministic stand-in for the reference's warning channel (URL
    * reachability, `verification.py:152-173`, is network I/O and excluded).
    */
  def verdicts(
      turns: DataFrame,
      violations: DataFrame): DataFrame = {
    // rows, warnings and violations counted in ONE aggregate over the union
    // of the two inputs: each side marks what it counts, and parts that only
    // the violations hold (sink files of an earlier run) have no rows and
    // are dropped
    val warnCond = col("text").isNotNull && length(col("text")) > 1000 &&
      length(col("text")) <= 2000
    val one = lit(1L)
    val none = lit(null).cast("long")
    turns
      .select(col("part_id"), one.as("r"),
        when(warnCond, 1L).otherwise(0L).as("w"), none.as("v"))
      .unionByName(violations.select(col("part_id"), none.as("r"),
        none.as("w"), one.as("v")))
      .groupBy("part_id")
      .agg(count("r").as("n_rows"), sum("w").as("n_warnings"),
        count("v").as("n_violations"))
      .filter(col("n_rows") > 0)
      .select(
        col("part_id"),
        when(col("n_violations") === 0, lit("valid"))
          .otherwise(lit("invalid")).as("status"),
        col("n_rows"), col("n_violations"), col("n_warnings"))
  }
}

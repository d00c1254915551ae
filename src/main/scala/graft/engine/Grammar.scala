package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transition-grammar validation: cross-row constraint checks over an
  * ordered sequence within a partition key — the conversation-STRUCTURE
  * analog of the reference's per-record field checks
  * (`src/core/verification.py` validates one record at a time and simply
  * cannot see "a tool turn must follow an assistant turn"; this operator
  * family is what that rule set becomes on a 10¹²-turn table).
  *
  * A [[Rule]] fires on a `(prev_state, state)` pair; `prev_state` is NULL
  * exactly at the sequence's first row, so first-row rules ("a
  * conversation must open with system/user", "a session must open with
  * signup") are ordinary rules over a null prev. Multiple rules may fire
  * on one row — each emits its own violation row, mirroring the
  * reference's multi-issue accumulation per record.
  *
  * Scale shape (same contract as [[Validator.tsOrderViolations]]): only
  * NARROW columns — partition key, order key(s), state — enter the window
  * exchange; payload text never shuffles. The window partitions on the
  * key, so one pathological hot key (a conversation with 10⁸ turns) is
  * one task; [[Validator.tsOrderViolationsSegmented]] shows the
  * segment-stitch shape that lifts that bound if a grammar entry needs it.
  */
object Grammar {

  /** One grammar rule: `fires(prev_state, state)` over adjacent rows.
    * `prev` is NULL on the first row of each partition key's sequence.
    */
  final case class Rule(name: String, fires: (Column, Column) => Column)

  /** Conversation-transcript role grammar (the transcript-native rule set;
    * roles: system / user / assistant / tool):
    *  - FIRST_ROLE: a conversation opens with system or user;
    *  - SYSTEM_RESTART: system only ever opens (no mid-conversation system);
    *  - TOOL_CONTEXT: a tool result follows an assistant turn (or another
    *    tool result — parallel calls);
    *  - USER_ECHO: no two adjacent user turns.
    */
  val roleRules: Seq[Rule] = Seq(
    Rule("FIRST_ROLE", (prev, cur) =>
      prev.isNull && !cur.isin("system", "user")),
    Rule("SYSTEM_RESTART", (prev, cur) =>
      prev.isNotNull && cur === "system"),
    Rule("TOOL_CONTEXT", (prev, cur) =>
      cur === "tool" && (prev.isNull || !prev.isin("assistant", "tool"))),
    Rule("USER_ECHO", (prev, cur) => prev === "user" && cur === "user"))

  /** Event-session grammar over the events stream (types: signup / view /
    * click / purchase / error): a session opens with signup, signup never
    * repeats, and a purchase is primed by a view or click.
    */
  val sessionRules: Seq[Rule] = Seq(
    Rule("FIRST_EVENT", (prev, cur) => prev.isNull && cur =!= "signup"),
    Rule("REPEAT_SIGNUP", (prev, cur) => prev.isNotNull && cur === "signup"),
    Rule("UNPRIMED_PURCHASE", (prev, cur) =>
      cur === "purchase" && (prev.isNull || !prev.isin("click", "view"))))

  private def applyRules(
      paired: DataFrame, keep: Seq[String], rules: Seq[Rule]): DataFrame = {
    val out = keep.map(col) ++ Seq(
      col("__prev").as("prev_state"), col("__cur").as("state"))
    rules
      .map(r => paired
        .filter(r.fires(col("__prev"), col("__cur")))
        .select(out :+ lit(r.name).as("rule"): _*))
      .reduce(_.unionByName(_))
  }

  /** Plain variant: one window over `partCol` ordered by `orderCols`.
    * Emits one row per fired (row, rule): partCol, orderCols…, prev_state,
    * state, rule. `orderCols` should make the order total (ties only
    * between value-identical duplicate rows, which lag through to
    * identical pairs either way).
    */
  def transitionViolations(
      df: DataFrame,
      partCol: String,
      orderCols: Seq[String],
      stateCol: String,
      rules: Seq[Rule]): DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(orderCols.map(col): _*)
    val paired = df
      .select((partCol +: orderCols).map(col) :+ col(stateCol).as("__cur"): _*)
      .withColumn("__prev", lag("__cur", 1).over(w))
    applyRules(paired, partCol +: orderCols, rules)
  }

  /** Corpus-wide transition matrix: how often each (prev_state, state)
    * adjacency occurs across all conversations — the descriptive
    * companion of [[transitionViolations]] (the rule set says what's
    * FORBIDDEN; the matrix shows what IS, and is where new rules come
    * from — a nonzero (assistant → assistant) cell at audit time is a
    * rule candidate). Each conversation's first row counts as a
    * (`<start>`, state) transition.
    *
    * Scale shape: the same narrow keyed window as the violation check
    * (payload never shuffles — only part/order/state columns enter the
    * window exchange), then one partial-combine count over (prev, cur) —
    * cardinality bounded by |states|², tiny by construction.
    */
  def transitionMatrix(
      df: DataFrame,
      partCol: String,
      orderCols: Seq[String],
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(orderCols.map(col): _*)
    df
      .select((partCol +: orderCols).map(col) :+ col(stateCol).as("__cur"): _*)
      .withColumn("__prev", lag("__cur", 1).over(w))
      .groupBy(
        coalesce(col("__prev"), lit("<start>")).as("prev_state"),
        col("__cur").as("state"))
      .agg(count(lit(1)).as("n"))
  }
}

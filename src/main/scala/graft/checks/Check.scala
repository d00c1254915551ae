package graft.checks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative constraint catalog compiled to Catalyst `Column` predicates.
  *
  * This is the engine's re-expression of the reference's pydantic-style schema
  * checks (reference `src/core/models.py:8-96`) and its soft-path validator
  * (reference `src/core/verification.py:15-121`). Every check compiles to
  * built-in, codegen-friendly `Column` expressions — zero row-level UDFs
  * (SURVEY.md §2.11) and no lambda — so the whole per-row validation pass,
  * the explode included, stays inside one whole-stage-codegen pipeline over
  * the scan.
  *
  * Message strings follow the reference's f-string formats byte-for-byte where
  * a counterpart exists (e.g. "Missing required field: {f}" from
  * `verification.py:40`, "Invalid or missing URL in {f}: {v}" from
  * `verification.py:70`). Python renders a missing value as "None" inside
  * f-strings, so null values are rendered as the literal "None" here too.
  */
trait Check {
  def ruleId: String
  def field: String

  /** True iff the rule is violated on this row. Null-safe: `when` treats a
    * null predicate as false, matching the reference's short-circuit skips
    * (`verification.py:50,59` skip checks on falsy values).
    */
  def violated: Column

  /** Violation message; only evaluated on violated rows. */
  def message: Column

  /** Python-style string rendering of a possibly-null column ("None"). */
  protected def pyStr(c: Column): Column =
    coalesce(c.cast("string"), lit("None"))
}

/** Required / non-empty — reference `verification.py:30-43`: value in
  * `[None, "", [], {}]` fires "Missing required field: {f}".
  */
final case class RequiredNonEmpty(field: String) extends Check {
  val ruleId = s"REQUIRED_NONEMPTY_$field"
  def violated: Column = col(field).isNull || (col(field).cast("string") === "")
  def message: Column = lit(s"Missing required field: $field")
}

/** Closed-vocabulary membership — reference enum `ImageKeyword`
  * (`models.py:49-54`). Skipped on null (pydantic Optional semantics);
  * missing-ness is the required check's job.
  */
final case class EnumMember(field: String, allowed: Seq[String]) extends Check {
  val ruleId = s"ENUM_MEMBER_$field"
  def violated: Column = col(field).isNotNull && !col(field).isin(allowed: _*)
  def message: Column =
    concat(lit(s"Invalid enum value in $field: "), pyStr(col(field)))
}

/** Anchored regex (Python `re.fullmatch`) — reference `verification.py:263-267`
  * (`_is_date`, `_is_version`). Message format from `verification.py:60`
  * ("Invalid date format in {f}: {v}") generalised via `msgPrefix`.
  */
final case class RegexFullmatch(field: String, pattern: String, msgPrefix: String)
    extends Check {
  val ruleId = s"FORMAT_REGEX_$field"
  // \z (not $): Java's $ matches before a trailing newline, Python
  // re.fullmatch does not — \z pins true end-of-string parity.
  def violated: Column =
    col(field).isNotNull && !col(field).rlike(s"^(?:$pattern)\\z")
  def message: Column = concat(lit(msgPrefix), pyStr(col(field)))
}

/** URL validity — reference `verification.py:249-254`: urlparse-based, scheme
  * in {http, https} and non-empty netloc. The reference's single-URL check
  * fires on missing values too (`verification.py:66-73`), overlapping the
  * required check — a deliberate quirk we replay (`fireOnNull = true` yields
  * the reference's double-issue for a missing URL field).
  *
  * `appliesWhen` scopes the rule (e.g. only `role = 'tool' AND tool = 'fetch'`
  * turns carry a URL payload in the transcript projection).
  */
final case class UrlFormat(
    field: String,
    appliesWhen: Column = lit(true),
    fireOnNull: Boolean = true
) extends Check {
  val ruleId = s"URL_FORMAT_$field"
  def violated: Column = {
    val bad = !UrlFormat.isValidUrl(col(field))
    appliesWhen && (if (fireOnNull) col(field).isNull || bad
                    else col(field).isNotNull && bad)
  }
  def message: Column =
    concat(lit(s"Invalid or missing URL in $field: "), pyStr(col(field)))
}

object UrlFormat {
  /** urllib.parse.urlparse parity: scheme is the prefix before the first ':'
    * (case-insensitive, must be alpha then alnum/+/-/.), netloc is what
    * follows "//" up to the next `/?#`, and must be non-empty.
    * Compiled to one anchored rlike — codegen-friendly, no UDF.
    */
  def isValidUrl(c: Column): Column =
    c.isNotNull && c.rlike("(?i)^https?://[^/?#]")
}

/** Required-substring check — reference SPDX license rule
  * (`verification.py:49-54`): fires when the value is present but does NOT
  * contain `needle`; skipped on falsy values (the reference's short-circuit).
  * Message format byte-matches `verification.py:51`
  * ("License is not a valid SPDX URL: {v}") via `msgPrefix`.
  */
final case class ContainsSubstring(field: String, needle: String, msgPrefix: String)
    extends Check {
  val ruleId = s"CONTAINS_$field"
  def violated: Column =
    col(field).isNotNull && (col(field) =!= "") && !col(field).contains(needle)
  def message: Column = concat(lit(msgPrefix), pyStr(col(field)))
}

/** ISO-date fullmatch — reference `_is_date` (`verification.py:263-264`,
  * `re.fullmatch(r"\d{4}-\d{2}-\d{2}")`), fired as "Invalid date format in
  * {f}: {v}" (`verification.py:60`). For string-typed date fields; a
  * TimestampType `ts` needs no format check (SURVEY.md §1.2).
  */
final case class DateFormat(field: String) extends Check {
  val ruleId = s"DATE_FORMAT_$field"
  def violated: Column =
    col(field).isNotNull && (col(field) =!= "") &&
      !col(field).rlike("^\\d{4}-\\d{2}-\\d{2}\\z") // \z: fullmatch parity
  def message: Column =
    concat(lit(s"Invalid date format in $field: "), pyStr(col(field)))
}

/** Max-length cap — reference pydantic `StringConstraints(max_length=…)`
  * (`models.py:23-24`). Pydantic emits no custom message; format documented
  * in SURVEY.md §7.3 quirk notes.
  */
final case class LengthMax(field: String, max: Int) extends Check {
  val ruleId = s"LENGTH_MAX_$field"
  def violated: Column = col(field).isNotNull && (length(col(field)) > max)
  def message: Column = concat(
    lit(s"Value exceeds max_length=$max in $field: length "),
    length(col(field)).cast("string"))
}

/** Lower-bound on an integral field — reference `conint(gt=0)`
  * (`models.py:26`); transcript projection uses ge=0 on `turn_idx`
  * (0-based index, FIXTURES.md POSITIVE_INT plant).
  */
final case class MinValue(field: String, minInclusive: Long) extends Check {
  val ruleId = s"MIN_VALUE_$field"
  def violated: Column = col(field).isNotNull && (col(field) < minInclusive)
  def message: Column =
    concat(lit(s"Value out of range in $field: "), pyStr(col(field)))
}

/** Cross-field coupling — reference author `name`/`orcidId` coupling
  * (`verification.py:110-121`, message shape "Missing `name` in author
  * object" at `verification.py:111`).
  */
final case class CrossField(
    ruleId: String,
    field: String,
    violatedExpr: Column,
    messageExpr: Column
) extends Check {
  def violated: Column = violatedExpr
  def message: Column = messageExpr
}

object Checks {

  /** The transcript-table constraint catalog (SURVEY.md §1.3 mapping table).
    * Order matches the reference's fixed check order — required first, then
    * formats, then shape/cross-field checks (`verification.py:15-21`).
    */
  val roles: Seq[String] = Seq("system", "user", "assistant", "tool")

  val transcriptChecks: Seq[Check] = Seq(
    RequiredNonEmpty("conv_id"),
    RequiredNonEmpty("role"),
    RequiredNonEmpty("text"),
    RequiredNonEmpty("ts"),
    EnumMember("role", roles),
    // tool names: lowercase identifier vocabulary shape; mirrors the
    // version fullmatch rule `verification.py:266-267` (anchored).
    RegexFullmatch("tool", "[a-z][a-z0-9_]*", "Invalid tool name in tool: "),
    // fetch-tool turns carry a URL payload in `text`; reference single-URL
    // semantics incl. fire-on-null double-issue quirk (verification.py:66-73).
    UrlFormat("text", appliesWhen = col("tool") === "fetch"),
    LengthMax("text", 2000),
    MinValue("turn_idx", 0L),
    CrossField(
      "CROSS_FIELD_tool_role",
      "tool",
      (col("role") === "tool" && col("tool").isNull) ||
        (col("role").isNotNull && col("role") =!= "tool" && col("tool").isNotNull),
      when(col("role") === "tool", lit("Missing `tool` in tool turn"))
        .otherwise(concat(lit("Unexpected `tool` in "),
          coalesce(col("role"), lit("None")), lit(" turn")))
    )
  )

  /** Compile a catalog to a single array-of-violation-structs column:
    * `concat(when(violated, array(struct(...))).otherwise(empty), ...)`.
    * One projection, codegen'd end-to-end; violation fan-out is a built-in
    * `explode` downstream (SURVEY.md §2.11 — no Generator/UDTF needed).
    */
  def violationsArray(checks: Seq[Check]): Column =
    compileRules(checks.map { c =>
      (c.violated,
        struct(
          lit(c.ruleId).as("rule_id"),
          lit(c.field).as("field"),
          c.message.as("message")))
    })

  /** Compile (predicate, violation-struct) rule pairs into the violations
    * array — the ONE implementation of the guard/no-cascade contract,
    * shared by [[violationsArray]] and [[ToolArgs.violations]] so the
    * clean-row guard and the struct schema can never drift apart.
    *
    * Each rule contributes a one-element array when its predicate holds
    * and the empty array otherwise; `concat` joins them in catalog order.
    * No lambda: a higher-order `filter` would run interpreted and pull
    * the explode out of the scan's whole-stage-codegen stage.
    *
    * The allocation-heavy array/struct construction hides behind one cheap
    * boolean OR: clean rows (the overwhelming majority) never build the
    * array. Violated rows evaluate their predicates twice — a good trade.
    */
  private[checks] def compileRules(rules: Seq[(Column, Column)]): Column = {
    val empty = array().cast(
      "array<struct<rule_id:string,field:string,message:string>>")
    val fired = rules.map { case (p, v) => coalesce(p, lit(false)) -> v }
    when(fired.map(_._1).reduce(_ || _),
      concat(fired.map { case (p, v) => when(p, array(v)).otherwise(empty) }: _*))
      .otherwise(empty)
  }
}

package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tool-call argument schema validation — the transcript analog of the
  * reference's pydantic field checks (reference `src/core/models.py:8-96`,
  * `verification.py:30-64`) pushed one level DOWN, into the nested JSON
  * payload a `role = 'tool'` turn carries. An agent-transcript corpus lives
  * or dies on these: a tool turn whose `args` is truncated JSON, missing a
  * required argument, or carrying an out-of-vocabulary mode is exactly the
  * malformed-training-signal row a 100 TB pipeline must surface, and none of
  * the flat-column checks can see inside the payload.
  *
  * Same compilation contract as [[Checks.violationsArray]]: every rule is a
  * built-in `Column` expression (`json_object_keys`, `get_json_object`,
  * `array_except`, `try_cast` — zero UDFs), the whole catalog lands in ONE
  * projection + `explode`, and the plan is map-only: no shuffle at any
  * scale, violations stream out of the scan task that read the row.
  *
  * Semantics (each pinned in ToolArgsSpec and hash-oracled by q116):
  *  - a NULL `args` payload is an *absent object*: required-arg rules fire,
  *    malformed does not (pydantic missing-field semantics);
  *  - `MALFORMED_ARGS` fires on non-null payloads that are not a JSON
  *    object (truncated JSON, scalars, arrays) — `json_object_keys` returns
  *    null exactly then; all schema rules are gated off such rows so one
  *    broken payload yields one violation, not a cascade;
  *  - a tool with no registered schema gets only the malformed check (the
  *    reference skips unknown fields the same way, `verification.py:50`);
  *  - enum/int rules fire only when the key is PRESENT (missing-ness is the
  *    required rule's job — the [[EnumMember]] split, one rule one cause);
  *  - a present key whose value is JSON `null` renders as "None" in the
  *    message (the [[Check.pyStr]] convention).
  */
object ToolArgs {

  /** Argument schema for one tool: required keys, the closed key
    * vocabulary, per-key enum vocabularies, per-key integer ranges.
    */
  final case class ToolArgSchema(
      required: Seq[String],
      allowed: Seq[String],
      enums: Map[String, Seq[String]] = Map.empty,
      intRanges: Map[String, (Long, Long)] = Map.empty)

  /** The demo catalog used by q116/t24 — two tools with disjoint shapes so
    * per-tool dispatch is exercised, not just per-rule logic.
    */
  val demoSchemas: Map[String, ToolArgSchema] = Map(
    "search" -> ToolArgSchema(
      required = Seq("q"),
      allowed = Seq("limit", "mode", "q"),
      enums = Map("mode" -> Seq("deep", "fast")),
      intRanges = Map("limit" -> (0L, 100L))),
    "fetch" -> ToolArgSchema(
      required = Seq("method", "url"),
      allowed = Seq("method", "timeout_ms", "url"),
      enums = Map("method" -> Seq("GET", "POST")),
      intRanges = Map("timeout_ms" -> (1L, 60000L))))

  /** Violations frame: `idCols ++ (tool, rule_id, field, message)`, one row
    * per violated (row, rule). Map-only plan — see object doc.
    */
  def violations(
      df: DataFrame,
      toolCol: String,
      argsCol: String,
      idCols: Seq[String],
      schemas: Map[String, ToolArgSchema] = demoSchemas): DataFrame = {
    // The JSON payload is PARSED ONCE PER ROW: keys and every
    // (tool, key)-extracted value materialize as named columns in one
    // projection BEFORE the rule catalog, which then references only those
    // columns. Inlining the json functions into each rule re-parses the
    // payload per rule (the catalog's array/filter HOFs run interpreted —
    // no subexpression elimination): measured 5.5 s → sub-second on the
    // 100k-row q116 face for an identical result.
    val tool0 = col(toolCol)
    val args0 = col(argsCol)
    // json_object_keys: null for invalid JSON / non-objects; [] for {}.
    // A null payload maps to [] so required-arg rules see "all keys absent"
    // while the malformed rule (gated on args.isNotNull) stays quiet.
    val keysExpr = when(args0.isNull, array().cast("array<string>"))
      .otherwise(json_object_keys(args0))
    val extracted: Seq[(String, String)] = schemas.toSeq.sortBy(_._1)
      .flatMap { case (name, sch) =>
        (sch.enums.keySet ++ sch.intRanges.keySet).toSeq.sorted
          .map(k => name -> k)
      }
    // helper columns are INDEX-named: embedding tool/key text in the name
    // collides for legal schema maps (("web", "search_limit") and
    // ("web_search", "limit") both render __v_web_search_limit → ambiguous
    // reference); the index over the sorted (tool, key) list is injective
    val vIdx: Map[(String, String), Int] = extracted.zipWithIndex.toMap
    val toolNames = schemas.keys.toSeq.sorted
    val uIdx: Map[String, Int] = toolNames.zipWithIndex.toMap
    def vcol(name: String, k: String): String = s"__v_${vIdx((name, k))}"
    def ucol(name: String): String = s"__unk_${uIdx(name)}"
    val pre0 = df.select(
      idCols.map(col) ++ Seq(tool0.as(toolCol), args0.as(argsCol),
        keysExpr.as("__keys")) ++
        extracted.map { case (name, k) =>
          when(tool0 === name, get_json_object(args0, "$." + k))
            .as(vcol(name, k))
        }: _*)
    // second narrow projection (pipelined, no shuffle): the sorted
    // unknown-key arrays, one per tool, also evaluated once per row
    val pre = pre0.select(col("*") +:
      schemas.toSeq.sortBy(_._1).map { case (name, sch) =>
        when(col(toolCol) === name && col("__keys").isNotNull,
          array_sort(array_except(col("__keys"),
            array(sch.allowed.sorted.map(lit): _*)))).as(ucol(name))
      }: _*)

    val tool = col(toolCol)
    val args = col(argsCol)
    val keys = col("__keys")
    val keysOk = keys.isNotNull
    def present(k: String): Column = array_contains(keys, k)

    def rule(pred: Column, ruleId: String, field: String, msg: Column)
        : (Column, Column) =
      (pred, struct(lit(ruleId).as("rule_id"),
        lit(field).as("field"), msg.as("message")))

    val malformed = rule(args.isNotNull && keys.isNull,
      "MALFORMED_ARGS", "args", concat(lit("Malformed tool args: "), args))

    // Sorted in the catalog AND sorted per tool name so the emitted order
    // (and therefore q116's hash) is a pure function of the schema map.
    val perTool: Seq[(Column, Column)] = schemas.toSeq.sortBy(_._1).flatMap {
      case (name, sch) =>
        val isTool = tool === name
        val missing = sch.required.sorted.map { k =>
          rule(isTool && keysOk && !present(k), s"MISSING_ARG_$k", k,
            lit(s"Missing required arg `$k` for $name"))
        }
        val unknownKeys = col(ucol(name))
        val unknown = rule(isTool && keysOk && size(unknownKeys) > 0,
          "UNKNOWN_ARG", "args",
          concat(lit(s"Unknown args for $name: "),
            array_join(unknownKeys, ", ")))
        val enums = sch.enums.toSeq.sortBy(_._1).map { case (k, vals) =>
          val v = col(vcol(name, k))
          rule(isTool && keysOk && present(k) &&
              (v.isNull || !v.isin(vals: _*)),
            s"ENUM_ARG_$k", k,
            concat(lit(s"Invalid value in $k: "), coalesce(v, lit("None"))))
        }
        val ints = sch.intRanges.toSeq.sortBy(_._1).map { case (k, (lo, hi)) =>
          val v = col(vcol(name, k))
          val iv = v.try_cast("long")
          rule(isTool && keysOk && present(k) &&
              (iv.isNull || iv < lo || iv > hi),
            s"INT_ARG_$k", k,
            concat(lit(s"Out-of-range or non-integer $k: "),
              coalesce(v, lit("None"))))
        }
        missing ++ Seq(unknown) ++ enums ++ ints
    }

    // one shared compilation of the guard/no-cascade contract
    val arr = Checks.compileRules(malformed +: perTool)
    pre.select(idCols.map(col) ++ Seq(tool.as(toolCol),
        explode(arr).as("v")): _*)
      .select(idCols.map(col) ++ Seq(col(toolCol),
        col("v.rule_id").as("rule_id"), col("v.field").as("field"),
        col("v.message").as("message")): _*)
  }
}

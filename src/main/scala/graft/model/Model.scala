package graft.model

import java.sql.Timestamp

/** Core typed row models for the validation engine.
  *
  * The subject table mirrors `BASELINE.json` `input_hint`:
  * `transcripts(conv_id, turn_idx, role, text, tool, ts)`.
  *
  * The reference's unit of data is one nested software-metadata record
  * (reference `src/core/models.py:60-96`); here the unit is one conversation
  * (a group of `Turn` rows keyed by `conv_id`), with each schema field of the
  * record mapped to a column of the turn row (SURVEY.md §1.3).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    part_id: Int
)

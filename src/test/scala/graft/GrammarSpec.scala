package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Grammar
import graft.sources.TranscriptGen

class GrammarSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("role grammar fires exactly the expected rules on a handcrafted " +
    "conversation set") {
    val turns = Seq(
      // c1: clean — system, user, assistant, tool, tool, user
      ("c1", 0, "system"), ("c1", 1, "user"), ("c1", 2, "assistant"),
      ("c1", 3, "tool"), ("c1", 4, "tool"), ("c1", 5, "user"),
      // c2: opens with assistant (FIRST_ROLE), then system mid-stream
      // (SYSTEM_RESTART), double user (USER_ECHO)
      ("c2", 0, "assistant"), ("c2", 1, "system"), ("c2", 2, "user"),
      ("c2", 3, "user"),
      // c3: tool right after user (TOOL_CONTEXT); tool opening a
      // conversation fires FIRST_ROLE and TOOL_CONTEXT both
      ("c3", 0, "user"), ("c3", 1, "tool"),
      ("c4", 0, "tool")
    ).toDF("conv_id", "turn_idx", "role")
    val got = Grammar
      .transitionViolations(turns, "conv_id", Seq("turn_idx"), "role",
        Grammar.roleRules)
      .select(col("conv_id"), col("turn_idx"), col("rule"))
      .as[(String, Int, String)].collect().toSet
    assert(got === Set(
      ("c2", 0, "FIRST_ROLE"), ("c2", 1, "SYSTEM_RESTART"),
      ("c2", 3, "USER_ECHO"),
      ("c3", 1, "TOOL_CONTEXT"),
      ("c4", 0, "FIRST_ROLE"), ("c4", 0, "TOOL_CONTEXT")))
  }

  test("duplicate keys (value-identical clones) yield deterministic pairs") {
    val turns = Seq(
      ("c1", 0, "user"), ("c1", 1, "user"), ("c1", 1, "user"), ("c1", 2, "tool")
    ).toDF("conv_id", "turn_idx", "role")
    val got = Grammar
      .transitionViolations(turns, "conv_id", Seq("turn_idx"), "role",
        Grammar.roleRules)
      .select(col("turn_idx"), col("rule")).as[(Int, String)]
      .collect().sorted.toSeq
    // both clones of turn 1 echo 'user'; turn 2's tool follows user
    assert(got === Seq((1, "USER_ECHO"), (1, "USER_ECHO"),
      (2, "TOOL_CONTEXT")))
  }

  test("transitionMatrix: exact (prev, cur) counts with <start> rows; " +
    "cells sum to the row count") {
    val turns = Seq(
      ("c1", 0, "user"), ("c1", 1, "assistant"), ("c1", 2, "user"),
      ("c2", 0, "user"), ("c2", 1, "assistant"), ("c2", 2, "assistant"),
      ("c3", 0, "system")
    ).toDF("conv_id", "turn_idx", "role")
    val m = Grammar.transitionMatrix(turns, "conv_id", Seq("turn_idx"), "role")
      .as[(String, String, Long)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    assert(m === Map(
      ("<start>", "user") -> 2L,
      ("<start>", "system") -> 1L,
      ("user", "assistant") -> 2L,
      ("assistant", "user") -> 1L,
      ("assistant", "assistant") -> 1L))
    assert(m.values.sum === 7L)
  }
}

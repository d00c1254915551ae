package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Stats
import graft.functions.FreqItems.freqItems

/** Frequent-items (heavy-hitters) sketch aggregate. */
class FreqItemsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("exact regime: equals exact groupBy counts, order deterministic") {
    // 40 distinct values << maxMapSize=256 -> exact
    val df = (0 until 2000).map(i => s"v${i % 40}").toDF("x")
    val got = Stats.topValues(df, Seq("x"), k = 40)
      .select(col("item"), col("est")).as[(String, Long)].collect().toMap
    val want = df.groupBy("x").count().as[(String, Long)].collect().toMap
    assert(got === want)
  }

  test("exact regime is invariant under repartitioning (merge path)") {
    val base = (0 until 3000).map(i => s"t${i % 17}")
    val r1 = Stats.topValues(base.toDF("x").repartition(1), Seq("x"), k = 5)
      .as[(String, String, Long)].collect().toSet
    val r8 = Stats.topValues(base.toDF("x").repartition(8), Seq("x"), k = 5)
      .as[(String, String, Long)].collect().toSet
    assert(r1 === r8)
  }

  test("over capacity: heavy hitter survives with bounded overestimate") {
    // 4000 distinct light values + one value at 20% of the stream, tiny map
    val rows = (0 until 20000).map { i =>
      if (i % 5 == 0) "HEAVY" else s"light_${i}"
    }
    val r = rows.toDF("x")
      .agg(freqItems(col("x"), 3, maxMapSize = 64).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item"), col("t.est")).as[(String, Long)]
      .collect().toMap
    assert(r.contains("HEAVY")) // no-false-negative guarantee
    val trueCount = 4000L
    assert(r("HEAVY") >= trueCount) // estimate never undercounts
    // sketch error bound: est - true <= ~2n/maxMapSize
    assert(r("HEAVY") - trueCount <= 2L * 20000 / 64)
  }

  test("null inputs are skipped") {
    val r = Seq(Some("a"), None, Some("a"), Some("b")).toDF("x")
      .agg(freqItems(col("x"), 2).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item"), col("t.est")).as[(String, Long)]
      .collect().toSeq
    assert(r === Seq(("a", 2L), ("b", 1L)))
  }
}

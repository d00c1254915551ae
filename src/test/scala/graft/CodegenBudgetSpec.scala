package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Drift, Runner, Stats}
import graft.sources.TranscriptGen

/** The audit cycle's generated-class budget. Spark caches compiled classes
  * in a segmented LRU of `spark.sql.codegen.cache.maxEntries` (100) that
  * starts evicting below its nominal size. An audit op walks the same
  * classes every time, so once one op needs more distinct classes than the
  * cache holds, evictions become misses on every op and each op pays for
  * Janino compiles and JIT recompiles. The cycle measured here is one
  * `Runner.run` plus the profile op (`Stats.colStats`, `Drift.chiSquare` on
  * role and tool), starting from an empty cache.
  */
class CodegenBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Classes compiled by the audit cycle, measured from an empty cache. */
  val Budget = 85

  /** Empty the codegen cache. `CodeGenerator.cache` is private to Spark. */
  private def emptyCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test(s"one audit cycle compiles at most $Budget classes") {
    val in = SparkTestSession.tempDir("graft_cg_in").toString
    val cfg = TranscriptGen.Config(nConvs = 2500L, seed = 11L)
    TranscriptGen.transcripts(spark, cfg).write.parquet(s"$in/turns")
    TranscriptGen.conversations(spark, cfg).write.parquet(s"$in/convs")
    val turns = spark.read.parquet(s"$in/turns")
    val convs = spark.read.parquet(s"$in/convs")
    val out = SparkTestSession.tempDir("graft_cg_out").toString

    emptyCodegenCache()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Runner.run(spark, turns, Some(convs), out, "cg", resume = false)
    Stats.colStats(turns).collect()
    Drift.chiSquare(turns, "role").collect()
    Drift.chiSquare(turns, "tool").collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    info(s"audit cycle compiled $compiles classes")
    assert(compiles <= Budget)
  }
}

package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, NaiveBayes, Similarity, SpanDedup}

/** The pair operators keep their shared intermediate frames in lazy local
  * checkpoints, never in the session's CacheManager: nothing they compute
  * outlives the frame they return, and no later plan over the same input
  * is served rows cached from an earlier read.
  */
class CacheLeakSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the " +
    "river bank while the farmer counts his sheep in the green field"
  private val other = "an entirely different document about compiling code " +
    "with many unrelated words so that no shingle is shared at all here"
  private val third = "yet another unrelated text on weather and tides " +
    "written to share nothing with either of the other two documents"

  private def deleteTree(p: Path): Unit = {
    val paths = Files.walk(p)
    try paths.sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally paths.close()
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("minhashLshPairs and minhashLshPairsExact return the new pairs after " +
    "the files under their input path are replaced outside Spark") {
    val dir = SparkTestSession.tempDir("stale-path")
    val path = dir.resolve("docs")
    Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(path.toString)
    def run(): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val docs = spark.read.parquet(path.toString)
      (pairsOf(Dedup.minhashLshPairs(docs, "text", "doc_id")),
        pairsOf(Dedup.minhashLshPairsExact(docs, "text", "doc_id")))
    }
    assert(run() === (Set((1L, 2L)), Set((1L, 2L))))

    // replace the files under `path` without telling Spark: write elsewhere,
    // delete the old tree, move the new one into place
    val fresh = dir.resolve("fresh")
    Seq((1L, base), (2L, third), (3L, base)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(fresh.toString)
    deleteTree(path)
    Files.move(fresh, path)
    assert(run() === (Set((1L, 3L)), Set((1L, 3L))))
  }

  test("every checkpointed operator leaves no InMemoryRelation: once a " +
    "result is collected, a fresh plan over the same input reads no cache") {
    val docs = Seq((11L, base), (12L, base), (13L, other), (14L, third))
      .toDF("doc_id", "text")
    val emb = ((0 until 6).map(i => (i.toLong, Seq.fill(16)(0.5 + i * 1e-4))) ++
      Seq((9L, Seq.fill(16)(-0.5)))).toDF("vec_id", "embedding")
    val cents = Seq(Seq.fill(16)(1.0), Seq.fill(16)(-1.0))
    val labeled = docs.withColumn("lab", (col("doc_id") % 2).cast("int"))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "minhashLshPairs" -> (() => Dedup.minhashLshPairs(docs, "text", "doc_id")),
      "minhashLshPairsExact" ->
        (() => Dedup.minhashLshPairsExact(docs, "text", "doc_id")),
      "simhashPairs" -> (() => Dedup.simhashPairs(docs, "text", "doc_id")),
      "cosineNearDupPairs" ->
        (() => Similarity.cosineNearDupPairs(emb, nBits = 4, dim = 16)),
      "semDedupPairs" -> (() => Similarity.semDedupPairs(emb, cents)),
      "spanPairs" -> (() => SpanDedup.spanPairs(docs, "text", "doc_id")),
      "spanPairsFast" -> (() => SpanDedup.spanPairsFast(docs, "text", "doc_id")),
      "spanIncidence" -> (() => SpanDedup.spanIncidence(docs, "text", "doc_id")),
      "dedupLines" -> (() => SpanDedup.dedupLines(docs, "text", "doc_id")),
      "qualityScores" ->
        (() => NaiveBayes.qualityScores(labeled, "doc_id", "text", col("lab"))))
    ops.foreach { case (name, op) =>
      assert(op().collect().nonEmpty, s"$name returned nothing")
      val cached = op().queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(cached.isEmpty, s"$name plans over cached rows: $cached")
    }
  }
}

package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-resumable validation run with per-partition lineage
  * (SURVEY.md §7.1 M5). The manifest is a plain Dataset appended per run;
  * resume filters already-validated `part_id`s out of the scan as a partition
  * predicate (partition pruning does the rest — on Iceberg in prod, directory
  * `part_id=` pruning on the Parquet stand-in here).
  *
  * Sinks are written `partitionBy(part_id)` with dynamic partition overwrite,
  * so re-running a partition is idempotent — the at-least-once analog of the
  * reference being a stateless request/response validator (`api.py:17-55`).
  */
object Runner {

  final case class Result(
      violations: DataFrame,
      verdicts: DataFrame,
      manifest: DataFrame,
      validatedParts: Long,
      skippedParts: Long)

  private def manifestPath(outDir: String) = s"$outDir/manifest"

  /** part_ids already completed in a previous run (any status — both valid
    * and invalid partitions were fully validated).
    */
  def completedParts(spark: SparkSession, outDir: String): Set[Int] = {
    val p = manifestPath(outDir)
    if (!Files.exists(Paths.get(p))) Set.empty
    else
      spark.read.parquet(p)
        .select("part_id").distinct()
        .collect().map(_.getInt(0)).toSet
  }

  def run(
      spark: SparkSession,
      turns: DataFrame,
      conversations: Option[DataFrame],
      outDir: String,
      runId: String,
      snapshot: String = "parquet-v0",
      resume: Boolean = true): Result = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val done = if (resume) completedParts(spark, outDir) else Set.empty[Int]
    // Resume predicate — a partition-column filter so the source prunes
    // whole partitions (verified in ResumeSpec via the physical plan).
    val todo =
      if (done.isEmpty) turns
      else turns.filter(!col("part_id").isin(done.toSeq: _*))

    val t0 = System.nanoTime()
    // One execution of the violation pipeline: cluster by the sink partition
    // column first (one file per part_id dir instead of tasks×parts small
    // files — measured 3.4x faster sink), restore the mandated stable
    // (conv_id, turn_idx) within-partition order after the exchange, write,
    // and derive everything downstream from the WRITTEN files.
    Validator.allViolations(todo, conversations, sortOutput = false)
      .repartition(col("part_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .write.mode("overwrite").partitionBy("part_id")
      .parquet(s"$outDir/violations")
    val writtenViolations = spark.read.parquet(s"$outDir/violations")
    // At most one verdict row per part_id: collect once, write both sinks
    // from the rows (one file per verdicts/part_id=* directory).
    val verdictPlan = Validator.verdicts(todo, writtenViolations)
    val verdictRows = verdictPlan.collect()
    val verdicts = spark.createDataFrame(
      java.util.Arrays.asList(verdictRows: _*), verdictPlan.schema)
    verdicts.write.mode("overwrite").partitionBy("part_id")
      .parquet(s"$outDir/verdicts")
    val wallMs = (System.nanoTime() - t0) / 1000000L

    verdicts.select(
      lit(runId).as("run_id"),
      col("part_id"),
      lit(snapshot).as("snapshot"),
      col("status"),
      col("n_rows"),
      col("n_violations"),
      lit(wallMs).as("wall_ms"))
      .write.mode("append").parquet(manifestPath(outDir))

    Result(
      violations = spark.read.parquet(s"$outDir/violations"),
      verdicts = spark.read.parquet(s"$outDir/verdicts"),
      manifest = spark.read.parquet(manifestPath(outDir)),
      validatedParts = verdictRows.length.toLong,
      skippedParts = done.size.toLong)
  }
}

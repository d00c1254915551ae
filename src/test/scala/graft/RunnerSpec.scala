package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Runner
import graft.sources.TranscriptGen

/** Checkpoint-resume lifecycle: manifest lineage, partition skipping,
  * idempotent partial re-runs (SURVEY.md §7.1 M5).
  */
class RunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = TranscriptGen.Config(nConvs = 400L, parts = 8)
  private lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  private lazy val convs = TranscriptGen.conversations(spark, cfg).cache()

  test("full run then resume: second run validates nothing, data intact") {
    val out = SparkTestSession.tempDir("graft_run1").toString
    val r1 = Runner.run(spark, turns, Some(convs), out, "run1")
    assert(r1.validatedParts === 8)
    assert(r1.skippedParts === 0)
    val nViol = r1.violations.count()
    assert(nViol > 0)
    assert(r1.manifest.count() === 8)

    val r2 = Runner.run(spark, turns, Some(convs), out, "run2")
    assert(r2.validatedParts === 0)
    assert(r2.skippedParts === 8)
    assert(r2.violations.count() === nViol) // untouched by the no-op run
    assert(r2.manifest.count() === 8)       // no new lineage rows
  }

  test("partial run then resume completes only the missing partitions") {
    val out = SparkTestSession.tempDir("graft_run2").toString
    val firstHalf = turns.filter(col("part_id") < 4)
    val r1 = Runner.run(spark, firstHalf, Some(convs), out, "run1")
    assert(r1.validatedParts === 4)

    val r2 = Runner.run(spark, turns, Some(convs), out, "run2")
    assert(r2.validatedParts === 4) // only parts 4..7
    assert(r2.skippedParts === 4)
    assert(r2.manifest.count() === 8)
    // resumed result must equal a from-scratch full run
    val fresh = SparkTestSession.tempDir("graft_run3").toString
    val full = Runner.run(spark, turns, Some(convs), fresh, "full", resume = false)
    assert(r2.violations.count() === full.violations.count())
    val a = r2.violations.select("conv_id", "turn_idx", "rule_id")
      .collect().map(_.toString).sorted
    val b = full.violations.select("conv_id", "turn_idx", "rule_id")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("spark-submit Main: audit end-to-end + resume; strict passes clean data") {
    val in = SparkTestSession.tempDir("graft_main_in").toString
    val out = SparkTestSession.tempDir("graft_main_out").toString
    turns.write.mode("overwrite").parquet(s"$in/turns")
    convs.write.mode("overwrite").parquet(s"$in/convs")
    Main.main(Array("--input", s"$in/turns", "--conversations", s"$in/convs",
      "--out", out, "--run-id", "cli1"))
    assert(spark.read.parquet(s"$out/violations").count() > 0)
    assert(spark.read.parquet(s"$out/verdicts").count() === 8)
    // resume: a second CLI run validates nothing new, appends lineage
    Main.main(Array("--input", s"$in/turns", "--conversations", s"$in/convs",
      "--out", out, "--run-id", "cli2"))
    val runs = spark.read.parquet(s"$out/manifest")
      .select("run_id").distinct().as[String].collect().toSet
    assert(runs === Set("cli1")) // cli2 skipped every partition, no new rows
    // strict mode on CLEAN data returns normally
    val clean = spark.range(10).select(
      concat(lit("c"), col("id")).as("conv_id"),
      lit(0).as("turn_idx"), lit("user").as("role"),
      lit("hello").as("text"), lit(null).cast("string").as("tool"),
      lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
      lit(0).as("part_id"))
    clean.write.mode("overwrite").parquet(s"$in/clean")
    Main.main(Array("--input", s"$in/clean", "--mode", "strict"))
    // the deep-check sinks run only in audit mode: opting into them in any
    // other mode must fail fast, never parse-and-silently-skip
    assertThrows[IllegalArgumentException] {
      Main.main(Array("--input", s"$in/clean", "--mode", "strict",
        "--conversations", s"$in/convs", "--temporal"))
    }
    assertThrows[IllegalArgumentException] {
      Main.main(Array("--input", s"$in/clean", "--mode", "strict",
        "--tool-args", s"$in/turns"))
    }
  }

  test("spark-submit Main: corpus mode writes a split-partitioned corpus " +
    "and the funnel accounts for the drop") {
    val in = SparkTestSession.tempDir("graft_corpus_in").toString
    val out = SparkTestSession.tempDir("graft_corpus_out").toString
    // 30 unique English docs. The doc number recurs every OTHER word, so
    // EVERY word 2-gram (and a fortiori every 8-gram) is doc-specific:
    //  - the default boilerplate gate is now the scale-invariant fraction
    //    form (coverageFrac, floored at 2 occurrences) and no gram repeats
    //    anywhere in the corpus, so nothing is "frequent";
    //  - no shared 8-word run marks the whole corpus contaminated against
    //    the default self-bench (every 50th doc -> doc 0), which must be
    //    the only contaminated drop here.
    spark.range(0, 30).select(
      col("id").as("doc_id"),
      concat(lit("the "), col("id"), lit(" and "), col("id"),
        lit(" of "), col("id"), lit(" is "), col("id"),
        lit(" plainly "), col("id"), lit(" continuing "), col("id"),
        lit(" onward "), col("id"), lit(" using "), col("id"),
        lit(" more "), col("id"), lit(" written "), col("id"),
        lit(" text "), col("id"), lit(" until "), col("id"),
        lit(" finish")).as("text"),
      lit("src0").as("source"))
      .write.mode("overwrite").parquet(s"$in/docs")
    Main.main(Array("--input", s"$in/docs", "--mode", "corpus", "--out", out))
    val corpus = spark.read.parquet(s"$out/corpus")
    val n = corpus.count()
    assert(n >= 25 && n < 30, s"expected ~29 survivors, got $n")
    assert(corpus.filter(col("doc_id") === 0).count() === 0,
      "the benchmark-contaminated doc must be dropped")
    val splits = corpus.select("split").distinct().as[String].collect().toSet
    assert(splits.nonEmpty && splits.subsetOf(Set("train", "val", "test")))
  }

  test("manifest carries lineage fields") {
    val out = SparkTestSession.tempDir("graft_run4").toString
    val r = Runner.run(spark, turns, Some(convs), out, "runX", snapshot = "snapA")
    val m = r.manifest.filter(col("run_id") === "runX")
    assert(m.count() === 8)
    assert(m.filter(col("snapshot") === "snapA").count() === 8)
    assert(m.agg(sum("n_rows")).as[Long].head() === turns.count())
    assert(m.filter(col("wall_ms") >= 0).count() === 8)
  }

  test("every violations file is sorted by (conv_id, turn_idx), nulls first") {
    val out = SparkTestSession.tempDir("graft_run_order").toString
    Runner.run(spark, turns, Some(convs), out, "order", resume = false)
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(out, "violations"))
      try s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toList
      finally s.close()
    }
    assert(files.nonEmpty)
    val byKey: Ordering[(Option[String], Option[Int])] = Ordering.Tuple2(
      Ordering.Option(Ordering.String), Ordering.Option(Ordering.Int))
    files.foreach { f =>
      val keys = spark.read.parquet(f).select("conv_id", "turn_idx").collect()
        .map(r => (Option(r.getString(0)),
          if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
      assert(keys === keys.sorted(byKey), s"$f is not in key order")
    }
  }

  test("run leaves the session's partitionOverwriteMode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "STATIC")
    try {
      val out = SparkTestSession.tempDir("graft_run6").toString
      Runner.run(spark, turns, Some(convs), out, "runC")
      assert(spark.conf.get(key) === "STATIC")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("verdicts: one file per part_id directory, validatedParts matches " +
    "the run's manifest and verdict rows, nothing left persisted") {
    turns.count(); convs.count() // materialize the cached inputs first
    // compared as id sets, not sizes: the registry holds its RDDs weakly,
    // so other suites' cached frames may be collected during the call
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val out = SparkTestSession.tempDir("graft_run5").toString
    val r = Runner.run(spark, turns, Some(convs), out, "runV")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty)
    val partDirs = new java.io.File(s"$out/verdicts").listFiles()
      .filter(_.getName.startsWith("part_id="))
    assert(partDirs.length === 8)
    partDirs.foreach { d =>
      val files = d.listFiles().map(_.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      assert(files.length === 1, s"${d.getName}: ${files.mkString(", ")}")
    }
    assert(r.validatedParts === 8)
    assert(r.manifest.filter(col("run_id") === "runV").count() ===
      r.validatedParts)
    assert(r.verdicts.count() === r.validatedParts)
  }

  test("spark-submit Main: sft mode renders deduped conversations as " +
    "parseable JSONL messages") {
    val in = SparkTestSession.tempDir("graft_sft_in").toString
    val out = SparkTestSession.tempDir("graft_sft_out").toString
    graft.sources.TranscriptGen
      .transcripts(spark, graft.sources.TranscriptGen.Config(nConvs = 40L))
      .write.mode("overwrite").parquet(s"$in/turns")
    Main.main(Array("--input", s"$in/turns", "--mode", "sft", "--out", out))
    val lines = spark.read.text(s"$out/sft")
    val n = lines.count()
    assert(n > 0 && n <= 40, s"one line per surviving conversation, got $n")
    // every line parses as a messages array with role+content fields
    val parsed = lines.select(from_json(col("value"),
      org.apache.spark.sql.types.DataType.fromDDL(
        "array<struct<role:string,content:string>>")).as("m"))
    assert(parsed.filter(col("m").isNull).count() === 0,
      "all JSONL lines must parse")
    assert(parsed.filter(size(col("m")) >= 1)
      .count() === n)
  }

  test("spark-submit Main: sft mode's conversation-size gate drops a " +
    "planted mega-conversation up front (counted in the audit) while the " +
    "normal conversations still render") {
    val in = SparkTestSession.tempDir("graft_sft_in2").toString
    val out = SparkTestSession.tempDir("graft_sft_out2").toString
    val base = graft.sources.TranscriptGen
      .transcripts(spark, graft.sources.TranscriptGen.Config(nConvs = 20L))
    // mega-conversation: 300 turns on one conv key
    val mega = spark.range(300).select(
      lit("MEGA").as("conv_id"), col("id").cast("int").as("turn_idx"),
      lit("user").as("role"), concat(lit("turn "), col("id")).as("text"),
      lit("search").as("tool"),
      (lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).cast("long") +
        col("id")).cast("timestamp").as("ts"),
      lit(0).as("part_id"))
    base.unionByName(mega, allowMissingColumns = true)
      .write.mode("overwrite").parquet(s"$in/turns")
    Main.main(Array("--input", s"$in/turns", "--mode", "sft", "--out", out,
      "--max-turns", "100"))
    val lines = spark.read.text(s"$out/sft").collect().map(_.getString(0))
    assert(lines.nonEmpty, "normal conversations still render")
    assert(!lines.exists(_.contains("turn 299")),
      "the mega-conversation must be excluded from the corpus")
  }

  test("spark-submit Main: --tool-args and --temporal opt-in sinks carry " +
    "the deep-check violations alongside the default audit outputs") {
    val in = SparkTestSession.tempDir("graft_deep_in").toString
    val out = SparkTestSession.tempDir("graft_deep_out").toString
    turns.write.mode("overwrite").parquet(s"$in/turns")
    convs.write.mode("overwrite").parquet(s"$in/convs")
    TranscriptGen.toolCalls(spark, cfg)
      .write.mode("overwrite").parquet(s"$in/toolcalls")
    Main.main(Array("--input", s"$in/turns", "--conversations", s"$in/convs",
      "--tool-args", s"$in/toolcalls", "--temporal",
      "--out", out, "--run-id", "deep1"))
    // default sinks unchanged
    assert(spark.read.parquet(s"$out/violations").count() > 0)
    // deep sinks present with the expected shapes
    val tool = spark.read.parquet(s"$out/tool_violations")
    assert(tool.columns.toSeq ===
      Seq("conv_id", "turn_idx", "tool", "rule_id", "field", "message"))
    assert(tool.count() > 0)
    val temporal = spark.read.parquet(s"$out/temporal_violations")
    assert(temporal.count() > 0)
    assert(temporal.select("rule_id").distinct().as[String].collect()
      .toSeq === Seq("TS_BEFORE_PARENT"))
  }
}

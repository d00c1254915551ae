package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Drift, Runner, Stats, Validator}
import graft.ops.{Boilerplate, Connected, CorpusPipeline, Decontam, Dedup, TextOps}
import graft.streaming.StreamValidator

/** Inputs of a layer sweep: a transcript table with its conversations, the
  * same turns staged for the streaming layers, and a corpus.
  */
final case class LayerInputs(
    turns: String, convs: String, stream: StreamLayers, corpus: CorpusWorkload)

/** Drives the streaming layers: a turn table staged as `files` files and
  * drained by `Trigger.AvailableNow` a few files per micro-batch, first
  * through `StreamValidator.violations`, then `statefulTsOrder`, each into
  * a parquet sink with a fresh checkpoint.
  */
final class StreamLayers(ctx: Ctx, files: Int, filesPerTrigger: Int) {
  import ctx.{meter, spark}

  private var stagedPath = ""
  private var nTurns = 0L
  private var wantRows: Digest.T = Map.empty
  private var batchTs: DataFrame = _

  /** Stage `turns` under `dir` and compute what both queries must output. */
  def prepare(turns: String, dir: File): Unit = {
    stagedPath = Inputs.stage(spark, turns, files, dir)
    val t = spark.read.parquet(turns)
    nTurns = t.count()
    wantRows = Digest.of(Validator.rowViolations(t))
    batchTs = Validator.tsOrderViolations(t).select(Digest.cols.map(col): _*)
      .localCheckpoint()
  }

  /** Drain the staged files through `build` into a parquet sink; returns
    * every micro-batch's progress.
    */
  private def drain(build: DataFrame => Dataset[_], sink: File,
      ck: File): Seq[StreamingQueryProgress] = {
    val src = spark.readStream.schema(spark.read.parquet(stagedPath).schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toLong)
      .parquet(stagedPath)
    val q = build(src).writeStream.format("parquet")
      .option("path", sink.getPath)
      .option("checkpointLocation", ck.getPath)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally q.stop()
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
  }

  /** Each query's micro-batch progress in the last run. */
  var lastProgress: Map[String, Seq[StreamingQueryProgress]] = Map.empty

  /** Run both queries, one span each, with sinks and checkpoints under
    * `out`, and check their outputs.
    */
  def run(out: File): Unit = {
    val (pv, _) = meter.span("streaming.violations") {
      drain(df => StreamValidator.violations(df),
        new File(out, "violations"), new File(out, "ck_violations"))
    }
    val (po, _) = meter.span("streaming.ts_order") {
      drain(df => StreamValidator.statefulTsOrder(df),
        new File(out, "ts_order"), new File(out, "ck_ts_order"))
    }
    lastProgress = Map("streaming.violations" -> pv,
      "streaming.ts_order" -> po)
    val drained = (pv ++ po).map(_.numInputRows).sum
    if (drained != 2 * nTurns)
      throw new IllegalStateException(
        s"stream drained $drained turns, staged $nTurns per query")
    Digest.require("stream violations sink",
      Digest.of(spark.read.parquet(new File(out, "violations").getPath)),
      wantRows)
    // the stateful check drops turns behind its watermark, so its rows are
    // a subset of the batch ones
    val extra = spark.read.parquet(new File(out, "ts_order").getPath)
      .select(Digest.cols.map(col): _*).exceptAll(batchTs).count()
    if (extra != 0)
      throw new IllegalStateException(s"stream ts-order sink holds $extra " +
        "rows the batch tsOrderViolations does not")
  }
}

/** The traced run's layer sweep: one span around each public-layer call,
  * in the order of the engine's modules, each reporting its wall time and
  * the Spark listener counts of exactly its own jobs.
  */
object Layers extends AdaptiveSparkPlanHelper {

  /** Spans of the sweep, in order. */
  val spans: Seq[String] = Seq(
    "source.scan", "checks.row", "validator.key_window", "validator.dedup",
    "validator.referential", "validator.all", "runner.run",
    "runner.violations_write", "runner.verdicts", "runner.other",
    "stats.col_stats", "drift.chi_square",
    "streaming.violations", "streaming.ts_order",
    "ops.exact_dedup", "ops.minhash_lsh", "ops.connected", "ops.decontam",
    "ops.boilerplate", "ops.annotate_funnel")

  val keyed: Set[String] = Set("validator.key_window", "validator.dedup",
    "validator.all", "runner.violations_write")
  val planned: Set[String] = Set("checks.row", "validator.key_window",
    "validator.dedup", "validator.referential", "validator.all")
  val counted: Set[String] =
    Set("checks.row", "validator.all", "ops.minhash_lsh", "ops.connected")
  val streaming: Set[String] = Set("streaming.violations", "streaming.ts_order")

  /** Every per-layer metric name a sweep reports, with its unit. */
  val metricUnits: Seq[(String, String)] = spans.flatMap { s =>
    Seq(s"$s.wall_s" -> "s", s"$s.cpu_s" -> "s", s"$s.shuffle_mb" -> "MB",
      s"$s.spill_mb" -> "MB", s"$s.stages" -> "count") ++
      (if (keyed(s)) Seq(s"$s.max_task_s" -> "s") else Nil) ++
      (if (planned(s)) Seq(s"$s.exchanges" -> "count") else Nil) ++
      (if (counted(s)) Seq(s"$s.rows_out" -> "count") else Nil) ++
      (if (streaming(s)) Seq(s"$s.planning_s" -> "s", s"$s.commit_s" -> "s")
       else Nil) ++
      (if (s == "streaming.ts_order")
         Seq(s"$s.state_rows" -> "count", s"$s.state_mb" -> "MB")
       else Nil)
  }

  /** Captures the executed plan of each action, for Exchange counts. */
  private final class Plans extends QueryExecutionListener {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(seen += qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size

  def sweep(ctx: Ctx, in: LayerInputs): Map[String, Double] = {
    import ctx.{meter, spark}
    val plans = new Plans
    spark.listenerManager.register(plans)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val mark = meter.spans.length

    def layer[T](name: String)(body: => T): T = meter.span(name)(body)._1

    /** Write `df` to the noop sink under a span; records the Exchange count
      * and output rows of the layers that report them.
      */
    def noop(name: String, df: DataFrame): Unit = {
      val obs = Observation(name.replace('.', '_'))
      plans.synchronized(plans.seen.clear())
      layer(name) {
        val d = if (counted(name)) df.observe(obs, count(lit(1)).as("n")) else df
        d.write.format("noop").mode("overwrite").save()
      }
      meter.drain()
      if (planned(name)) out(s"$name.exchanges") =
        plans.synchronized(plans.seen.lastOption)
          .map(qe => exchanges(qe.executedPlan).toDouble).getOrElse(-1.0)
      if (counted(name)) out(s"$name.rows_out") =
        obs.get("n").asInstanceOf[Long].toDouble
    }

    val turns = spark.read.parquet(in.turns)
    val convs = spark.read.parquet(in.convs)
    try {
      noop("source.scan", turns)
      noop("checks.row", Validator.rowViolations(turns))
      noop("validator.key_window", Validator.tsOrderViolations(turns))
      noop("validator.dedup", Validator.dupViolations(turns))
      noop("validator.referential", Validator.orphanViolations(turns, convs))
      noop("validator.all",
        Validator.allViolations(turns, Some(convs), sortOutput = false))

      val runDir = ctx.freshDir("sweep-runner")
      layer("runner.run") {
        Runner.run(spark, turns, Some(convs), runDir.getPath, "bench",
          resume = false)
      }
      ctx.delete(runDir)

      layer("stats.col_stats")(Stats.colStats(turns).collect())
      layer("drift.chi_square") {
        Drift.chiSquare(turns, "role").collect()
        Drift.chiSquare(turns, "tool").collect()
      }

      val streamDir = ctx.freshDir("sweep-stream")
      in.stream.run(streamDir)
      ctx.delete(streamDir)

      // each ops layer sees what the corpus pipeline gives it: exact dedup
      // the documents that pass the language and quality gates, the later
      // layers the exact-dedup keepers among them
      val cfg = CorpusPipeline.Config()
      val text = col("text")
      val early = in.corpus.docs
        .filter(TextOps.langId(text).isin(cfg.langs.toSeq: _*) &&
          TextOps.qualityScore(text) >= cfg.minQuality)
        .select("doc_id", "text").localCheckpoint()
      noop("ops.exact_dedup", Dedup.exactGroups(early, "text", "doc_id"))
      val kept = early.join(Dedup.exactGroups(early, "text", "doc_id")
        .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val pairs = layer("ops.minhash_lsh") {
        val p = Dedup.minhashLshPairsExact(kept, "text", "doc_id",
          n = cfg.nearDupShingle, threshold = cfg.nearDupThreshold).persist()
        out("ops.minhash_lsh.rows_out") = p.count().toDouble
        p
      }
      noop("ops.connected", Connected.dedupClusters(kept, pairs, "doc_id"))
      pairs.unpersist()
      noop("ops.decontam", Decontam.contaminated(kept, in.corpus.bench,
        "text", "doc_id", cfg.decontamN))
      noop("ops.boilerplate", Boilerplate.coverageFrac(kept, "text", "doc_id",
        cfg.boilerN, cfg.boilerMinFrac))
      val corpusDir = ctx.freshDir("sweep-corpus")
      in.corpus.op(corpusDir, traced = true)
      in.corpus.check(corpusDir)
      ctx.delete(corpusDir)
    } finally spark.listenerManager.unregister(plans)
    meter.drain()

    val byName = meter.spans.drop(mark).map(s => s.name -> s).toMap
    def put(name: String, wallS: Double, t: Totals): Unit = {
      out(s"$name.wall_s") = wallS
      out(s"$name.cpu_s") = t.cpuNs / 1e9
      out(s"$name.shuffle_mb") = t.shuffleWriteBytes / MB
      out(s"$name.spill_mb") = t.spillBytes / MB
      out(s"$name.stages") = t.stages.toDouble
      if (keyed(name)) out(s"$name.max_task_s") = t.maxTaskMs / 1e3
    }
    spans.filterNot(n => n.startsWith("runner.") && n != "runner.run")
      .foreach { name =>
        val s = byName(name)
        put(name, s.wallNs / 1e9, meter.totalsOf(s))
      }
    val run = byName("runner.run")
    val runWall = run.wallNs / 1e9
    val vw = meter.execWallS(run, Meter.ViolationsWrite)
    val vd = meter.execWallS(run, Meter.Verdicts)
    put("runner.violations_write", vw,
      meter.totalsOf(run, Some(Meter.ViolationsWrite)))
    put("runner.verdicts", vd, meter.totalsOf(run, Some(Meter.Verdicts)))
    put("runner.other", runWall - vw - vd,
      meter.totalsOf(run, Some(Meter.Other)))

    streaming.foreach { name =>
      val ps = in.stream.lastProgress(name)
      def dur(k: String) = ps.map(p =>
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      out(s"$name.planning_s") = dur("queryPlanning")
      out(s"$name.commit_s") = dur("walCommit") + dur("commitOffsets")
      if (name == "streaming.ts_order") {
        val ops = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
        out(s"$name.state_rows") = ops.map(_.numRowsTotal).sum.toDouble
        out(s"$name.state_mb") = ops.map(_.memoryUsedBytes).sum / MB
      }
    }
    out.toMap
  }

  private val MB = 1024.0 * 1024.0
}

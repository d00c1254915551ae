package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Drift, Runner, Stats, Validator}
import graft.ops.CorpusPipeline

/** What one run shares: the session, the listener, the seed and the work
  * directory every input, sink and checkpoint lives under.
  */
final class Ctx(val spark: SparkSession, val meter: Meter, val seed: Long,
    val work: File) {
  private var n = 0

  /** A new, empty directory under the work directory. */
  def freshDir(tag: String): File = {
    n += 1
    val d = new File(work, f"$tag-$n%04d")
    FileUtils.deleteDirectory(d)
    d.mkdirs()
    d
  }

  def delete(d: File): Unit = FileUtils.deleteDirectory(d)

  /** Time `body` in a span; only traced runs split an op into layers. */
  def step[T](name: String, traced: Boolean)(body: => T): (T, Double) =
    if (traced) meter.span(name)(body)
    else {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
}

/** One op's outcome: its wall time and the wall of the steps the run
  * summary reports (validate, profile).
  */
final case class OpResult(wallS: Double, steps: Map[String, Double])

/** A benchmark workload: inputs built from the seed, one closed-loop
  * operation over them, and a check of every output the operation wrote.
  */
trait Workload {
  def name: String
  def unit: String
  /** Items (turns or documents) one op processes. */
  def items: Long
  /** Build the inputs under `dir` from the seed (set-up, timed). */
  def prepare(dir: File): Unit
  /** Compute what every op must output (once, outside the timed region). */
  def expect(): Unit
  /** Run one op, writing its sinks under `out`. */
  def op(out: File, traced: Boolean): OpResult
  /** Throw if the op's outputs under `out` are wrong. */
  def check(out: File): Unit
}

/** Order-independent digest of a violations table: per rule, the row count
  * and the sum of a 64-bit hash over every column. Two tables with equal
  * digests hold the same rows with overwhelming probability.
  */
object Digest {
  type T = Map[String, (Long, BigDecimal)]

  val cols: Seq[String] =
    Seq("conv_id", "turn_idx", "part_id", "rule_id", "field", "message", "text")

  def of(df: DataFrame): T =
    df.groupBy("rule_id")
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap

  def total(d: T): Long = d.values.map(_._1).sum

  def require(label: String, got: T, want: T): Unit =
    if (got != want) {
      val rules = (got.keySet ++ want.keySet).toSeq.sorted.filter(r =>
        got.get(r) != want.get(r)).map(r =>
        s"$r: got ${got.get(r).map(_._1).getOrElse(0L)} rows, " +
          s"want ${want.get(r).map(_._1).getOrElse(0L)}")
      throw new IllegalStateException(
        s"$label differs from the expected rows: ${rules.mkString("; ")}")
    }
}

/** Nightly audit: `Runner.run` as Main's audit mode calls it, then one
  * profile op, `Stats.colStats` + `Drift.chiSquare` on role and tool.
  */
final class AuditWorkload(ctx: Ctx, nConvs: Long) extends Workload {
  import ctx.spark

  val name = "audit"
  val unit = "turns"
  var turnsPath = ""
  var convsPath = ""
  private var nTurns = 0L
  private var want: Digest.T = Map.empty
  private var lastVerdictSum = 0L

  def items: Long = nTurns
  def turns: DataFrame = spark.read.parquet(turnsPath)
  def convs: DataFrame = spark.read.parquet(convsPath)

  def prepare(dir: File): Unit = {
    val (t, c) = Inputs.transcripts(spark, ctx.seed, nConvs, dir)
    turnsPath = t
    convsPath = c
    nTurns = turns.count()
  }

  def expect(): Unit = {
    val t = turns
    want = Digest.of(Validator.rowViolations(t)
      .unionByName(Validator.orphanViolations(t, convs))
      .unionByName(Validator.tsOrderViolations(t))
      .unionByName(Validator.dupViolations(t)))
  }

  def op(out: File, traced: Boolean): OpResult = {
    val t0 = System.nanoTime()
    val (r, validateS) = ctx.step("runner.run", traced) {
      Runner.run(spark, turns, Some(convs), out.getPath, "bench",
        resume = false)
    }
    lastVerdictSum =
      r.verdicts.agg(sum("n_violations")).collect()(0).getLong(0)
    val t = turns
    val profileS =
      ctx.step("stats.col_stats", traced)(Stats.colStats(t).collect())._2 +
        ctx.step("drift.chi_square", traced) {
          Drift.chiSquare(t, "role").collect()
          Drift.chiSquare(t, "tool").collect()
        }._2
    OpResult((System.nanoTime() - t0) / 1e9,
      Map("validate" -> validateS, "profile" -> profileS))
  }

  def check(out: File): Unit = {
    Digest.require(s"$name violations sink",
      Digest.of(spark.read.parquet(new File(out, "violations").getPath)), want)
    if (lastVerdictSum != Digest.total(want))
      throw new IllegalStateException(s"$name verdicts count " +
        s"$lastVerdictSum violations, the sink holds ${Digest.total(want)}")
  }
}

/** Corpus construction as Main's corpus mode runs it:
  * `CorpusPipeline.annotateManaged`, the split-partitioned corpus write and
  * the funnel report.
  */
final class CorpusWorkload(ctx: Ctx, baseDocs: Long, k: Int)
    extends Workload {
  import ctx.spark

  val name = "corpus"
  val unit = "docs"
  var docsPath = ""
  var benchPath = ""
  private var nDocs = 0L
  private var lastFunnel: Map[String, Long] = Map.empty
  private var firstFunnel: Option[Map[String, Long]] = None

  def items: Long = nDocs
  def docs: DataFrame = spark.read.parquet(docsPath)
  def bench: DataFrame = spark.read.parquet(benchPath)

  def prepare(dir: File): Unit = {
    val (d, b) = Inputs.corpus(spark, ctx.seed, baseDocs, k, dir)
    docsPath = d
    benchPath = b
    nDocs = docs.count()
  }

  def expect(): Unit = ()

  def op(out: File, traced: Boolean): OpResult = {
    val (funnel, wall) = ctx.step("ops.annotate_funnel", traced) {
      val (annotated, caches) = CorpusPipeline
        .annotateManaged(docs, bench, "text", "doc_id", "source")
      val ann = annotated
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        ann.filter(col("drop_stage").isNull).drop("drop_stage")
          .write.mode("overwrite").partitionBy("split")
          .parquet(new File(out, "corpus").getPath)
        CorpusPipeline.funnel(ann).orderBy("stage").collect()
      } finally {
        ann.unpersist()
        caches.close()
      }
    }
    lastFunnel = funnel.map(r => r.getString(0) -> r.getLong(1)).toMap
    OpResult(wall, Map.empty)
  }

  def check(out: File): Unit = {
    val total = lastFunnel.values.sum
    if (total != nDocs)
      throw new IllegalStateException(
        s"funnel counts sum to $total, the input holds $nDocs documents")
    val kept = lastFunnel.collect { case (s, n) if s.startsWith("kept:") => n }
      .sum
    val written = spark.read.parquet(new File(out, "corpus").getPath).count()
    if (written != kept)
      throw new IllegalStateException(
        s"corpus sink holds $written documents, the funnel kept $kept")
    if (firstFunnel.exists(_ != lastFunnel))
      throw new IllegalStateException(s"funnel differs between ops: " +
        s"${firstFunnel.get} vs $lastFunnel")
    firstFunnel = Some(lastFunnel)
  }

  def funnel: Map[String, Long] = lastFunnel
}

object Workloads {
  val names: Seq[String] = Seq("audit", "corpus")

  /** Input sizes. On a 4-core host one op is dominated by per-job fixed
    * cost and JIT warm-up (a warm audit op takes ~6.5 s at 2.5k
    * conversations, ~7.5 s at 5k), so the tables stay small and a run's time
    * goes to warm-up and measuring.
    */
  val auditConvs = 2500L
  val corpusBaseDocs = 400L
  val corpusReplicas = 2

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "audit"  => new AuditWorkload(ctx, auditConvs)
    case "corpus" => new CorpusWorkload(ctx, corpusBaseDocs, corpusReplicas)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }
}

package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by perfbench/run.py:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --heap <size> --work <dir> --spans <file>
  * }}}
  *
  * One JVM, one `local[cpus]` session with graft.Bench's session conf. The
  * run builds its inputs from the seed, warms up, then runs the workload's
  * op in a closed loop for a fixed number of ops derived from `--seconds`,
  * checking every op's outputs. The last stdout line is the result object;
  * the line before it is the run summary with every workload-specific
  * metric and the host facts.
  */
object Main {

  private final case class Args(
      workload: String = "", seed: Long = 0L, seconds: Int = 10,
      trace: Boolean = false, cpus: Int = 0, heap: String = "",
      work: String = "", spans: String = "")

  private def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest     => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest  => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest    => parse(rest, a.copy(trace = v == "1"))
    case "--cpus" :: v :: rest     => parse(rest, a.copy(cpus = v.toInt))
    case "--heap" :: v :: rest     => parse(rest, a.copy(heap = v))
    case "--work" :: v :: rest     => parse(rest, a.copy(work = v))
    case "--spans" :: v :: rest    => parse(rest, a.copy(spans = v))
    case Nil                       => a
    case other :: _ =>
      throw new IllegalArgumentException(s"unknown argument: $other")
  }

  /** Untimed warm-up ops per run, charged to set-up. The first op in a
    * fresh JVM is ~1.4-2x slower than the second and ops keep speeding up
    * for ten more. The benchmark gate's time budget (4 + 22 x workloads runs
    * in 57 min) leaves room for one warm-up op and two measured ones; over
    * ten runs, the second op's wall spreads no more than that of later ops.
    */
  private val WarmOps = 1
  /** Nominal seconds of one measured op. A run measures
    * `max(1, seconds / OpSeconds)` ops (two at `--seconds 10`), a count that
    * depends on `--seconds` only: were it to depend on op speed, a faster
    * program would be measured on more-warmed ops.
    */
  private val OpSeconds = 5
  private val MB = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      } + "\""
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int     => n.toString
    case n: Long    => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null       => "null"
    case other      => json(other.toString)
  }

  private def metric(v: Double, unit: String): Map[String, Any] =
    Map("value" -> v, "unit" -> unit)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workloads.names.contains(a.workload),
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    require(a.cpus > 0 && a.work.nonEmpty, "--cpus and --work are required")
    val work = new File(a.work)
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      // graft.Bench's session conf
      .config("spark.sql.shuffle.partitions", (a.cpus * 2).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (16L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32L << 20).toString)
      .config("spark.ui.enabled", "false")
      // everything the run writes stays under its work directory
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val runId = s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}"
    val meter = new Meter(spark.sparkContext, runId)
    val ctx = new Ctx(spark, meter, a.seed, work)
    try run(a, ctx, sessionS)
    finally spark.stop()
  }

  private def run(a: Args, ctx: Ctx, sessionS: Double): Unit = {
    import ctx.{meter, spark}
    val wl = Workloads(a.workload, ctx)

    // ---- set-up: input build + warm-up ops ----
    val i0 = System.nanoTime()
    wl.prepare(ctx.freshDir("input"))
    val inputS = secs(i0)
    val c0 = System.nanoTime()
    wl.expect()
    val checkS = secs(c0)

    var attempted = 0
    var failed = 0
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      println(s"FAILED ${wl.name} $what: $e")
      e.printStackTrace()
    }
    /** One op with its output check; `None` when either fails. Returns the
      * op, its largest per-task execution memory and the CPU seconds the
      * JVM spent on it (tasks, driver, JIT and GC threads).
      */
    def attempt(traced: Boolean): Option[(OpResult, Double, Double)] = {
      attempted += 1
      val out = ctx.freshDir("op")
      try {
        val cpu0 = processCpuNs()
        val (r, _) = meter.span("op")(wl.op(out, traced))
        val cpuS = (processCpuNs() - cpu0) / 1e9
        val span = meter.spans.last
        wl.check(out)
        meter.drain()
        Some((r, meter.totalsOf(span).peakExecMem / MB, cpuS))
      } catch {
        case e: Throwable => fail(s"op $attempted", e); None
      } finally {
        ctx.delete(out)
        spark.catalog.clearCache()
      }
    }

    // Traced runs warm up too, so that no layer of the sweep runs in a cold
    // JVM, then sweep the layers.
    val warm = (1 to WarmOps)
      .flatMap(_ => attempt(traced = false)).map(_._1.wallS)
    val setupS = sessionS + inputS + warm.sum
    val layerMetrics: Map[String, Double] =
      if (!a.trace) Map.empty
      else
        try Layers.sweep(ctx, layerInputs(ctx, wl))
        catch {
          case e: Throwable =>
            attempted += 1
            fail("layer sweep", e)
            Map.empty
        }

    // ---- measured ops: closed loop, one client ----
    // traced runs price the tracing with a plain op and a traced one
    val nOps = if (a.trace) 2 else math.max(1, a.seconds / OpSeconds)
    val ops = (0 until nOps).flatMap { i =>
      val traced = a.trace && i == 1
      attempt(traced).map { case (r, mem, cpu) => (r, mem, cpu, traced) }
    }
    val plain = ops.filterNot(_._4)
    val walls = plain.map(_._1.wallS)
    val itemsPerS = wl.items / median(walls)
    val itemsPerCpuS = wl.items / median(plain.map(_._3))
    def stepPerS(step: String, items: Long) =
      items / median(plain.map(_._1.steps(step)))
    val overheadPct =
      100.0 * (median(ops.filter(_._4).map(_._1.wallS)) / median(walls) - 1.0)

    // ---- run summary (every workload-specific metric + host facts) ----
    val specific: Map[String, Any] = wl match {
      case w: AuditWorkload => Map(
        "validate_turns_per_s" -> stepPerS("validate", w.items),
        "profile_turns_per_s" -> stepPerS("profile", w.items))
      case w: CorpusWorkload => Map(
        "corpus_docs_per_s" -> itemsPerS,
        "funnel" -> w.funnel)
      case _ => Map.empty
    }
    val summary = Map(
      "summary" -> wl.name, "seed" -> a.seed, "trace" -> a.trace,
      "cpus" -> a.cpus, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap" -> a.heap, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "items_per_op" -> wl.items, "item" -> wl.unit,
      "ops" -> ops.size, "op_walls_s" -> ops.map(_._1.wallS),
      "op_cpu_s" -> ops.map(_._3),
      "failed_ops_share" -> failed.toDouble / math.max(attempted, 1),
      "setup" -> Map("session_s" -> sessionS, "input_s" -> inputS,
        "warmup_op_s" -> warm),
      "check_s" -> checkS,
      "setup_s" -> setupS,
      "exec_mem_peak_mb" -> median(plain.map(_._2))) ++ specific
    println(json(summary))

    if (a.trace && a.spans.nonEmpty) writeSpans(a.spans, meter)

    val metrics: Map[String, Any] =
      if (a.trace) Layers.metricUnits.map { case (n, u) =>
        n -> metric(layerMetrics.getOrElse(n, Double.NaN), u)
      }.toMap + ("trace.overhead_pct" -> metric(overheadPct, "%"))
      else Map(
        "items_per_s" -> metric(itemsPerS, "1/s"),
        "items_per_cpu_s" -> metric(itemsPerCpuS, "1/s"),
        "setup_s" -> metric(setupS, "s"))
    println(json(Map(
      "correct" -> (failed == 0 && plain.nonEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics)))
  }

  /** The streaming layers drain the transcript table staged as this many
    * files, this many per micro-batch.
    */
  private val StreamFiles = 8
  private val StreamFilesPerTrigger = 2

  /** Side inputs of the layer sweep: every layer runs in every traced run,
    * on this workload's own tables where it has them.
    */
  private def layerInputs(ctx: Ctx, wl: Workload): LayerInputs = {
    val dir = ctx.freshDir("layers")
    def streamOf(turns: String) = {
      val s = new StreamLayers(ctx, StreamFiles, StreamFilesPerTrigger)
      s.prepare(turns, dir)
      s
    }
    wl match {
      case w: AuditWorkload =>
        val c = new CorpusWorkload(ctx, Workloads.corpusBaseDocs,
          Workloads.corpusReplicas)
        c.prepare(dir)
        LayerInputs(w.turnsPath, w.convsPath, streamOf(w.turnsPath), c)
      case w: CorpusWorkload =>
        val au = new AuditWorkload(ctx, Workloads.auditConvs)
        au.prepare(dir)
        LayerInputs(au.turnsPath, au.convsPath, streamOf(au.turnsPath), w)
    }
  }

  /** Spans of the run, one JSON object per line, with their listener
    * counts.
    */
  private def writeSpans(path: String, meter: Meter): Unit = {
    meter.drain()
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try meter.spans.foreach { s =>
      val t = meter.totalsOf(s)
      w.println(json(Map(
        "run_id" -> s.runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent.map(_.toLong).getOrElse(-1L),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallNs / 1e9, "cpu_s" -> t.cpuNs / 1e9,
        "shuffle_mb" -> t.shuffleWriteBytes / MB,
        "spill_mb" -> t.spillBytes / MB, "stages" -> t.stages,
        "tasks" -> t.tasks, "max_task_s" -> t.maxTaskMs / 1e3,
        "exec_mem_peak_mb" -> t.peakExecMem / MB)))
    } finally w.close()
  }
}

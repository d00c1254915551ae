package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ad-hoc profiler for [[SparkEntry.queries]] entries, in a session with
  * [[Bench]]'s conf so an entry is priced as the bench prices it.
  * Layer-by-layer timings of the validate job come from perfbench's traced
  * `audit` run instead.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 2).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (16L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($r)")
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // mode: `Probe q <sfDir> <name...>` times individual SparkEntry queries
    if (args.headOption.contains("q")) {
      val sfDir = args(1)
      args.drop(2).foreach { name =>
        val fn = SparkEntry.queries(name)
        time(name)(noop(fn(spark, sfDir))) // warm
        time(name)(noop(fn(spark, sfDir)))
      }
      spark.stop()
      return
    }

    // mode: `Probe jq <sfDir> <name...>` — like `q` but also counts driver
    // jobs / stages / tasks per run (host-independent scheduler-overhead
    // evidence: a lazy-checkpoint or shuffle-removal win shows up here even
    // when the sandbox host's wall-clock is noisy).
    if (args.headOption.contains("jq")) {
      val sfDir = args(1)
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
      class Counter extends SparkListener {
        val jobs = new java.util.concurrent.atomic.AtomicLong
        val stages = new java.util.concurrent.atomic.AtomicLong
        val tasks = new java.util.concurrent.atomic.AtomicLong
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          tasks.incrementAndGet()
      }
      args.drop(2).foreach { name =>
        val fn = SparkEntry.queries(name)
        (1 to 2).foreach { rep =>
          val c = new Counter
          spark.sparkContext.addSparkListener(c)
          val t0 = System.nanoTime()
          noop(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the async listener bus drain
          spark.sparkContext.removeSparkListener(c)
          println(f"PROBE jq $name%-28s rep$rep $sec%7.2f s  " +
            f"jobs=${c.jobs.get}%3d stages=${c.stages.get}%3d tasks=${c.tasks.get}%5d")
        }
      }
      spark.stop()
      return
    }

    // mode: `Probe qtime <sfDir> <name>` — split one query's driver-side
    // phases: analysis, optimization+physical planning, execution. Used to
    // attribute the fixed ~5-14 s cost of the planted-decode entries.
    if (args.headOption.contains("qtime")) {
      val sfDir = args(1)
      val name = args(2)
      (1 to 2).foreach { rep =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val qe = df.queryExecution
        qe.assertAnalyzed()
        val t1 = System.nanoTime()
        qe.optimizedPlan
        val t2 = System.nanoTime()
        qe.executedPlan
        val t3 = System.nanoTime()
        df.count()
        val t4 = System.nanoTime()
        println(f"PROBE qtime $name rep$rep analyze=${(t1 - t0) / 1e9}%.2f " +
          f"optimize=${(t2 - t1) / 1e9}%.2f plan=${(t3 - t2) / 1e9}%.2f " +
          f"exec=${(t4 - t3) / 1e9}%.2f s")
      }
      spark.stop()
      return
    }

    // mode: `Probe plans <sfDir> <outDir> <name...>` — write each query's
    // .explain("formatted") to <outDir>/<name>.txt (the r06 plan-evidence
    // dump; EXECUTED plan after running the query so AQE's final shape —
    // join strategies, reused exchanges — is what lands in the file).
    if (args.headOption.contains("plans")) {
      val sfDir = args(1)
      val outDir = args(2)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      args.drop(3).foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        noop(df) // a failing query aborts the dump: no plan file for it
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"PROBE plans $name written")
      }
      spark.stop()
      return
    }

    // mode: `Probe control` — the zero-engine-code host-ceiling control the
    // BASELINE.md scaling sections cite: marginal pure-codegen work (a
    // 12e9-row aggregate minus a 3e9-row one cancels session/JIT startup),
    // no IO, no shuffle. Run at two SPARK_GRAFT_CPUS levels the same day to
    // learn what efficiency ANY Spark job can reach on this host right now.
    if (args.headOption.contains("control")) {
      def run(n: Long): Double = {
        val t0 = System.nanoTime()
        spark.range(n).agg(bit_xor(xxhash64(col("id"), lit(1)))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val small = run(3000000000L)
      val big = run(12000000000L)
      println(f"PROBE control cpus=$cpus%s small3e9=$small%.2f big12e9=$big%.2f " +
        f"marginal9e9=${big - small}%.2f s")
      spark.stop()
      return
    }

    spark.stop()
    throw new IllegalArgumentException(
      "usage: Probe q|jq|qtime|plans|control <args...>")
  }
}

package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test run (suites run sequentially in the
  * forked test JVM), and the run's temp dirs.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val tempDirs: ConcurrentLinkedQueue[Path] = {
    val q = new ConcurrentLinkedQueue[Path]()
    sys.addShutdownHook(q.forEach { d =>
      if (Files.exists(d)) {
        val paths = Files.walk(d)
        try paths.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
    })
    q
  }

  /** A fresh temp dir, deleted recursively when the test JVM exits. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }
}

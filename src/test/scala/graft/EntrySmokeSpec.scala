package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `SparkEntry.queries` entry runs to completion on the smallest
  * fixture scale: the sf0.001 tables under `testdata/` in the home
  * directory (TESTDATA.md). Verify and Bench catch
  * per-entry exceptions so one broken entry cannot abort a dump; this
  * spec is where a throwing entry fails. Each entry is fully evaluated
  * through the `noop` sink, so no projected column escapes evaluation.
  */
class EntrySmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDir =
    Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString

  test("the sf0.001 fixture tables are present") {
    assert(Files.exists(Paths.get(sfDir, "lineitem.parquet")),
      s"missing fixture tables under $sfDir")
  }

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name runs at sf0.001") {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
  }
}

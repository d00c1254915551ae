package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SpanDedup

/** Winnowing span-dedup laws. The one that matters at scale: the winnowing
  * GUARANTEE — any two documents sharing a verbatim span of ≥ k+w−1 chars
  * share at least one fingerprint, wherever the span sits in either
  * document. Everything downstream (pair generation, incidence) rests on
  * it.
  */
class SpanDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val k = 16
  private val w = 8
  private val rnd = new scala.util.Random(31)
  private def randText(n: Int): String =
    (1 to n).map(_ => "0123456789abcdefghijklmnopqrstuv"(rnd.nextInt(32)))
      .mkString

  test("winnowing guarantee: a shared span of k+w-1 chars always yields a " +
    "shared fingerprint, at any offsets (100 planted pairs)") {
    val span = k + w - 1
    val docs = (0 until 100).flatMap { p =>
      val shared = randText(span)
      val a = randText(rnd.nextInt(200)) + shared + randText(rnd.nextInt(200))
      val b = randText(rnd.nextInt(200)) + shared + randText(rnd.nextInt(200))
      Seq((p * 2L, a), (p * 2L + 1, b))
    }
    val pairs = SpanDedup.spanPairs(docs.toDF("id", "t"), "t", "id", k, w)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 100).foreach { p =>
      assert(pairs.contains((p * 2L, p * 2L + 1)),
        s"planted pair $p not detected")
    }
  }

  test("distinct random documents produce no pairs (no false fingerprints " +
    "from the pipeline itself)") {
    val docs = (0 until 80).map(i => (i.toLong, randText(300)))
    val n = SpanDedup.spanPairs(docs.toDF("id", "t"), "t", "id", k, w).count()
    assert(n === 0L, "32-symbol random 300-char docs must not share 16-grams")
  }

  test("fingerprint counts at the short-document boundary") {
    val docs = Seq(
      (1L, randText(k - 1)),          // shorter than one gram → none
      (2L, randText(k)),              // exactly one gram → one fp
      (3L, randText(k + w - 2)),      // grams < w → single clamped window
      (4L, null: String))
    val got = SpanDedup.fingerprints(docs.toDF("id", "t"), "t", "id", k, w)
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(!got.contains(1L) && !got.contains(4L))
    assert(got(2L) === 1L)
    assert(got(3L) === 1L)
  }

  test("spanIncidence: shared trio exposes a positive fraction, loner zero") {
    val boiler = randText(60)
    val docs = Seq(
      (1L, randText(100) + boiler),
      (2L, boiler + randText(100)),
      (3L, randText(80) + boiler + randText(40)),
      (9L, randText(300)))
    val got = SpanDedup
      .spanIncidence(docs.toDF("id", "t"), "t", "id", k, w)
      .select("id", "shared_frac").as[(Long, Double)].collect().toMap
    Seq(1L, 2L, 3L).foreach(id =>
      assert(got(id) > 0.0, s"doc $id shares the boilerplate span"))
    assert(got(9L) === 0.0)
  }

  test("bucket cap drops a pathological fingerprint bucket's pairs") {
    val same = randText(k + w - 1)
    val docs = (0 until 30).map(i => (i.toLong, same)) :+
      (100L -> (randText(60) + randText(60)))
    val pairs = SpanDedup.spanPairs(docs.toDF("id", "t"), "t", "id", k, w,
      minShared = 1, maxBucket = 10).count()
    assert(pairs === 0L, "capped bucket must not produce pairs")
  }

  test("dedupLines drops a line recurring across docs, keeps unique and " +
    "short lines, and reassembles untouched docs byte-identically") {
    val banner = "subscribe to our newsletter for all the updates"
    val docs = Seq(
      (0L, s"alpha unique content line zero\n$banner\nok"),
      (1L, s"beta unique content line one\n$banner"),
      (2L, s"$banner\ngamma unique content line two"),
      (3L, "delta untouched document with no banner at all"),
      (4L, s"short\nshort\nepsilon unique content line four"))
      .toDF("doc_id", "t")
    val out = SpanDedup.dedupLines(docs, "t", "doc_id")
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    assert(out(0)._2 === "alpha unique content line zero\nok")
    assert(out(0)._4 === 1)
    assert(out(1)._2 === "beta unique content line one")
    assert(out(2)._2 === "gamma unique content line two")
    assert(out(3)._2 === "delta untouched document with no banner at all")
    assert(out(3)._4 === 0 && out(3)._3 === 1)
    // "short" recurs WITHIN one doc and is under the length floor: kept
    assert(out(4)._2 === "short\nshort\nepsilon unique content line four")
  }

  test("dedupLines frequency is DISTINCT-doc based: a line repeated many " +
    "times inside ONE doc is not boilerplate") {
    val line = "this exact line repeats inside a single document"
    val docs = Seq(
      (0L, s"$line\n$line\n$line"),
      (1L, "completely different material here")).toDF("doc_id", "t")
    val out = SpanDedup.dedupLines(docs, "t", "doc_id")
      .filter(col("doc_id") === 0L).as[(Long, String, Int, Int)].head()
    assert(out._4 === 0, "within-doc repetition alone must not drop")
    assert(out._2 === s"$line\n$line\n$line")
  }

  test("dedupLines is invariant under repartitioning (text-not-shuffled " +
    "plan shape pinned in PlanSpec)") {
    val banner = "recurring banner line for the partitioning invariance test"
    val docs = (0L until 200L).map { i =>
      val base = s"doc $i unique content with enough length to count"
      (i, if (i % 3 == 0) s"$base\n$banner" else base)
    }.toDF("doc_id", "t")
    val a = SpanDedup.dedupLines(docs, "t", "doc_id")
      .as[(Long, String, Int, Int)].collect().toSet
    val b = SpanDedup.dedupLines(docs.repartition(7), "t", "doc_id")
      .as[(Long, String, Int, Int)].collect().toSet
    assert(a === b)
    assert(a.count(_._4 == 1) === 67, "every third doc loses its banner")
  }
}

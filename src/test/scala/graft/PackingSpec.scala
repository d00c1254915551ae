package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Packing, Sampling}

/** Sequence packing (two-phase prefix sum) + per-group weighted sampling.
  * The load-bearing invariant: the segmented distributed prefix sum is
  * row-identical to the naive single-reducer window for EVERY segment size,
  * on any partitioning — that equivalence is what licenses the scalable
  * plan shape at 10^12 rows.
  */
class PackingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  // sparse, shuffled ids (packing must not assume density), weights
  // spanning 0 .. 3x budget so docs straddle packs
  private val rows: Seq[(Long, Long)] =
    rnd.shuffle((0 until 500).map(i => i.toLong * 3 + (i % 2)).toVector)
      .map(id => id -> rnd.nextInt(3000).toLong)
  private val budget = 1000L

  private def naive(): Map[Long, (Long, Long)] = {
    // driver-side reference: exclusive cumsum in id order
    var cum = 0L
    rows.sortBy(_._1).map { case (id, w) =>
      val r = id -> ((cum, cum / budget)); cum += w; r
    }.toMap
  }

  test("packByBudget matches the naive global cumsum for many segment sizes") {
    val expected = naive()
    val df = rows.toDF("id", "w")
    for (segSize <- Seq(1L, 7L, 64L, 1L << 20)) {
      val got = Packing.packByBudget(df, "id", "w", budget, segSize)
        .select("id", "cum_before", "pack_id")
        .as[(Long, Long, Long)].collect()
      assert(got.length === rows.size, s"segSize $segSize")
      got.foreach { case (id, cum, pack) =>
        assert((cum, pack) === expected(id), s"id $id at segSize $segSize")
      }
    }
  }

  test("packByBudget is invariant under repartitioning") {
    val df = rows.toDF("id", "w")
    val a = Packing.packByBudget(df, "id", "w", budget, 64L)
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    val b = Packing.packByBudget(df.repartition(7), "id", "w", budget, 64L)
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("null weights count as zero; oversized docs start their own region") {
    val df = Seq(
      (1L, Some(300L)), (2L, None), (3L, Some(2500L)), (4L, Some(100L)))
      .toDF("id", "w")
    val got = Packing.packByBudget(df, "id", "w", 1000L, 2L)
      .select("id", "cum_before", "pack_id")
      .as[(Long, Long, Long)].collect()
      .map { case (id, cum, pack) => id -> ((cum, pack)) }.toMap
    // cum: 0, 300, 300, 2800 → packs 0, 0, 0, 2 (doc 3 straddles 0→2)
    assert(got === Map(1L -> ((0L, 0L)), 2L -> ((300L, 0L)),
      3L -> ((300L, 0L)), 4L -> ((2800L, 2L))))
  }

  // ---- per-group weighted sampling ----

  private def race(id: Long, w: Long): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val bits = d.take(3).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    math.log((bits + 0.5) / (1 << 24).toDouble) / w
  }

  test("weightedTopKPerGroup matches a driver-side replica of the race") {
    val df = rows.map { case (id, w) => (id % 5, id, w.max(1L)) }
      .toDF("g", "id", "w")
    val got = Sampling.weightedTopKPerGroup(df, "g", "w", "id", 3)
      .select("g", "id").as[(Long, Long)].collect().toSet
    val expected = rows.map { case (id, w) => (id % 5, id, w.max(1L)) }
      .groupBy(_._1).toSeq.flatMap { case (g, members) =>
        members.sortBy { case (_, id, w) => (-race(id, w), id) }
          .take(3).map { case (_, id, _) => (g, id) }
      }.toSet
    assert(got === expected)
    assert(got.size === 15) // 3 winners in each of 5 groups
  }

  test("weightedTopKPerGroup: an overwhelming weight always wins its group") {
    val df = ((0L until 50L).map(id => ("a", id, 1L)) :+ (("a", 999L, 1000000L)))
      .toDF("g", "id", "w")
    val got = Sampling.weightedTopKPerGroup(df, "g", "w", "id", 5)
      .select("id").as[Long].collect().toSet
    assert(got.contains(999L),
      "a 10^6x weight's race key ln(u)/w ~ 0 must beat unit weights")
  }

  test("packPayloads + packAssemble reconstruct the concatenated stream " +
    "exactly: every pack is budget-sized (except the last) and the joined " +
    "payloads equal the joined documents") {
    val budget = 50L
    val rnd = new scala.util.Random(7)
    val texts = (0L until 40L).map { i =>
      // lengths 0..120 — several docs straddle multiple 50-char packs,
      // some are empty, some tiny
      i -> ("d%03d_".format(i) + ("x" * rnd.nextInt(115)))
    }
    val df = texts.toDF("doc_id", "txt")
    val payloads = Packing.packPayloads(df, "doc_id", "txt", budget, segSize = 8L)
    val packs = Packing.packAssemble(payloads)
      .select("pack_id", "payload").as[(Long, String)].collect()
      .sortBy(_._1)
    val stream = texts.map(_._2).mkString
    assert(packs.map(_._2).mkString === stream,
      "reassembled packs must reproduce the concatenated stream byte-for-byte")
    packs.dropRight(1).foreach { case (pid, pay) =>
      assert(pay.length === budget.toInt, s"pack $pid not full: ${pay.length}")
    }
    assert(packs.map(_._1) === packs.indices.map(_.toLong).toArray.toSeq,
      "pack ids must be contiguous from 0 — straddling docs cover every pack")
  }

  test("packPayloads: a document longer than the budget emits one piece per " +
    "pack it covers, offsets consistent") {
    val df = Seq((0L, "a" * 10), (1L, "b" * 130), (2L, "c" * 10))
      .toDF("doc_id", "txt")
    val rows = Packing.packPayloads(df, "doc_id", "txt", budget = 50L)
      .filter(col("doc_id") === 1L)
      .select("pack_id", "off_in_pack", "piece")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // doc 1 spans chars [10, 140) => packs 0,1,2
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(rows.map(_._3.length).toSeq === Seq(40, 50, 40))
    assert(rows.head._2 === 10L && rows(1)._2 === 0L && rows(2)._2 === 0L)
    assert(rows.forall(_._3.forall(_ == 'b')))
  }


  test("lengthBuckets: integer power-of-two buckets, padding and exact " +
    "fill ppm; boundary values land in their own bucket") {
    val df = Seq(1L, 2L, 3L, 4L, 5L, 64L, 65L).toDF("tok")
    val out = Packing.lengthBuckets(df, col("tok"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === (1L, 1L, 1L, 0L, 1000000L))
    assert(out(2L) === (2L, 1L, 2L, 0L, 1000000L))
    assert(out(4L) === (4L, 2L, 7L, 1L, 875000L))
    assert(out(8L) === (8L, 1L, 5L, 3L, 625000L))
    assert(out(64L) === (64L, 1L, 64L, 0L, 1000000L))
    assert(out(128L) === (128L, 1L, 65L, 63L, 507812L))
  }

  test("chunkByTokens: stride == size partitions the token stream exactly; " +
    "overlapping windows share size-stride tokens; empty docs vanish") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // 10 tokens
      (2L, "  x   y\tz\n"),          // whitespace runs + 3 tokens
      (3L, ""),                      // no tokens → no chunks
      (4L, "solo")).toDF("doc_id", "text")

    // partition mode: stride == size → concatenated chunks == token stream
    val part = Packing.chunkByTokens(docs, "doc_id", "text", 4, 4)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, Int, String)].collect()
    assert(part.map(_._1).toSet === Set(1L, 2L, 4L))
    val d1 = part.filter(_._1 == 1L)
    assert(d1.map(_._4).mkString(" ") === "a b c d e f g h i j")
    assert(d1.map(_._3).toSeq === Seq(4, 4, 2))
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2))
    assert(part.filter(_._1 == 2L).map(_._4).toSeq === Seq("x y z"))

    // overlap mode: consecutive windows share size - stride tokens
    val ov = Packing.chunkByTokens(docs.filter(col("doc_id") === 1), "doc_id",
        "text", 4, 2)
      .orderBy("chunk_idx").as[(Long, Int, Int, String)].collect()
    assert(ov.map(_._4).toSeq === Seq(
      "a b c d", "c d e f", "e f g h", "g h i j", "i j"))
    ov.sliding(2).foreach { case Array(p, q) =>
      assert(p._4.split(" ").drop(2).toSeq === q._4.split(" ").take(2).toSeq)
    }
  }
}

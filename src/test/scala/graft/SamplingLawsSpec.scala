package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sampling

/** Randomized-law tests for the deterministic sampling family (seeded, so
  * reproducible). These are the invariants 100 TB reproducibility rests on,
  * checked over 200 generated threshold/cut combinations rather than the
  * fixed examples in PipelineOpsSpec. The Spark column expressions are
  * pinned against a driver-side md5 replica once; the law loops then run on
  * the replica so 200 cases don't launch 200 Spark jobs.
  */
class SamplingLawsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def hex4(): String =
    (1 to 4).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString

  // driver-side md5-prefix replica of the Column expression — equality with
  // the Spark side is pinned by the first test, the laws then run on it
  private def md5Hex(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  private def pfx(id: Long): String = md5Hex(id).take(4)
  private val ids = (0L until 500L).toVector
  private val prefixes = ids.map(i => i -> pfx(i)).toMap

  test("driver-side md5 prefix replica matches the Spark column expression") {
    val sparkSide = ids.toDF("id")
      .select(col("id"), substring(md5(col("id").cast("string")), 1, 4).as("p"))
      .as[(Long, String)].collect().toMap
    ids.foreach(i => assert(sparkSide(i) === prefixes(i), s"id $i"))
  }

  test("law: hashSample membership is monotone in the threshold (nesting)") {
    (1 to 200).foreach { _ =>
      val (a, b) = (hex4(), hex4())
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val inLo = ids.filter(prefixes(_) < lo).toSet
      val inHi = ids.filter(prefixes(_) < hi).toSet
      assert(inLo.subsetOf(inHi), s"sample at $lo must nest inside $hi")
    }
  }

  test("law: splitColumn partitions — every key gets exactly one label") {
    def label(cuts: Seq[(String, String)], p: String): String =
      cuts.find(c => p < c._1).map(_._2).getOrElse("else")
    (1 to 200).foreach { _ =>
      val cuts = (1 to (1 + rnd.nextInt(4))).map(_ => hex4())
        .distinct.sorted.zipWithIndex.map { case (h, i) => h -> s"s$i" }
      val byLabel = ids.groupBy(i => label(cuts, prefixes(i)))
      assert(byLabel.values.map(_.size).sum === ids.size) // exhaustive
      // band membership: everything labeled s_i hashes below cut i
      cuts.foreach { case (hex, lab) =>
        byLabel.getOrElse(lab, Vector.empty)
          .foreach(i => assert(prefixes(i) < hex))
      }
    }
    // the Spark expression agrees with the replica on representative cuts
    val cuts = Seq("4000" -> "s0", "c000" -> "s1")
    val sparkSide = ids.toDF("id")
      .select(col("id"),
        Sampling.splitColumn(col("id"), cuts, "else").as("s"))
      .as[(Long, String)].collect().toMap
    ids.foreach(i => assert(sparkSide(i) === label(cuts, prefixes(i))))
  }

  test("law: salted stratified sample is row-identical to the plain one") {
    // the salted form is deleted; the stratified sample must return EXACTLY
    // a driver-side replica's top-k: per stratum, the k smallest
    // (md5 hex of the key, key)
    val strata = ids.map(i => i -> (if (i % 3 == 0) "hot" else s"s${i % 7}"))
    val df = strata.toDF("id", "st")
    Seq(1, 5, 40).foreach { k =>
      val replica = strata.groupBy(_._2).values
        .flatMap(_.sortBy { case (i, _) => (md5Hex(i), i) }.take(k)).toSet
      val got = Sampling.stratifiedSample(df, "st", "id", k)
        .select("id", "st").as[(Long, String)].collect().toSet
      assert(got === replica, s"k=$k")
    }
  }

  test("law: weightedMixture equals per-stratum hashSample (no cross-talk)") {
    (1 to 200).foreach { _ =>
      val (ra, rb) = (hex4(), hex4())
      val strata = ids.map(i => i -> (if (i % 2 == 0) "x" else "y")).toMap
      val kept = ids.filter { i =>
        val thr = if (strata(i) == "x") ra else rb
        prefixes(i) < thr
      }.toSet
      val keptX = ids.filter(i => strata(i) == "x" && prefixes(i) < ra).toSet
      val keptY = ids.filter(i => strata(i) == "y" && prefixes(i) < rb).toSet
      assert(kept === (keptX ++ keptY))
    }
    // Spark side agrees on one representative rate pair
    val m = Sampling.weightedMixture(
        ids.map(i => (i, if (i % 2 == 0) "x" else "y")).toDF("id", "st"),
        "st", "id", Map("x" -> "8000"), "2000")
      .select("id").as[Long].collect().toSet
    val expect = ids.filter { i =>
      prefixes(i) < (if (i % 2 == 0) "8000" else "2000")
    }.toSet
    assert(m === expect)
  }

  // driver-side replica of weightedTopK's u: first 24 md5 bits + 1/2, /2^24
  private def uOf(id: Long): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val v = ((d(0) & 0xff).toLong << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
    (v + 0.5) / (1 << 24).toDouble
  }

  test("law: weightedTopK matches a driver-side exact replica of the " +
    "Efraimidis-Spirakis race, is partitioning-invariant, huge weights " +
    "force inclusion, and equal weights reduce to the pure u-race") {
    val df = ids.toDF("id")
      .select(col("id"), (pmod(col("id"), lit(7)) * 100 + 1).as("w"))
    val got = Sampling.weightedTopK(df, "w", "id", 20)
      .as[(Long, Long)].collect().toSet
    val exp = ids.map(i => (i, i % 7 * 100 + 1))
      .sortBy { case (i, w) => (-(math.log(uOf(i)) / w), i) }
      .take(20).toSet
    assert(got === exp, "Spark race must equal the driver replica exactly")
    val gotRepart = Sampling.weightedTopK(df.repartition(7), "w", "id", 20)
      .as[(Long, Long)].collect().toSet
    assert(gotRepart === got, "selection must not depend on partitioning")
    val heavy = df.withColumn("w",
      when(col("id") === 123L, lit(1000000000L)).otherwise(col("w")))
    assert(Sampling.weightedTopK(heavy, "w", "id", 20)
      .as[(Long, Long)].collect().exists(_._1 == 123L),
      "a 1e9 weight must win a seat against 500 small-weight rows")
    val eq = ids.toDF("id").withColumn("w", lit(1L))
    val gotEq = Sampling.weightedTopK(eq, "w", "id", 10)
      .as[(Long, Long)].collect().map(_._1).toSet
    val expEq = ids.sortBy(i => (-uOf(i), i)).take(10).toSet
    assert(gotEq === expEq, "equal weights = largest-u race")
  }
  test("law: epochExpand realizes floor copies always, the fractional copy " +
    "on the salted md5 band, and is partitioning-invariant") {
    val df = spark.range(0, 4000).select(col("id").as("doc_id"))
    val out = Sampling.epochExpand(df, "doc_id", lit(2.3))
      .groupBy("doc_id").agg(count(lit(1)).as("n"),
        max("copy_idx").as("mx"), min("copy_idx").as("mn"))
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 4000, "every doc keeps >= floor(e) = 2 copies")
    assert(out.forall { case (_, n, mx, mn) =>
      (n == 2L || n == 3L) && mn == 0L && mx == n - 1 })
    val frac = out.count(_._2 == 3L).toDouble / out.length
    assert(math.abs(frac - 0.3) < 0.03,
      s"fractional-copy rate $frac should approximate 0.3")
    // invariance: same multiset under a different partitioning
    val re = Sampling.epochExpand(df.repartition(13), "doc_id", lit(2.3))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(out.forall { case (id, n, _, _) => re(id) == n })
  }

  test("law: epochExpand at 0 vanishes, at an exact integer replicates " +
    "exactly, and subsumes keep-rate downsampling at e < 1") {
    val df = spark.range(0, 2000).select(col("id").as("doc_id"))
    assert(Sampling.epochExpand(df, "doc_id", lit(0.0)).count() === 0L)
    assert(Sampling.epochExpand(df, "doc_id", lit(3.0))
      .groupBy("doc_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 3L))
    val kept = Sampling.epochExpand(df, "doc_id", lit(0.25)).count().toDouble
    assert(math.abs(kept / 2000.0 - 0.25) < 0.04,
      s"e=0.25 keeps ~25%, got ${kept / 2000.0}")
  }

  test("mixturePlan: exact integer sizing, rate capped at 1e6, unknown " +
    "strata weight 0") {
    val df = Seq(
      ("en", 100L), ("en", 300L), ("de", 50L), ("xx", 10L))
      .toDF("lang", "tok")
    val out = Sampling
      .mixturePlan(df, "lang", col("tok"),
        Map("en" -> 500000L, "de" -> 500000L), 600L)
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // en: 400 tokens, target 300, rate 750000 ppm, expected 300
    assert(out("en") === ("en", 2L, 400L, 500000L, 300L, 750000L, 300L))
    // de: 50 tokens but target 300 -> rate caps at 1e6, expected all 50
    assert(out("de") === ("de", 1L, 50L, 500000L, 300L, 1000000L, 50L))
    // xx: no weight -> everything zero
    assert(out("xx") === ("xx", 1L, 10L, 0L, 0L, 0L, 0L))
  }

  test("alphaShares: hand-computed sqrt flattening; equal strata split " +
    "evenly; shares sum ≤ 10⁶ and are partitioning-invariant") {
    // 4 docs vs 1 doc: sqrt_ppm 2e6 vs 1e6 → shares 2/3 and 1/3 (floored)
    val df = (Seq.fill(4)("big") ++ Seq("small")).map(Tuple1(_))
      .toDF("src").repartition(3)
    val r = graft.ops.Sampling.alphaShares(df, "src")
      .as[(String, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r("big") === ("big", 4L, 2000000L, 666666L))
    assert(r("small") === ("small", 1L, 1000000L, 333333L))
    // natural share of 'small' is 1/5 = 200000 ppm — α=½ upweights it
    assert(r("small")._4 > 200000L)
    assert(r.values.map(_._4).sum <= 1000000L)

    val eq = (Seq.fill(9)("a") ++ Seq.fill(9)("b")).map(Tuple1(_))
      .toDF("src")
    val re = graft.ops.Sampling.alphaShares(eq, "src")
      .as[(String, Long, Long, Long)].collect().map(x => x._1 -> x._4).toMap
    assert(re("a") === 500000L && re("b") === 500000L)

    val r1 = graft.ops.Sampling.alphaShares(df.repartition(1), "src")
      .as[(String, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r1 === r)
  }

  test("shuffleOrder: global_idx is a bijection onto [0, N), consistent " +
    "with (shard, shard_pos) order, partitioning-invariant, and a new " +
    "seed is a genuinely different permutation") {
    val df = spark.range(500).toDF("doc_id")
    val a = Sampling.shuffleOrder(df, "doc_id", "epoch0", nShards = 16)
      .select("doc_id", "shard", "shard_pos", "global_idx")
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(a.map(_._4).sorted === (0L until 500L), "bijection onto [0,N)")
    // global order == lexicographic (shard, shard_pos)
    assert(a.sortBy(_._4).map(r => (r._2, r._3)) ===
      a.map(r => (r._2, r._3)).sorted)
    val b = Sampling.shuffleOrder(df.repartition(7), "doc_id", "epoch0", 16)
      .select("doc_id", "global_idx").as[(Long, Long)].collect().toMap
    assert(a.map(r => r._1 -> r._4).toMap === b, "partitioning-invariant")
    val c = Sampling.shuffleOrder(df, "doc_id", "epoch1", nShards = 16)
      .select("doc_id", "global_idx").as[(Long, Long)].collect().toMap
    assert(c.values.toSeq.sorted === (0L until 500L))
    val moved = a.count(r => c(r._1) != r._4)
    assert(moved > 450, s"new seed must be a fresh permutation ($moved moved)")
    // and it is not the identity-ish order: ids must be well scattered
    val firstTen = a.sortBy(_._4).take(10).map(_._1)
    assert(firstTen.toSeq != (0L until 10L).toSeq)
  }
}

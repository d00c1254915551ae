package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** SemDeDup semantic dedup: planted two-cluster geometry with exact
  * duplicates — assignment, within-cluster-only candidate topology, the
  * scale-invariance law, the maxCluster cap + audit, and the composed
  * keeper resolution (including the kmeans-centroid scale path).
  */
class SemDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // two orthogonal directions in 4-dim; members are small perturbations
  // (cos to own center > 0.99, cross-cluster cos < 0.1)
  private val vecs: Seq[(Long, Seq[Float])] = Seq(
    0L -> Seq(1f, 0.01f, 0f, 0f),
    1L -> Seq(1f, -0.02f, 0.01f, 0f),
    2L -> Seq(0.99f, 0.03f, 0f, 0.01f),
    10L -> Seq(0f, 0.01f, 1f, 0.02f),
    11L -> Seq(0.01f, 0f, 1f, -0.01f),
    // exact duplicates: 100 of 0, 110 of 10 (scaled — cos exactly ~1)
    100L -> Seq(2f, 0.02f, 0f, 0f),
    110L -> Seq(0f, 0.005f, 0.5f, 0.01f))

  private val centroids: Seq[Seq[Double]] =
    Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))

  private lazy val emb = vecs.toDF("vec_id", "embedding")

  test("assignment is by nearest centroid and pairs stay within-cluster; " +
    "scaled duplicates land in their original's cluster (scale invariance)") {
    val pairs = Similarity.semDedupPairs(emb, centroids, threshold = 0.99)
      .select("cid", "id_a", "id_b")
      .as[(Int, Long, Long)].collect().toSet
    // every pair is within one cluster and the planted dups are found
    assert(pairs.contains((0, 0L, 100L)), s"dup 0-100 missing: $pairs")
    assert(pairs.contains((1, 10L, 110L)), s"dup 10-110 missing: $pairs")
    assert(!pairs.exists(p => Set(0L, 1L, 2L, 100L).contains(p._2) &&
      Set(10L, 11L, 110L).contains(p._3)), "cross-cluster pair leaked")
  }

  test("threshold gates: at 0.9999 only the near-exact dups survive; " +
    "cluster-mates below it do not pair") {
    val pairs = Similarity.semDedupPairs(emb, centroids, threshold = 0.9999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 100L), (10L, 110L)))
  }

  test("maxCluster cap drops the oversized cluster's pairs") {
    // cluster 0 has 4 members, cluster 1 has 3
    val pairs = Similarity.semDedupPairs(emb, centroids,
      threshold = 0.99, maxCluster = 3)
      .select("cid").as[Int].collect().toSet
    assert(pairs === Set(1), "only the small cluster may pair under the cap")
  }

  test("composed semDedup keeps the best-ranked member per duplicate " +
    "group and everything else verbatim (kmeans scale path)") {
    val ranks = Seq((0L, 50L), (1L, 10L), (2L, 10L), (10L, 5L), (11L, 5L),
      (100L, 99L), (110L, 1L)).toDF("vec_id", "n_chars")
    val out = Similarity.semDedup(emb, ranks, "n_chars",
      nCentroids = 2, iters = 2, threshold = 0.9999)
      .select("id", "is_keeper").as[(Long, Boolean)].collect().toMap
    assert(out.size === 7, "every vector gets exactly one row")
    // dup group (0,100): 100 has the higher rank -> keeper; group (10,110):
    // 10 wins; singletons keep themselves
    assert(out(100L) && !out(0L), s"rank 99 beats 50: $out")
    assert(out(10L) && !out(110L), s"rank 5 beats 1: $out")
    assert(out(1L) && out(2L) && out(11L), "singletons are keepers")
  }

  test("synthetic / null embeddings never enter the index: rows flagged " +
    "embedding_real=false (the Multimodal stub marker) and NULL-embedding " +
    "rows are excluded from pairs, keepers, and ANN candidates") {
    // a stub vector byte-identical to real vector 0 (the exact failure
    // mode: a fake JPEG embedding that would cluster with a real one), a
    // NULL-embedding row, plus real rows flagged true
    val mixed = Seq(
      (0L, Some(Seq(1f, 0.01f, 0f, 0f)), true),
      (1L, Some(Seq(1f, -0.02f, 0.01f, 0f)), true),
      (100L, Some(Seq(2f, 0.02f, 0f, 0f)), true),
      (666L, Some(Seq(1f, 0.01f, 0f, 0f)), false), // stub clone of 0
      (667L, None: Option[Seq[Float]], true))      // undecodable -> NULL
      .toDF("vec_id", "embedding", "embedding_real")
    val pairs = Similarity.semDedupPairs(mixed, centroids, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.exists(p => p._1 == 0L || p._2 == 0L), "real dup found")
    assert(!pairs.exists(p => p._1 >= 666L || p._2 >= 666L),
      s"stub/null rows must never pair: $pairs")
    val ranks = Seq((0L, 1L), (1L, 2L), (100L, 3L), (666L, 9L), (667L, 9L))
      .toDF("vec_id", "n_chars")
    val keepers = Similarity.semDedup(mixed, ranks, "n_chars",
      nCentroids = 2, iters = 1, threshold = 0.99)
      .select("id").as[Long].collect().toSet
    assert(keepers === Set(0L, 1L, 100L),
      s"stub/null rows get no keeper verdict at all: $keepers")
    val ann = Similarity.annTopK(mixed,
      mixed.filter(col("vec_id") === 666L), k = 5, nBits = 2, dim = 4)
    assert(ann.count() === 0, "a stub query probes nothing")
    val brute = Similarity.bruteForceTopK(mixed,
      mixed.filter(col("vec_id") === 1L), k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(!brute.contains(666L) && !brute.contains(667L),
      "stub/null rows are not candidates")
    // dropping the flag column is the explicit opt-in: stubs then index
    val optIn = Similarity.semDedupPairs(
      mixed.filter(col("embedding").isNotNull).drop("embedding_real"),
      centroids, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(optIn.contains((0L, 666L)), s"explicit opt-in still works: $optIn")
  }

  test("groupCentroidCosine: identical members score 1, an orthogonal " +
    "pair scores symmetrically, result is partitioning-invariant") {
    val emb = Seq(
      (0L, "dup", Seq(1f, 0f, 0f, 0f)),
      (1L, "dup", Seq(2f, 0f, 0f, 0f)),   // same direction, scaled
      (10L, "mix", Seq(1f, 0f, 0f, 0f)),
      (11L, "mix", Seq(0f, 1f, 0f, 0f)))  // orthogonal partner
      .toDF("vec_id", "group", "embedding")
    val got = Similarity.groupCentroidCosine(emb, "group")
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(math.abs(got(0L) - 1.0) < 1e-12 && math.abs(got(1L) - 1.0) < 1e-12,
      "collapsed group scores 1 everywhere")
    assert(math.abs(got(10L) - got(11L)) < 1e-12, "symmetric pair")
    assert(math.abs(got(10L) - 1.0 / math.sqrt(2.0)) < 1e-9,
      "cos to the 45-degree centroid")
    val again = Similarity.groupCentroidCosine(emb.repartition(7), "group")
      .as[(Long, String, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(again === got, "exact-decimal means are partitioning-invariant")
  }
}

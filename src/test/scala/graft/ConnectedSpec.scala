package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Connected

/** Connected components (alternating large-star/small-star) — duplicate
  * cluster resolution over near-dup pair lists.
  */
class ConnectedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Connected.components(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  /** Driver-side union-find oracle for the tests. */
  private def ufOracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain graph collapses to one component (log-round worst case)") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val r = comps(chain)
    assert(r.size === 64)
    assert(r.values.toSet === Set(0L))
  }

  test("matches union-find on a deterministic pseudo-random graph") {
    // hash-derived edges: deterministic, mixes chains, stars and cycles
    val edges = (0 until 300).map { i =>
      val a = (i * 2654435761L) % 97
      val b = (i * 40503L + 7) % 97
      (a, b)
    }.filter { case (a, b) => a != b }
    assert(comps(edges) === ufOracle(edges))
  }

  test("disconnected components keep distinct labels; self-loops/dups ignored") {
    val edges = Seq((5L, 3L), (3L, 5L), (4L, 4L), (10L, 11L), (11L, 12L))
    val r = comps(edges)
    assert(r === Map(3L -> 3L, 5L -> 3L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("dedupClusters: singletons self-cluster, keeper = min id") {
    val corpus = (0L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 4L), (4L, 6L)).toDF("id_a", "id_b")
    val r = Connected.dedupClusters(corpus, pairs, "doc_id")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(r === Set(
      (0L, 0L, true), (1L, 1L, true), (2L, 2L, true), (3L, 3L, true),
      (4L, 1L, false), (5L, 5L, true), (6L, 1L, false)))
  }

  test("keepBestClusters keeps the highest-quality member, ties to min id") {
    val docs = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9), // {1,2,3}: 2 wins (0.9 tie -> min id)
      (10L, 0.1), (11L, 0.8), //          {10,11}: 11 wins on quality
      (20L, 0.3) //                       singleton keeps itself
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val r = Connected.keepBestClusters(docs, pairs, "doc_id", "q")
      .as[(Long, Long, Double, Boolean)].collect()
      .map(x => (x._1, x._2, x._4)).sortBy(_._1).toSeq
    assert(r === Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (10L, 10L, false), (11L, 10L, true), (20L, 20L, true)))
  }

  test("distributed star loop matches the local fast path (and the " +
      "union-find oracle) on every shape — localThreshold=0 forces the " +
      "loop, the default takes the bounded driver path") {
    val shapes = Seq(
      (0L until 63L).map(i => (i, i + 1)),                       // chain
      (0 until 300).map { i =>
        ((i * 2654435761L) % 97, (i * 40503L + 7) % 97)
      }.filter { case (a, b) => a != b },                        // mixed
      Seq((5L, 3L), (3L, 5L), (10L, 11L), (11L, 12L)))           // tiny
    shapes.foreach { edges =>
      val viaLoop = Connected
        .components(edges.toDF("a", "b"), localThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      val viaLocal = Connected.components(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(viaLoop === viaLocal)
      assert(viaLoop === ufOracle(edges))
    }
  }

  test("result is invariant under input partitioning") {
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).filter(e => e._1 != e._2)
    val df1 = edges.toDF("a", "b").repartition(1)
    val df7 = edges.toDF("a", "b").repartition(7)
    val r1 = Connected.components(df1).as[(Long, Long)].collect().toSet
    val r7 = Connected.components(df7).as[(Long, Long)].collect().toSet
    assert(r1 === r7)
    assert(r1 === ufOracle(edges).toSet)
  }

  test("non-integral ids and an out-of-range localThreshold are rejected, " +
    "not silently merged into one component") {
    val strIds = Seq(("x", "y"), ("p", "q")).toDF("a", "b")
    intercept[IllegalArgumentException](Connected.components(strIds))
    val dblIds = Seq((1.5, 2.5)).toDF("a", "b")
    intercept[IllegalArgumentException](Connected.components(dblIds))
    val ids = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException](
      Connected.components(ids, localThreshold = -1L))
    intercept[IllegalArgumentException](
      Connected.components(ids, localThreshold = 1000001L))
  }
}

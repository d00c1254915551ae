package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** The capped bucket self-join every near-duplicate operator runs
  * ([[Dedup.bucketPairs]]) against a brute-force reference, and its cap
  * against the audit that reports on it ([[Dedup.bucketAudit]]).
  */
class BucketPairsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** All `(bucket, a, b)` with `a < b` sharing a bucket of 2..`maxBucket`
    * rows, one per bucket they share.
    */
  private def reference(rows: Seq[(Long, Long)], maxBucket: Int)
      : Seq[(Long, Long, Long)] =
    rows.groupBy(_._2).toSeq.flatMap { case (bucket, members) =>
      if (members.size < 2 || members.size > maxBucket) Nil
      else for {
        (a, _) <- members
        (b, _) <- members
        if a < b
      } yield (bucket, a, b)
    }.sorted

  private def joined(rows: Seq[(Long, Long)], maxBucket: Int)
      : Seq[(Long, Long, Long)] =
    Dedup.bucketPairs(rows.toDF("id", "bucket"), maxBucket)
      .select("bucket", "id_a", "id_b").as[(Long, Long, Long)]
      .collect().toSeq.sorted

  private def droppedRows(rows: Seq[(Long, Long)], maxBucket: Int): Long =
    rows.groupBy(_._2).values.map(_.size.toLong).filter(_ > maxBucket).sum

  test("bucketPairs equals the brute-force pair set: a bucket of exactly " +
    "maxBucket rows is kept, maxBucket + 1 dropped, singletons pair nothing, " +
    "and ids sharing several buckets pair once per bucket") {
    val maxBucket = 3
    val rows = Seq(
      1L -> 10L, 2L -> 10L, 3L -> 10L,              // exactly maxBucket: kept
      4L -> 20L, 5L -> 20L, 6L -> 20L, 7L -> 20L,   // maxBucket + 1: dropped
      8L -> 30L,                                    // singleton
      1L -> 40L, 2L -> 40L,                         // (1, 2) again
      2L -> 50L, 3L -> 50L,                         // (2, 3) again
      4L -> 60L, 5L -> 60L)                         // (4, 5) outside the cap
    val got = joined(rows, maxBucket)
    assert(got === reference(rows, maxBucket))
    assert(got === Seq((10L, 1L, 2L), (10L, 1L, 3L), (10L, 2L, 3L),
      (40L, 1L, 2L), (50L, 2L, 3L), (60L, 4L, 5L)))
    val audit = Dedup.bucketAudit(rows.toDF("id", "bucket"), maxBucket)
      .select("n_oversized_buckets", "n_dropped_rows").as[(Long, Long)].head()
    assert(audit === (1L, 4L))
    assert(audit._2 === droppedRows(rows, maxBucket))
  }

  test("bucketPairs equals the brute-force pair set on seeded random " +
    "buckets at several caps, and the cap drops bucketAudit's n_dropped_rows") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(40).toLong))
      .distinct
    for (maxBucket <- Seq(2, 5, 9, 1000)) {
      assert(joined(rows, maxBucket) === reference(rows, maxBucket),
        s"maxBucket = $maxBucket")
      val dropped = Dedup.bucketAudit(rows.toDF("id", "bucket"), maxBucket)
        .select("n_dropped_rows").as[Long].head()
      assert(dropped === droppedRows(rows, maxBucket), s"maxBucket = $maxBucket")
    }
  }
}

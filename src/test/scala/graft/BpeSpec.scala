package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bpe

/** BPE merge learning vs an exact scalar replica (same count-argmax
  * semantics, same lexicographic tie-break, same left-to-right
  * non-overlapping rewrite), plus the learned-token laws.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def applyMergeScalar(
      syms: Vector[String], m: (String, String)): Vector[String] =
    syms.foldLeft(Vector.empty[String])((acc, x) =>
      if (acc.nonEmpty && acc.last == m._1 && x == m._2)
        acc.init :+ (m._1 + m._2)
      else acc :+ x)

  private def replicaLearn(
      words: Map[String, Long], n: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    var vocab = words.toSeq.map { case (w, f) =>
      (w.map(_.toString).toVector, f)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < n) {
      i += 1
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) += f
          case _         =>
        }
      }
      val valid = counts.filter(_._2 >= minCount)
      if (valid.isEmpty) return out.toSeq
      val best = valid.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }._1
      out += best
      vocab = vocab.map { case (s, f) => (applyMergeScalar(s, best), f) }
    }
    out.toSeq
  }

  private val corpus = Seq(
    "low low low low low",
    "lower lower",
    "newest newest newest newest newest newest",
    "widest widest widest",
    "the the the the the the the the")

  test("learnMerges equals the scalar replica merge-for-merge, including " +
    "tie-breaks and the overlap rewrite rule") {
    val wf = Bpe.wordFreqs(corpus.toDF("text"), "text")
    val wordMap = wf.as[(String, Long)].collect().toMap
    val got = Bpe.learnMerges(wf, nMerges = 8)
    val want = replicaLearn(wordMap, 8)
    assert(got === want)
    assert(got.nonEmpty && got.toSet.size === got.size, "merges distinct")
  }

  test("learnMerges stops when no pair clears minCount; overlap rule on a " +
    "planted aaaa word") {
    // 'aaaa' x3: pair (a,a) has weighted count 9 (3 per word);
    // after merge 1 ['aa','aa'], pair (aa,aa) count 3; then ['aaaa'] — done
    val wf = Seq(("aaaa", 3L)).toDF("word", "freq")
    val got = Bpe.learnMerges(wf, nMerges = 10)
    assert(got === Seq(("a", "a"), ("aa", "aa")))
  }

  test("learned token budget (TextOps.bpeTokensLearned): lossless " +
    "partition, truncation is an exact prefix, counts match a scalar " +
    "replica and never exceed the pre-token upper bound") {
    import graft.ops.TextOps
    val merges = Seq(("t", "h"), ("th", "e"), (" ", "the"), ("i", "n"),
      ("a", "n"), ("an", "d"), ("e", "r"), ("o", "n"))
    val texts = Seq(
      "the then and another, in on thin air!",
      "The Thermal THE the", // case preserved: merges fire on lowercase only
      "  double  space\tand\nnewline", "", "no merges here: xyz qqq 42")
    def replica(t: String): Vector[String] = {
      val pre = TextOps.bpeTokenRe.r.findAllIn(t).toVector
      pre.flatMap { w =>
        merges.foldLeft(w.map(_.toString).toVector)((acc, m) =>
          applyMergeScalar(acc, m))
      }
    }
    val got = texts.toDF("t").select(
      col("t"),
      TextOps.bpeTokensLearned(col("t"), merges).as("toks"),
      TextOps.bpeTokenCountLearned(col("t"), merges).as("n"),
      TextOps.bpeTokenCount(col("t")).as("nPre"),
      TextOps.truncateToTokensLearned(col("t"), 5, merges).as("p5"))
      .as[(String, Seq[String], Int, Int, String)].collect()
    got.foreach { case (t, toks, n, nPre, p5) =>
      val want = replica(t)
      assert(toks === want, s"symbol stream for '$t'")
      assert(toks.mkString("") === t, s"lossless for '$t'")
      assert(t.startsWith(p5), s"'$p5' not a prefix of '$t'")
      assert(p5 === want.take(5).mkString(""), s"prefix symbols for '$t'")
      assert(n === want.length)
      // the learned count sits between the pre-token run count (every
      // pre-token yields >= 1 symbol) and the character count (merges
      // only fuse, never split)
      assert(n >= nPre && n <= t.length, s"bounds for '$t': $nPre <= $n")
    }
    // 'the' with the chain (t,h)(th,e)( ,the): " the" is ONE symbol
    val one = Seq(" the").toDF("t")
      .select(TextOps.bpeTokensLearned(col("t"), merges)).as[Seq[String]].head()
    assert(one === Seq(" the"))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CorpusPipeline

/** End-to-end corpus construction funnel: every stage rejects exactly one
  * planted document, survivors get split labels, and the funnel report
  * accounts for every input row exactly once.
  */
class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val good1 =
    "the quick brown fox jumps over the lazy dog tonight here is the end"
  private val docs = Seq(
    (1L, good1, "a"),                    // survivor (cluster keeper)
    (2L, good1, "a"),                    // exact duplicate of 1
    (3L, good1 + " extra", "a"),         // near-dup of 1 (3-gram j ≈ 0.92)
    (4L, "der die das und nicht sind wir heute hier zusammen", "a"), // lang
    (5L, "the !!! !!! !!! !!! ???? ####", "a"), // quality (score ~0.73)
    (6L, "zebra yak xylophone walrus vulture and the other random words here",
      "a"),                              // shares a 5-gram with bench
    (7L, "the end the end the end the end", "a"), // boilerplate (4/7 frac)
    (8L, "the completely ordinary unique sentence about nothing in particular today",
      "mix"),                            // mixture-dropped stratum
    (9L, "another perfectly reasonable document with the usual plenty of varied words",
      "a"),                              // survivor
    (10L, "final good document containing many distinct tokens and proper text",
      "a")                               // survivor
  ).toDF("doc_id", "text", "src")
  private val bench = Seq(
    (100L, "zebra yak xylophone walrus vulture tiger snake rhino")
  ).toDF("doc_id", "text")

  private val cfg = CorpusPipeline.Config(
    langs = Set("en"),
    minQuality = 0.8,
    nearDupThreshold = 0.9,
    decontamN = 5,
    boilerN = 2,
    boilerMinCount = Some(5L),
    maxBoilerFrac = 0.5,
    mixtureRates = Map("mix" -> "0000"),
    mixtureDefault = Some("ffff"))

  test("each stage rejects its planted doc; funnel accounts for every row") {
    val ann = CorpusPipeline
      .annotate(docs, bench, "text", "doc_id", "src", cfg)
    val stages = ann.select(col("doc_id"), col("drop_stage"))
      .as[(Long, String)].collect().toMap
    assert(stages(1L) === null)
    assert(stages(2L) === "exact_dup")
    assert(stages(3L) === "near_dup")
    assert(stages(4L) === "lang")
    assert(stages(5L) === "quality")
    assert(stages(6L) === "contaminated")
    assert(stages(7L) === "boilerplate")
    assert(stages(8L) === "mixture")
    assert(stages(9L) === null && stages(10L) === null)

    val funnel = CorpusPipeline.funnel(ann)
      .as[(String, Long)].collect().toMap
    assert(funnel.values.sum === 10L) // every row exactly once
    assert(funnel.filter(_._1.startsWith("kept:")).values.sum === 3L)
    assert(funnel("exact_dup") === 1L && funnel("near_dup") === 1L)
  }

  test("mixture and split hashes are salted per purpose: " +
    "split proportions survive a <1.0 mixture rate") {
    // 400 unique English docs, default mixture threshold '8000' (~50%).
    // With an UNSALTED shared md5(key) prefix both decisions would read the
    // same hex digits: every mixture survivor would have prefix < '8000' <
    // 'cccc' and land in 'train' — val/test exactly empty.
    val many = spark.range(0, 400).select(
      col("id").as("doc_id"),
      concat(lit("the plain good document number "), col("id"),
        lit(" keeps enough ordinary english words and the usual filler here"))
        .as("text"),
      lit("a").as("src"))
    val mixCfg = CorpusPipeline.Config(
      langs = Set("en"), minQuality = 0.1,
      nearDupThreshold = 0.95, decontamN = 8,
      boilerMinCount = Some(1000000L), maxBoilerFrac = 2.0,
      mixtureRates = Map.empty, mixtureDefault = Some("8000"))
    val ann = CorpusPipeline
      .annotate(many, bench, "text", "doc_id", "src", mixCfg)
    val kept = ann.filter(col("drop_stage").isNull)
      .groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val n = kept.values.sum
    assert(n > 150 && n < 250, s"~50% mixture expected, kept $n of 400")
    // the 80/10/10 split must survive INSIDE the mixture survivor set
    assert(kept.getOrElse("val", 0L) > 0 && kept.getOrElse("test", 0L) > 0,
      s"split starved by mixture correlation: $kept")
    val trainFrac = kept.getOrElse("train", 0L).toDouble / n
    assert(trainFrac > 0.65 && trainFrac < 0.95, s"train frac $trainFrac of $kept")
  }

  test("annotate executes over the cached survivor frame " +
    "(lang/quality regexes evaluate once, not per consumer)") {
    val ann = CorpusPipeline.annotate(docs, bench, "text", "doc_id", "src", cfg)
    ann.collect() // materializes the persisted early/exactKept frames
    val p = ann.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"no cache scan in the executed funnel plan:\n${p.take(800)}")
  }

  test("an unconfigured mixture keeps every document, including one whose " +
    "salted md5 starts with ffff") {
    // md5("179783:mixture") = ffff08c9…: under a "ffff" threshold this doc
    // fails the `<` gate, so a default that drops nothing must be no
    // threshold at all
    val corpus = Seq(
      (179783L, "the first plain document keeps many ordinary english words here"),
      (1L, "another perfectly reasonable document with the usual plenty of varied words"),
      (2L, "final good document containing many distinct tokens and proper text"))
      .toDF("doc_id", "text").withColumn("src", lit("a"))
    val noBench = Seq((1000L, "completely disjoint benchmark material"))
      .toDF("doc_id", "text")
    val stages = CorpusPipeline.annotate(corpus, noBench, "text", "doc_id",
        "src", CorpusPipeline.Config(boilerMinCount = Some(1000L)))
      .select(col("doc_id"), col("drop_stage"))
      .as[(Long, String)].collect().toMap
    assert(stages === Map(179783L -> null, 1L -> null, 2L -> null))
  }

  test("mixture thresholds are validated like Sampling.weightedMixture's") {
    val bad = cfg.copy(mixtureDefault = Some("0X9999"))
    assertThrows[IllegalArgumentException] {
      CorpusPipeline.annotate(docs, bench, "text", "doc_id", "src", bad)
    }
  }

  test("build returns survivors with valid split labels only") {
    val out = CorpusPipeline
      .annotate(docs, bench, "text", "doc_id", "src", cfg)
      .filter(col("drop_stage").isNull).drop("drop_stage")
      .select(col("doc_id"), col("split")).as[(Long, String)].collect()
    assert(out.map(_._1).toSet === Set(1L, 9L, 10L))
    assert(out.forall(r => Set("train", "val", "test").contains(r._2)))
  }

  test("optional LM outlier stage drops the distributional outlier and " +
    "nothing else") {
    // 30 ordinary English docs + one consonant-soup doc: the self-trained
    // trigram model scores the soup far above the pack. The test calibrates
    // the bits/char cap from the measured scores (midpoint between the
    // outlier and the highest normal doc) so it pins the MECHANISM, not a
    // magic constant.
    val normals = (0 until 30).map(i =>
      (i.toLong,
        s"the plain ordinary document number $i keeps many usual english words here",
        "a"))
    val gib = (99L, "zxqv wkjp qfzt jjxw pzkv mnbq rrtw zzxq lkjh qwop", "a")
    val corpus = (normals :+ gib).toDF("doc_id", "text", "src")
    val noBench = Seq((1000L, "completely disjoint benchmark material"))
      .toDF("doc_id", "text")

    val scores = graft.ops.LangModel
      .scoreAgainst(corpus, "doc_id", "text", lit(true))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val maxNormal = (scores - 99L).values.max
    assert(scores(99L) > maxNormal,
      s"gibberish ${scores(99L)} must outscore normals (max $maxNormal)")
    val thr = (scores(99L) + maxNormal) / 2

    // lang gate opened to whatever langId calls these docs — this test is
    // about the LM stage only
    val langs = corpus
      .select(graft.ops.TextOps.langId(col("text"))).distinct()
      .collect().map(_.getString(0)).toSet
    val ann = CorpusPipeline.annotate(corpus, noBench, "text", "doc_id",
      "src", CorpusPipeline.Config(langs = langs, minQuality = 0.0,
        boilerMinCount = Some(1000L), lmMaxBits = Some(thr)))
    val stages = ann.select(col("doc_id"), col("drop_stage"))
      .as[(Long, String)].collect().toMap
    assert(stages(99L) === "lm_outlier")
    assert((stages - 99L).values.forall(_ == null),
      s"only the planted outlier may drop: $stages")
  }

  test("canonicalizeText unifies normal forms BEFORE dedup: byte-different " +
    "but visually identical docs become exact dups only under the knob") {
    // same visible text, different bytes: doc 20 decomposed+CRLF+blank
    // runs, doc 21 composed+LF — identical only after canonicalization
    val decomposed = // decomposed accent + CRLF + a double space
      "the cafe\u0301 menu lists the usual  coffee and\r\ntea items today"
    val composed =    // composed accent, LF, single spaces
      "the caf\u00e9 menu lists the usual coffee and\ntea items today"
    val corpus = Seq(
      (20L, decomposed, "a"),
      (21L, composed, "a")).toDF("doc_id", "text", "src")
    val noBench = Seq((1000L, "completely disjoint benchmark material"))
      .toDF("doc_id", "text")
    val open = CorpusPipeline.Config(minQuality = 0.0,
      boilerMinCount = Some(1000L), nearDupThreshold = 2.0) // near-dup off
    def stagesOf(cfg: CorpusPipeline.Config): Map[Long, String] =
      CorpusPipeline.annotate(corpus, noBench, "text", "doc_id", "src", cfg)
        .select(col("doc_id"), col("drop_stage"))
        .as[(Long, String)].collect().toMap

    val without = stagesOf(open)
    assert(without(20L) === null && without(21L) === null,
      "byte-different variants must BOTH survive without canonicalization")
    val withCanon = stagesOf(open.copy(canonicalizeText = true))
    assert(withCanon(20L) === null)
    assert(withCanon(21L) === "exact_dup",
      s"canonical forms must collide in exact dedup: $withCanon")
    // and the emitted text is the canonical form
    val kept = CorpusPipeline
      .annotate(corpus, noBench, "text", "doc_id", "src",
        open.copy(canonicalizeText = true))
      .filter(col("drop_stage").isNull).drop("drop_stage")
      .select(col("text")).as[String].head()
    assert(kept.contains("caf\u00e9") && !kept.contains("\r") &&
      !kept.contains("  "))
  }

  test("extractHtml + repairMojibake pre-stages: a markup/encoding-damaged " +
    "variant collides with its clean twin in exact dedup only under the " +
    "knobs, and survivors carry the cleaned text") {
    val clean = "the caf\u00e9 menu lists the usual coffee and tea today"
    val damaged = "<html><body><p>" +
      graft.ops.TextOps.utf8AsCp1252(clean) +
      "</p><!-- tracking --></body></html>"
    val corpus = Seq(
      (30L, clean, "a"),
      (31L, damaged, "a")).toDF("doc_id", "text", "src")
    val noBench = Seq((1000L, "completely disjoint benchmark material"))
      .toDF("doc_id", "text")
    val open = CorpusPipeline.Config(minQuality = 0.0,
      boilerMinCount = Some(1000L), nearDupThreshold = 2.0)
    def stagesOf(cfg: CorpusPipeline.Config): Map[Long, String] =
      CorpusPipeline.annotate(corpus, noBench, "text", "doc_id", "src", cfg)
        .select(col("doc_id"), col("drop_stage"))
        .as[(Long, String)].collect().toMap

    val without = stagesOf(open)
    assert(without(30L) === null && without(31L) === null,
      "raw variants must BOTH survive without the pre-stages")
    val cleaned = stagesOf(open.copy(extractHtml = true,
      repairMojibake = true))
    assert(cleaned(30L) === null)
    assert(cleaned(31L) === "exact_dup",
      s"extracted+repaired forms must collide in exact dedup: $cleaned")
    val kept = CorpusPipeline
      .annotate(corpus, noBench, "text", "doc_id", "src",
        open.copy(extractHtml = true, repairMojibake = true))
      .filter(col("drop_stage").isNull).drop("drop_stage")
      .select(col("text")).as[String].collect()
    assert(kept.toSeq === Seq(clean))
  }
}

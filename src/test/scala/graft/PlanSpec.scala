package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Stats, Validator}
import graft.sources.TranscriptGen

/** Plan-shape tests (SURVEY.md §5.5): the engine's scale claims are asserted
  * on the physical plan, not taken on faith — broadcast vs shuffle join
  * choice, zero UDF nodes in check plans, whole-stage codegen coverage,
  * column pruning and partition pruning reaching the parquet scan.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private lazy val cfg = TranscriptGen.Config(nConvs = 300L)
  private lazy val turns = TranscriptGen.transcripts(spark, cfg)
  private lazy val convs = TranscriptGen.conversations(spark, cfg)

  test("row checks: no UDF / python nodes, whole-stage codegen present") {
    val p = plan(Validator.rowViolations(turns))
    assert(!p.contains("BatchEvalPython"))
    assert(!p.toLowerCase.contains("scalaudf"))
    // formatted explain marks codegen'd operators with a leading '*'
    assert(p.contains("* Project"), s"no codegen'd projection in:\n$p")
  }

  test("referential join: our stats-driven hint controls the strategy") {
    // disable Spark's own auto-broadcast so the choice observed is OURS
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = plan(Validator.orphanViolations(turns, convs))
      assert(small.contains("BroadcastHashJoin") || small.contains("BroadcastExchange"),
        s"expected broadcast in:\n$small")
      val large = plan(Validator.orphanViolations(turns, convs,
        broadcastThresholdBytes = 0L))
      assert(!large.contains("BroadcastHashJoin"),
        "dim over threshold must not broadcast")
      assert(large.contains("SortMergeJoin") || large.contains("ShuffledHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted dedup hot path stays HashAggregate (no sort-based fallback)") {
    val p = plan(Validator.dupViolations(turns))
    assert(p.contains("HashAggregate"))
    // the two narrow phases must NOT demote to SortAggregate — that was the
    // cost of carrying min(text) through the hot aggregation
    // only the tiny post-join min(text) aggregate may sort-aggregate:
    // partial+final = 2 operators; formatted explain mentions each twice
    // (tree + detail section), so allow 4 mentions
    val sortAggs = p.linesIterator.count(_.contains("SortAggregate"))
    assert(sortAggs <= 4, s"too many SortAggregates ($sortAggs) in:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.contains("partial_sum") || p.contains("Partial"))
  }

  test("merged violations plan: one key window, no salted dedup aggregate") {
    // read from parquet so the only xxhash64 a plan can hold is the salt
    val dir = java.nio.file.Files.createTempDirectory("graft_tail").toString
    turns.write.mode("overwrite").parquet(s"$dir/turns")
    convs.write.mode("overwrite").parquet(s"$dir/convs")
    val onDisk = spark.read.parquet(s"$dir/turns")
    val merged = Validator.allViolations(onDisk,
      Some(spark.read.parquet(s"$dir/convs")))
    val windows = merged.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 1, s"expected one Window in:\n${plan(merged)}")
    // the standalone face still salts, so the absence below is meaningful
    assert(plan(Validator.dupViolations(onDisk)).contains("xxhash64"))
    assert(!plan(merged).contains("xxhash64"),
      s"salted aggregate in:\n${plan(merged)}")
  }

  test("column pruning reaches the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    turns.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val p = plan(Stats.colStats(onDisk, Seq("role")))
    // the stats pass over `role` alone must not read `text`
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("role"))
    assert(!readSchema.contains("text"), s"text not pruned: $readSchema")
  }

  test("filter pushdown reaches the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_push").toString
    turns.write.mode("overwrite").parquet(dir)
    val p = plan(spark.read.parquet(dir)
      .filter(col("role") === "tool").select("conv_id"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(role,tool)") || pushed.contains("role"),
      s"filter not pushed: $pushed")
  }

  test("resume predicate prunes hive-style part_id partitions at the source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    turns.write.mode("overwrite").partitionBy("part_id").parquet(dir)
    val p = plan(spark.read.parquet(dir)
      .filter(!col("part_id").isin(0, 1, 2)))
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("part_id"), s"no partition filter: $pf")
  }

  test("cosine similarity runs as a codegen'd native expression") {
    import graft.ops.Similarity
    val emb = spark.range(100).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)),
        i => pmod(xxhash64(col("id"), i), lit(1000)).cast("double") / 1000.0)
        .as("embedding"))
    val scored = emb.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    val p = plan(scored)
    assert(p.contains("cosine_similarity"))
    assert(p.contains("* Project"), s"cosine projection not codegen'd:\n$p")
    // and it agrees with the HOF formulation
    val hof = emb.select(
      (Similarity.dot(col("embedding"), col("embedding")) /
        (Similarity.l2norm(col("embedding")) * Similarity.l2norm(col("embedding"))))
        .as("c"))
    val a = scored.as[Double](org.apache.spark.sql.Encoders.scalaDouble).collect()
    val b = hof.as[Double](org.apache.spark.sql.Encoders.scalaDouble).collect()
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 })
  }

  test("flagship violations plan never global-sorts (sortWithinPartitions only)") {
    val p = plan(Validator.allViolations(turns, Some(convs)))
    // a global orderBy would show a range-partitioned Exchange
    assert(!p.contains("rangepartitioning"),
      "global sort detected — output ordering must be sort-within-partitions")
  }

  test("nested-check and zod entries are map-only (zero Exchange)") {
    // q30/q33-shaped pipelines: scan -> array/struct build -> filter/project.
    // At 100 TB these must stay pure map passes — any Exchange is a bug.
    val d = turns.select(col("conv_id"),
      array(col("text"), col("role")).as("urls"))
    val c = graft.checks.NestedChecks.UrlList("urls")
    val pNested = plan(d.filter(c.violated)
      .select(col("conv_id"), c.message.as("message")))
    assert(!pNested.contains("Exchange"), "nested check shuffled")
    val zod = graft.model.ZodForm.toZodJson(graft.model.ZodForm.renameStruct(
      struct(col("role").as("name"), col("text").as("description")),
      Seq("name" -> "schema:name", "description" -> "schema:description")))
    val pZod = plan(turns.select(col("conv_id"), zod.as("zod_json")))
    assert(!pZod.contains("Exchange"), "zod projection shuffled")
  }

  test("deterministic first violation plans as TakeOrderedAndProject") {
    // strict mode's orderBy+limit(1) must be per-partition top-1 + driver
    // merge, never a global sort Exchange
    val p = plan(Validator.rowViolations(turns)
      .orderBy("conv_id", "turn_idx", "rule_id").limit(1))
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("rangepartitioning"))
  }

  test("segmented ts-order window keys include seg (skew split is real)") {
    val p = plan(Validator.tsOrderViolationsSegmented(turns, segSize = 1000))
    // the per-row window must partition by (conv_id, seg), not conv_id alone
    assert(p.contains("seg"), "segment column missing from the plan")
    assert(p.contains("Window"), "no window operator found")
  }

  test("asofJoin: one window, no join operator at all (union formulation)") {
    import spark.implicits._
    val l = Seq(("a", new java.sql.Timestamp(1000L), 1L)).toDF("k", "ts", "pid")
    val r = Seq(("a", new java.sql.Timestamp(500L), 2L)).toDF("k", "ts", "cid")
    val p = plan(graft.ops.AsOf.asofJoin(l, r, "k", "ts", "cid", "cid"))
    assert(!p.contains("Join"), "as-of must not plan any join operator")
    assert(p.contains("Window"), "running-last-value window missing")
    // exactly one shuffle: the window's hash partitioning on the key
    // (formatted mode lists operators as "(N) Exchange")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
  }

  test("pastWindowJoin plans as an equi-join (never BroadcastNestedLoop)") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = Seq(("a", new java.sql.Timestamp(1000L), 1L)).toDF("k", "ts", "pid")
      val r = Seq(("a", new java.sql.Timestamp(500L))).toDF("k", "ts")
      val p = plan(graft.ops.RangeJoin.pastWindowJoin(l, r, "k", "ts", 300L))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        "range join degenerated to a nested-loop join")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hashSample is map-only: filter pushed at the scan, zero Exchange") {
    val df = spark.range(0, 1000).select(col("id").cast("string").as("doc_id"))
    val p = plan(graft.ops.Sampling.hashSample(df, "doc_id", "1999"))
    assert(!p.contains("Exchange"), "deterministic sample must not shuffle")
  }

  test("decontam: benchmark gram set broadcasts; corpus never shuffles by content") {
    import spark.implicits._
    val corpus = (0 until 50).map(i => (i.toLong, s"w$i x y z a b c d e"))
      .toDF("doc_id", "text")
    val bench = Seq((0L, "x y z a b c d e f")).toDF("doc_id", "text")
    val p = plan(graft.ops.Decontam.contaminated(corpus, bench, "text", "doc_id", n = 5))
    assert(p.contains("BroadcastHashJoin"), "gram match must broadcast the benchmark side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(400))
  }

  test("tfidf: no window over an unbounded term partition; df is an aggregate") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"alpha bravo charlie$i delta"))
      .toDF("doc_id", "text")
    val q = graft.ops.Tfidf.topTerms(docs, "text", "doc_id", k = 2, minTokenLen = 4)
    val p = plan(q)
    // the round-2 scale hazard: `count(*) over (partition by term)` put every
    // row of a corpus-common term into ONE window task. df must now be a
    // partial-combining aggregate; the only window left partitions by id
    // (bounded by a document's distinct terms).
    assert(!p.contains("windowspecdefinition(term"),
      s"df still computed via a hot-term window partition:\n$p")
    assert("""windowspecdefinition\(id#""".r.findAllIn(p).nonEmpty,
      "per-doc rank window missing")
    // the tf subtree appears twice in the TREE (join-back), but both sides
    // share one canonical shuffle — physical tokenization happens once
    // (exchange/stage reuse). Cap the tree duplication at exactly that.
    assert("""\(\d+\) Generate""".r.findAllIn(p).size <= 2, "tokenize duplicated beyond the df join-back")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("boilerplate: frequent-gram set broadcasts back onto the gram stream") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"the end w$i the end"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Boilerplate.coverage(docs, "text", "doc_id", 2, 4L))
    assert(p.contains("BroadcastHashJoin"), "scoring join must broadcast the frequent set")
    assert(!p.contains("SortMergeJoin"), p.take(400))
    // gram strings are hashed before any exchange: no shuffle carries 'g'
    assert(!"""Exchange hashpartitioning\(g[#,]""".r.findFirstIn(p).isDefined,
      "gram strings must not shuffle — only their 64-bit hashes")
  }

  test("outliers: moments broadcast, scoring is map-side (no window, no SMJ)") {
    import spark.implicits._
    val df = (0 until 100).map(i => (s"t${i % 3}", i.toDouble)).toDF("g", "v")
    val p = plan(graft.ops.Outliers.zOutliers(df, "g", "v", 2.0))
    assert(p.contains("BroadcastHashJoin"), "moments table must broadcast")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p.take(400))
  }

  test("stratified sample: rank-limit pushdown plants map-side per-stratum top-k") {
    // the documented skew defense (PLANS.md round 3): Spark 4 puts a
    // WindowGroupLimit BELOW the exchange for row_number() <= k, so each
    // map task ships at most k rows per stratum — pin it so a regression
    // (e.g. a non-rank rewrite) can't silently lose the property
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("st"))
    val p = plan(graft.ops.Sampling.stratifiedSample(df, "st", "id", 5))
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(p).size >= 2,
      s"expected partial+final WindowGroupLimit in:\n$p")
  }

  test("pii redaction is map-only: zero Exchange, no UDF") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"text $i a@b.co")).toDF("id", "t")
    val p = plan(df.select(col("id"), graft.ops.TextOps.redactPii(col("t"))))
    assert(!p.contains("Exchange"), "pii scrub must not shuffle")
    assert(!p.toLowerCase.contains("scalaudf"), "pii scrub must be codegen'd builtins")
  }

  test("tool-args validation is map-only: zero Exchange, no UDF, codegen'd") {
    import spark.implicits._
    val df = (0 until 50).map(i =>
      (i.toLong, "search", s"""{"q":"a","limit":$i}""")).toDF("id", "tool", "args")
    val p = plan(graft.checks.ToolArgs.violations(df, "tool", "args", Seq("id")))
    assert(!p.contains("Exchange"), "tool-args check must not shuffle")
    assert(!p.toLowerCase.contains("scalaudf"), "tool-args must be builtins")
    assert(p.contains("* Generate") || p.contains("* Project"),
      s"no codegen'd explode/projection in:\n$p")
  }

  test("weightedMixture is map-only: zero Exchange, filter at the scan") {
    val df = spark.range(0, 1000)
      .select(col("id"), concat(lit("s"), (col("id") % 4)).as("src"))
    val p = plan(graft.ops.Sampling.weightedMixture(
      df, "src", "id", Map("s0" -> "8000"), "1000"))
    assert(!p.contains("Exchange"), "mixture membership must not shuffle")
  }

  test("png pixel decode is map-only and codegen'd: zero Exchange, no UDF, " +
    "the Inflater expression sits inside a codegen'd projection") {
    // spark.range source: a local Seq would fold into a LocalTableScan and
    // leave no projection to inspect
    val df = spark.range(10)
      .select(col("id"), col("id").cast("string").cast("binary").as("media"))
    val p = plan(df.select(col("id"),
      graft.ops.Multimodal.pixelStats(col("media")).as("p")))
    assert(!p.contains("Exchange"), "pixel decode must not shuffle")
    assert(!p.toLowerCase.contains("scalaudf"),
      "decode must be an Expression, not a UDF")
    assert(p.contains("raster_pixel_stats"),
      s"fused BMP/PNM expression missing in:\n$p")
    assert(p.contains("png_pixel_stats"), s"Inflater expression missing in:\n$p")
    assert(p.contains("gif_pixel_stats"),
      s"LZW expression missing from the fallthrough in:\n$p")
    assert(p.contains("* Project"), s"no codegen'd projection in:\n$p")
  }

  test("weightedTopK plans as TakeOrderedAndProject: per-partition heaps, " +
    "no global sort exchange") {
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 7 + 1).as("w"))
    val p = plan(graft.ops.Sampling.weightedTopK(df, "w", "id", 20))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected a top-k operator, got:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a range-partitioned global sort defeats the top-k heap:\n$p")
  }

  test("convSizeAudit: turn text never enters the exchange — only " +
    "(conv, count) rows shuffle, so auditing a mega-conversation corpus " +
    "is itself cheap") {
    import spark.implicits._
    val df = (0 until 30)
      .map(i => (i.toLong % 3, s"a long turn payload body number $i"))
      .toDF("conv", "txt")
    val p = plan(graft.ops.ChatOps.convSizeAudit(df, "conv"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("txt#")), s"text shuffled in:\n$p")
  }

  test("splitLeakage shuffles only narrow gram-hash rows: document text " +
    "never reaches an exchange") {
    import spark.implicits._
    val df = (0 until 30)
      .map(i => (i.toLong, if (i % 5 == 0) "train" else "val",
        s"some document body text number $i with several words"))
      .toDF("doc_id", "split", "text")
    val p = plan(graft.ops.Decontam.splitLeakage(df, "text", "doc_id", "split"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), s"text shuffled in:\n$p")
  }

  test("naive bayes train+score: document text never reaches an exchange " +
    "(only tokens and narrow count rows shuffle)") {
    import spark.implicits._
    val docs = (0 until 40)
      .map(i => (i.toLong, s"some document body text number $i with words",
        i % 2)).toDF("doc_id", "text", "lab")
    val p = plan(graft.ops.NaiveBayes.qualityScores(
      docs, "doc_id", "text", col("lab")))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), s"text shuffled in:\n$p")
  }

  test("trigram LM scoring: model lookups are broadcast joins and document " +
    "text never reaches an exchange") {
    import spark.implicits._
    val docs = (0 until 40)
      .map(i => (i.toLong, s"some document body text number $i with words",
        if (i % 2 == 0) "en" else "xx"))
      .toDF("doc_id", "text", "lang")
    val (m3, m2, v) = graft.ops.LangModel.train(
      docs.filter(col("lang") === "en"), "doc_id", "text")
    val p = plan(graft.ops.LangModel.crossEntropy(
      docs, "doc_id", "text", m3, m2, v))
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge model join defeats the map-side score:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), s"text shuffled in:\n$p")
  }

  test("transition grammar: payload text never reaches the window exchange") {
    val p = plan(graft.engine.Grammar.transitionViolations(
      turns, "conv_id", Seq("turn_idx"), "role", graft.engine.Grammar.roleRules))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"text shuffled into the grammar window:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"))
  }

  test("bucket audits reduce to one row without shuffling member payloads: " +
    "only narrow (id, band) rows reach the exchange") {
    import spark.implicits._
    val df = (0 until 20).map(i => (i.toLong, s"some text payload $i")).toDF("doc_id", "text")
    val p = plan(graft.ops.Dedup.minhashBucketAudit(df, "text", "doc_id"))
    // the audit aggregates band counts; the text column must be pruned
    // before any exchange (same narrow-shuffle contract as the pair ops)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!p.contains("text#") ||
      !exchanges.exists(_.contains("text#")), s"text shuffled in:\n$p")
  }

  test("packByBudget: the full-table window is segment-partitioned (never an " +
    "empty-partition global window) and the offset frame broadcasts back") {
    val df = spark.range(0, 100000)
      .select(col("id"), (col("id") % 97).as("w"))
    val p = plan(graft.ops.Packing.packByBudget(df, "id", "w", 4096L, 1024L))
    // phase-1 window must be partitioned by the segment key; the only
    // empty-partition window allowed is phase 2 over the tiny aggregate,
    // which sits UNDER the broadcast exchange that ships offsets back
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"segment offsets must broadcast, not shuffle-join:\n$p")
    // phase-1 window over the full table: windowspec PARTITIONED by __seg
    // and ordered by __o (formatted explain puts the spec in an Arguments
    // line, not on the Window header line)
    assert("""windowspecdefinition\(__seg#\d+L?, __o#\d+L? ASC""".r
      .findFirstIn(p).isDefined,
      s"no segment-partitioned full-table window found in:\n$p")
    assert(p.contains("HashAggregate"), s"no segment-total aggregate in:\n$p")
  }

  test("weightedTopKPerGroup: rank-limit pushdown plants a map-side " +
    "WindowGroupLimit below the exchange") {
    val df = spark.range(0, 100000)
      .select((col("id") % 13).as("g"), col("id"), (col("id") % 7 + 1).as("w"))
    val p = plan(graft.ops.Sampling.weightedTopKPerGroup(df, "g", "w", "id", 5))
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(p).size >= 2,
      s"expected partial+final WindowGroupLimit in:\n$p")
  }

  test("dedupLines: the drop set broadcasts back and document text never " +
    "enters a hash exchange — only (id, pos, hash) rows shuffle") {
    val df = spark.range(0, 50000).select(col("id").as("doc_id"),
      concat(lit("line one of the document body here\nshared banner "),
        (col("id") % 3).cast("string"),
        lit(" subscribe now\nline three unique "),
        col("id").cast("string")).as("t"))
    val p = plan(graft.ops.SpanDedup.dedupLines(df, "t", "doc_id"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"drop positions must broadcast back to the text side:\n$p")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).toSeq
    assert(exchanges.nonEmpty, s"expected line-hash aggregation shuffles:\n$p")
    assert(!exchanges.exists(_.contains("t#")),
      s"document text entered a hash exchange:\n$p")
  }

  test("stripHtml and urlParts are map-only codegen string chains — " +
    "zero exchanges, no UDF nodes") {
    val df = spark.range(0, 1000).select(
      concat(lit("<p>row "), col("id").cast("string"),
        lit(" &amp; more</p>")).as("t"),
      concat(lit("HTTPS://sub"), (col("id") % 5).cast("string"),
        lit(".Example.CO.uk:443/P?utm_source=a&id=1#f")).as("u"))
    val p = plan(df.select(
      graft.ops.WebText.stripHtml(col("t")).as("clean"),
      graft.ops.WebText.urlParts(col("u")).as("parts")))
    assert(!p.contains("Exchange"), s"map-only web-text op shuffled:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"UDF in web-text plan:\n$p")
    assert(p.contains("* Project"), s"no codegen'd projection in:\n$p")
  }

  test("ngram repetitionSignals: gram text never enters an exchange " +
    "(only 60-bit hashes shuffle) and the whole op is two shuffles") {
    val df = spark.range(0, 20000).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta row "),
        col("id").cast("string"),
        lit(" alpha beta gamma delta tail")).as("t"))
    val p = plan(graft.ops.NgramStats.repetitionSignals(df, "t", "doc_id"))
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(shuffles === 2, s"expected 2 shuffles, got $shuffles:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(l => l.contains("t#") || l.contains(" g#")),
      s"gram/document text entered an exchange:\n$p")
  }

  test("fixMojibake + markers is a map-only codegen replace chain") {
    val df = spark.range(0, 1000).select(
      concat(lit("CafÃ© row "), col("id").cast("string")).as("t"))
    val p = plan(df.select(
      graft.ops.TextOps.fixMojibake(col("t")).as("f"),
      graft.ops.TextOps.mojibakeMarkers(col("t")).as("m")))
    assert(!p.contains("Exchange"), s"map-only mojibake op shuffled:\n$p")
    assert(p.contains("* Project"), s"no codegen'd projection in:\n$p")
  }

  test("chat render is one conv-key shuffle; prefix dedup is two, and " +
    "turn text never enters the second (signatures shuffle, not turns)") {
    val df = spark.range(0, 10000).select(
      (col("id") % 500).as("conv"),
      timestamp_seconds(col("id") / lit(50)).as("ts"),
      col("id").as("eid"),
      concat(lit("role"), (col("id") % 3).cast("string")).as("role"),
      concat(lit("turn text payload "), col("id").cast("string")).as("txt"))
    val pr = plan(graft.ops.ChatOps
      .renderConversations(df, "conv", "ts", "eid", "role", "txt"))
    assert("""\(\d+\) Exchange""".r.findAllIn(pr).size === 1,
      s"render should be one shuffle:\n$pr")
    val pd = plan(graft.ops.ChatOps
      .prefixDedup(df, "conv", "ts", "eid", "role", "txt", 3))
    assert("""\(\d+\) Exchange""".r.findAllIn(pd).size === 2,
      s"prefix dedup should be two shuffles:\n$pd")
    val lines = pd.linesIterator.toVector
    val argIdx = lines.indexWhere(_.contains("hashpartitioning(prefix_sig"))
    assert(argIdx >= 0, s"expected a prefix_sig shuffle:\n$pd")
    // the Input line of that exchange's detail block lists what shuffles
    val input = lines.lastIndexWhere(_.trim.startsWith("Input"), argIdx)
    assert(input >= 0 && !lines(input).contains("txt#") &&
      !lines(input).contains("__turns#"),
      s"turn text entered the signature shuffle:\n${lines(input)}")
  }

  test("turn-budget rollup reuses the window's hash partitioning — the " +
    "whole query plans exactly one shuffle exchange") {
    val df = spark.range(0, 20000).select(
      (col("id") % 100).as("conv"),
      timestamp_seconds(col("id") / lit(100)).as("ts"),
      col("id").as("eid"),
      (col("id") % 7 + 1).as("tok"))
    val out = graft.ops.ContextBudget
      .tailWithinBudget(df, "conv", "ts", "eid", col("tok"), 10L)
      .groupBy(col("conv"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("kept"))
    val p = plan(out)
    // count detail headers "(n) Exchange" so tree + detail aren't doubled
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(shuffles === 1,
      s"expected one reused hash partitioning, got $shuffles:\n$p")
  }

  test("chunkByTokens is map-only: zero Exchange, no UDF") {
    import spark.implicits._
    val docs = (0 until 50)
      .map(i => (i.toLong, s"some document body text number $i with words"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Packing.chunkByTokens(docs, "doc_id", "text", 8, 5))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"))
  }

  test("wav sample decode is map-only and codegen'd: zero Exchange, " +
    "no UDF, the chunk-walk expression sits inside a codegen'd projection") {
    val df = spark.range(10)
      .select(col("id"), col("id").cast("string").cast("binary").as("media"))
    val p = plan(df.select(col("id"),
      graft.ops.Multimodal.audioSampleStats(col("media")).as("a")))
    assert(!p.contains("Exchange"), "sample decode must not shuffle")
    assert(!p.toLowerCase.contains("scalaudf"))
    assert(p.contains("wav_sample_stats"), s"fused expression missing:\n$p")
    assert(p.contains("* Project"), s"no codegen'd projection in:\n$p")
  }

  test("corpusDiff: document text never reaches the full-outer join's " +
    "exchange — only (id, md5) rows shuffle") {
    import spark.implicits._
    val a = (0 until 100).map(i => (i.toLong, s"document body $i"))
      .toDF("doc_id", "text")
    val b = (50 until 150).map(i => (i.toLong, s"document body $i"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Dedup.corpusDiff(a, b, "doc_id", "text"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), s"text shuffled in:\n$p")
  }

  test("quantizeInt8 is map-only: zero Exchange, no UDF") {
    import spark.implicits._
    val df = (0 until 40)
      .map(i => (i.toLong, Seq(i.toFloat, -i.toFloat, 0.5f)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.ops.Similarity.quantizeInt8(df, "vec_id", "embedding"))
    assert(!p.contains("Exchange"), s"quantization must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"))
  }

  test("invertedIndex: the posting cap plants a map-side WindowGroupLimit " +
    "and document text never shuffles") {
    import spark.implicits._
    val docs = (0 until 200)
      .map(i => (i.toLong, s"some document body text number $i with words"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Tfidf.invertedIndex(docs, "text", "doc_id", 3))
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(p).size >= 2,
      s"expected partial+final WindowGroupLimit in:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), s"text shuffled in:\n$p")
  }

  test("dedupTurns: the drop set broadcasts back (left_anti, map-side) and " +
    "turn text never enters an exchange — only (sig, conv) rows shuffle") {
    import spark.implicits._
    val df = (0 until 300)
      .map(i => (i.toLong % 20, i.toLong,
        if (i % 3 == 0) "assistant" else "user",
        if (i % 5 == 0) "canned greeting" else s"unique turn body $i"))
      .toDF("conv", "eid", "role", "txt")
    val p = plan(graft.ops.ChatOps.dedupTurns(df, "conv", "role", "txt", 0.3))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"drop set must broadcast as left_anti:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("txt#")), s"text shuffled in:\n$p")
  }

  test("bm25: query terms broadcast onto the postings, the per-query top-k " +
    "plants a map-side WindowGroupLimit, and document text never shuffles") {
    import spark.implicits._
    val docs = (0 until 200)
      .map(i => (i.toLong, s"some document body text number $i with words"))
      .toDF("doc_id", "text")
    val probes = Seq((1, "document words"), (2, "number text")).toDF("q", "t")
    val p = plan(graft.ops.Tfidf.bm25TopK(
      docs, "text", "doc_id", probes, "q", "t", k = 3))
    assert(p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(p).size >= 2,
      s"expected partial+final WindowGroupLimit in:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), s"text shuffled in:\n$p")
  }
}

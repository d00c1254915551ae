package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Drift, Stats}
import graft.functions.TDigestQuantiles.tdigestQuantiles

class StatsDriftSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("t-digest quantiles accurate on uniform 1..100000 and merge across partitions") {
    val df = spark.range(1, 100001).repartition(8).toDF("x")
    val q = df.agg(tdigestQuantiles(col("x"), Seq(0.5, 0.9, 0.99)))
      .as[Seq[Double]].head()
    // t-digest (k=200) relative error: ~1% mid-quantiles, tighter at tails
    assert(math.abs(q(0) - 50000) < 1000, s"p50 ${q(0)}")
    assert(math.abs(q(1) - 90000) < 1000, s"p90 ${q(1)}")
    assert(math.abs(q(2) - 99000) < 500, s"p99 ${q(2)}")
  }

  test("t-digest cross-check vs exact quantile_cont on heavy-tailed data") {
    // Independent ground truth: exact linear-interpolated quantiles (the
    // definition DuckDB's quantile_cont implements) computed by sorting the
    // same 200k deterministic heavy-tailed values. Pins the sketch's VALUES,
    // not just its monotonicity: |Δ|/exact within t-digest's k=200 bands.
    val n = 200000
    val df = spark.range(n).select(
      pow(pmod(xxhash64(col("id")), lit(1000000)).cast("double") / 1e6, 8)
        .multiply(1e6).as("x"))
    val td = df.agg(tdigestQuantiles(col("x"), Seq(0.5, 0.9, 0.99)))
      .as[Seq[Double]].head()
    val sorted = df.as[Double].collect().sorted
    def exactQ(p: Double): Double = { // quantile_cont: interpolate at p*(n-1)
      val pos = p * (sorted.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.length) sorted(lo) * (1 - frac) + sorted(lo + 1) * frac
      else sorted(lo)
    }
    val exact = Seq(0.5, 0.9, 0.99).map(exactQ)
    // 1) ordering sanity vs exact values: estimates bracket the exact point
    //    within a loose value band (x^8 amplifies rank error ~8x in value
    //    space at p50, so the tight contract is rank-space below)
    td.zip(exact).foreach { case (approx, ex) =>
      assert(math.abs(approx - ex) / ex < 0.15,
        s"tdigest $approx vs exact $ex (loose value band)")
    }
    // 2) the t-digest contract: RANK of the estimate is within ±1% of p
    //    (tighter toward the tail), verified against the exact sorted data
    Seq(0.5, 0.9, 0.99).zip(td).foreach { case (p, approx) =>
      val rank = sorted.count(_ <= approx).toDouble / sorted.length
      val tol = if (p >= 0.99) 0.003 else 0.01
      assert(math.abs(rank - p) < tol, s"p=$p est=$approx rank=$rank")
    }
  }

  test("t-digest handles all-null input (returns null, not crash)") {
    val df = Seq[Option[Double]](None, None).toDF("x")
    val r = df.agg(tdigestQuantiles(col("x"), Seq(0.5))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("wide stats pass: exact columns, null rate, bounds") {
    val df = Seq(
      ("a", 1, Some(1.0)), ("b", 2, None), ("c", 3, Some(3.0)), ("a", 4, Some(4.0))
    ).toDF("s", "i", "d")
    val stats = Stats.colStats(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats.keySet === Set("s", "i", "d"))
    assert(stats("d").getDouble(2) === 0.25) // null_rate
    assert(stats("i").getString(4) === "1")  // min
    assert(stats("i").getString(5) === "4")  // max
    assert(stats("s").getLong(1) === 4)      // n rows
  }

  test("HLL distinct within 5% on 10k distinct values") {
    val df = spark.range(10000).toDF("x")
    val approx = Stats.colStats(df, Seq("x")).select("n_distinct_approx")
      .as[Long].head()
    assert(math.abs(approx - 10000) < 500, s"approx $approx")
  }

  test("chi-square flags a planted skewed partition and only it") {
    // parts 0..3 uniform over 4 roles; part 9 small but heavily skewed —
    // small enough not to move the pooled distribution (chi-square compares
    // each partition against the pooled table, so a huge skewed partition
    // would legitimately make *all* partitions deviate)
    val uniform = spark.range(8000).select(
      (col("id") % 4).cast("int").as("part_id"),
      element_at(array(lit("a"), lit("b"), lit("c"), lit("d")),
        ((col("id") / 4) % 4 + 1).cast("int")).as("role"))
    val skewed = spark.range(200).select(
      lit(9).as("part_id"),
      when(col("id") % 100 < 97, lit("a")).otherwise(lit("b")).as("role"))
    val out = Drift.chiSquare(uniform.unionByName(skewed), "role", threshold = 30.0)
      .select("part_id", "drifted").as[(Int, Boolean)].collect().toMap
    assert(out(9) === true)
    (0 to 3).foreach(p => assert(out(p) === false, s"part $p false-flagged"))
  }

  test("PSI flags the same planted skew; stable partitions read < 0.1") {
    val uniform = spark.range(8000).select(
      (col("id") % 4).cast("int").as("part_id"),
      element_at(array(lit("a"), lit("b"), lit("c"), lit("d")),
        ((col("id") / 4) % 4 + 1).cast("int")).as("role"))
    val skewed = spark.range(200).select(
      lit(9).as("part_id"),
      when(col("id") % 100 < 97, lit("a")).otherwise(lit("b")).as("role"))
    val out = Drift.psi(uniform.unionByName(skewed), "role")
      .select("part_id", "psi", "drifted")
      .as[(Int, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(9)._2 === true, s"psi=${out(9)._1}")
    (0 to 3).foreach { p =>
      assert(out(p)._2 === false, s"part $p false-flagged psi=${out(p)._1}")
      assert(out(p)._1 < 0.1)
    }
  }

  test("chi-square includes zero cells (absent category still contributes)") {
    // part 1 never sees role "b" — expected count must still be charged
    val df = Seq(
      (0, "a"), (0, "a"), (0, "b"), (0, "b"),
      (1, "a"), (1, "a"), (1, "a"), (1, "a")
    ).toDF("part_id", "role")
    val chi = Drift.chiSquare(df, "role", threshold = 1000.0)
      .filter(col("part_id") === 1).select("chi2").as[Double].head()
    assert(chi > 0.0)
  }

  /** The cross-join formulation [[Drift.chiSquare]] replaced: restores every
    * zero cell with a parts × vocab cross join and sums (o − e)²/e over all
    * cells. Kept here as the reference the shortcut must agree with.
    */
  private def referenceChiSquare(
      df: org.apache.spark.sql.DataFrame, category: String,
      threshold: Double = 30.0): org.apache.spark.sql.DataFrame = {
    val counts = df
      .groupBy(col("part_id"), coalesce(col(category), lit("__null__")).as("cat"))
      .agg(count(lit(1)).as("o"))
    val rowTot = counts.groupBy("part_id").agg(sum("o").as("r"))
    val colTot = counts.groupBy("cat").agg(sum("o").as("c"))
    val grand = counts.agg(sum("o").as("g"))
    rowTot
      .crossJoin(broadcast(colTot))
      .join(counts, Seq("part_id", "cat"), "left_outer")
      .crossJoin(broadcast(grand))
      .withColumn("e", col("r") * col("c") / col("g"))
      .withColumn("term",
        pow(coalesce(col("o"), lit(0L)) - col("e"), 2) / col("e"))
      .groupBy("part_id")
      .agg(
        sum("term").as("chi2"),
        (count(lit(1)) - 1).as("dof"),
        max("r").as("n"))
      .withColumn("drifted", col("chi2") > threshold)
  }

  test("chi-square equals the cross-join reference on zero cells, a null " +
    "category, one category and one part") {
    val inputs = Seq(
      "zero cells" -> Seq((0, "a"), (0, "a"), (0, "b"), (0, "b"), (0, "c"),
        (1, "a"), (1, "a"), (1, "a"), (1, "a"), (2, "c"), (2, "b")),
      "null category" -> Seq((0, "a"), (0, null), (0, null), (1, "a"),
        (1, "b"), (2, null), (2, "b"), (2, "b")),
      "one category" -> Seq((0, "a"), (0, "a"), (1, "a"), (2, "a")),
      "one part" -> Seq((4, "a"), (4, "b"), (4, "b"), (4, null)))
    inputs.foreach { case (name, rows) =>
      val df = rows.toDF("part_id", "role")
      val got = Drift.chiSquare(df, "role", threshold = 1.0)
      val ref = referenceChiSquare(df, "role", threshold = 1.0)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        ref.schema.map(f => f.name -> f.dataType), name)
      def byPart(d: org.apache.spark.sql.DataFrame) = d
        .as[(Int, Double, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      val (g, e) = (byPart(got), byPart(ref))
      assert(g.keySet === e.keySet, name)
      e.foreach { case (p, (_, chi2, dof, n, drifted)) =>
        val (_, gChi2, gDof, gN, gDrifted) = g(p)
        assert(math.abs(gChi2 - chi2) <= 1e-9 * math.abs(chi2),
          s"$name part $p: chi2 $gChi2 vs reference $chi2")
        assert((gDof, gN, gDrifted) === (dof, n, drifted), s"$name part $p")
      }
    }
  }

  test("klDivergence: a slice distributed like the corpus scores exactly " +
    "0; a skewed slice scores positive and matches the scalar replica") {
    // slices A and B identical (2:1 over x:y) → every cell's p == q
    // exactly → ln(1) = 0 → integer 0. Slice C is all-x.
    val rows =
      Seq.fill(4)(("A", "x")) ++ Seq.fill(2)(("A", "y")) ++
      Seq.fill(4)(("B", "x")) ++ Seq.fill(2)(("B", "y")) ++
      Seq.fill(6)(("C", "x"))
    val df = rows.toDF("slice_id", "cat").repartition(4)
    val r = Drift.klDivergence(df, "slice_id", "cat")
      .as[(String, Long, Long)].collect().map(x => x._1 -> x).toMap
    // global: x = 14/18, y = 4/18
    def term(c: Long, t: Long, g: Long, gt: Long) = math.floor(
      (c.toDouble / t) * math.log((c.toDouble / t) / (g.toDouble / gt)) /
        graft.ops.LangModel.Ln2 * 1000000.0).toLong
    val expA = term(4, 6, 14, 18) + term(2, 6, 4, 18)
    assert(r("A") === ("A", 2L, expA))
    assert(r("B") === ("B", 2L, expA))
    assert(r("C") === ("C", 1L, term(6, 6, 14, 18)))
    assert(r("C")._3 > 0 && r("C")._3 > r("A")._3)

    // identical-to-global slices: p == q exactly → 0 ppm, no float residue
    val uni = (Seq.fill(3)(("A", "x")) ++ Seq.fill(3)(("B", "x")))
      .toDF("slice_id", "cat")
    val r2 = Drift.klDivergence(uni, "slice_id", "cat")
      .as[(String, Long, Long)].collect().map(x => x._1 -> x._3).toMap
    assert(r2 === Map("A" -> 0L, "B" -> 0L))
  }

  test("columnEntropy: uniform 2/4-value columns land exactly on 1 and 2 " +
    "bits; skew matches the scalar replica; constants are 0; nulls and " +
    "partitioning don't move the integer") {
    // a: uniform over 2 values; b: uniform over 4; c: constant;
    // d: {x:3, y:1} skew; e: null-heavy 2-value uniform
    val rows = (0 until 8).map { i =>
      (if (i % 2 == 0) "u" else "v",
        Seq("p", "q", "r", "s")(i % 4),
        "only",
        if (i < 6) "x" else "y",
        if (i % 4 < 2) null else if (i % 4 == 2) "m" else "n")
    }
    val df = rows.toDF("a", "b", "c", "d", "e").repartition(5)
    val r = Stats.columnEntropy(df, Seq("a", "b", "c", "d", "e"))
      .as[(String, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r("a") === ("a", 2L, 1000000L)) // (0.5·ln2)/ln2 is IEEE-exact
    assert(r("b") === ("b", 4L, 2000000L))
    assert(r("c") === ("c", 1L, 0L))
    def term(c: Long, t: Long) = math.floor(
      (c.toDouble / t) * math.log(t.toDouble / c) /
        graft.ops.LangModel.Ln2 * 1000000.0).toLong
    assert(r("d") === ("d", 2L, term(6, 8) + term(2, 8)))
    assert(r("e") === ("e", 2L, 1000000L), "nulls excluded, T = non-null")

    val r2 = Stats.columnEntropy(df.repartition(1), Seq("d"))
      .as[(String, Long, Long)].collect().head
    assert(r2._3 === r("d")._3, "integer entropy is partitioning-invariant")
  }

  test("skewAudit: hand-computed audit on a planted hot key; percentiles " +
    "integer-exact; partitioning-invariant") {
    // keys: one hot key with 1000 rows, 9 keys with 10, 90 keys with 1 ->
    // 100 keys, 1180 rows; sizes frame = {1:90, 10:9, 1000:1}
    val rows = (0 until 1000).map(i => ("hot", i)) ++
      (0 until 9).flatMap(k => (0 until 10).map(i => (s"mid$k", i))) ++
      (0 until 90).map(k => (s"cold$k", 0))
    val df = rows.toDF("k", "x").repartition(7)
    val Seq(a) = Stats.skewAudit(df, Seq("k"), targetPerTask = 64L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // p50: cum at size 1 is 90 >= 50 -> 1; p99: cum 90 < 99, at size 10 cum
    // 99 >= 99 -> 10; top1 share = floor(1000e6/1180); salt = ceil(1000/64)
    assert(a === ((100L, 1180L, 1000L, 847457L, 1L, 10L, 16L)))
  }

  test("skewAudit: surfaces the transcript fixture's planted hot " +
    "conversation with a salt factor > 1") {
    val turns = graft.sources.TranscriptGen.transcripts(spark,
      graft.sources.TranscriptGen.Config(nConvs = 2000L))
    val Seq(a) = Stats.skewAudit(turns, Seq("conv_id"), targetPerTask = 20L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(a._3 >= 100L, s"hot conversation must dominate: $a")
    assert(a._7 > 1L, s"salt suggestion must trigger: $a")
    assert(a._5 <= 13L && a._6 <= a._3, s"percentile sanity: $a")
  }

  test("wilsonLowerByGroup: exact scalar replica; 3/3 must NOT outrank " +
    "9500/10000 (the small-sample correction is the point)") {
    val rows = (0 until 3).map(i => ("tiny", true)) ++
      (0 until 9500).map(_ => ("big", true)) ++
      (0 until 500).map(_ => ("big", false)) ++
      Seq(("mid", true), ("mid", false))
    val got = Stats.wilsonLowerByGroup(
        rows.toDF("source", "ok"), Seq("source"), col("ok"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def replica(k: Long, n: Long): Long = {
      val z = 1.96; val z2 = z * z
      val nn = n.toDouble; val p = k.toDouble / nn
      val center = p + z2 / (nn * 2.0)
      val rad = z * math.sqrt(p * (1.0 - p) / nn + z2 / (nn * nn * 4.0))
      math.max(0L, math.min(1000000L,
        math.floor((center - rad) / (1.0 + z2 / nn) * 1000000.0).toLong))
    }
    assert(got("tiny") === ((3L, 3L, replica(3, 3))))
    assert(got("big") === ((10000L, 9500L, replica(9500, 10000))))
    assert(got("mid") === ((2L, 1L, replica(1, 2))))
    assert(got("big")._3 > got("tiny")._3,
      "9500/10000 must outrank 3/3 on the lower bound")
    assert(replica(3, 3) < 1000000L && replica(0, 5) >= 0L)
  }

  test("benford: log-distributed digits pass, uniform digits fail, zeros " +
    "and signs handled, digit counts exact") {
    // counts proportional to log10(1+1/d) out of 1000
    val benfordish = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
    val good = benfordish.zipWithIndex.flatMap { case (k, i) =>
      Seq.fill(k)((i + 1) * 100.0 + 0.23) } ++ Seq(0.0, -200.5) // zero + sign
    val Seq(g) = Drift.benford(good.toDF("v"), "v")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Double, Boolean)].collect().toSeq
    assert(g._1 === 1001L, "zero excluded, negative kept via abs")
    assert(g._2 === 301L && g._10 === 46L, "exact digit counts")
    assert(g._3 === 177L, "the -200.5 lands in digit 2 via abs")
    assert(g._12 === true, s"benford-shaped data must pass: chi2=${g._11}")
    val uniform = (1 to 9).flatMap(d => Seq.fill(111)(d * 10.0)).toDF("v")
    val Seq(u) = Drift.benford(uniform, "v")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Double, Boolean)].collect().toSeq
    assert(u._12 === false, s"uniform digits must fail: chi2=${u._11}")
  }
}

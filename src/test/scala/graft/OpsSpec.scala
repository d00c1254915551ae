package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3L, "completely different content about spark catalyst optimizer internals here xyz"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (5L, "der hund und die katze und der vogel und die maus sind hier")
  ).toDF("doc_id", "text")

  test("exact dedup groups: identical texts collapse to min key") {
    val g = Dedup.exactGroups(docs, "text", "doc_id").filter(col("n") > 1)
      .select("n", "keep_id").as[(Long, Long)].collect()
    assert(g.toSeq === Seq((2L, 1L))) // docs 1 and 4 identical
  }

  test("incrementalNew drops arrivals already in the history store, then " +
    "dedups within the arrivals (min key keeps)") {
    val history = Seq("seen before content alpha", "seen before content beta")
      .toDF("t").select(md5(col("t")).as("ch"))
    val arrivals = Seq(
      (10L, "seen before content alpha"),     // in history → drop
      (11L, "brand new content one"),         // fresh, unique → keep
      (12L, "brand new content two"),         // fresh dup pair → 12 keeps
      (13L, "brand new content two"),         // … 13 drops
      (14L, "seen before content beta"))      // in history → drop
      .toDF("doc_id", "text")
    val kept = Dedup
      .incrementalNew(arrivals, "text", "doc_id", history, "ch")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(11L, 12L))
  }

  test("jaccard: identical=1, near-dup high, different low") {
    val j = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.jaccard(col("a.text"), col("b.text")).as("j"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 4L)) === 1.0)
    assert(j((1L, 2L)) > 0.7)
    assert(j((1L, 3L)) === 0.0)
  }

  test("minhash LSH finds the planted near-dup pair and the exact pair") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical texts have distance 0, near-dups close, different far") {
    val sims = Dedup.simhashSignatures(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) === sims(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sims(a) ^ sims(b))
    assert(ham(1L, 2L) < ham(1L, 3L))
    assert(ham(1L, 2L) <= 16)
  }

  test("token count, lang id, quality, fingerprint") {
    val r = docs.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("tc"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getString(2), x.getDouble(3), x.getLong(4))).toMap
    assert(r(1L)._1 === 14)
    assert(r(1L)._2 === "en")
    assert(r(5L)._2 === "de")
    assert(r(3L)._2 === "und") // no stopwords
    assert(r(1L)._3 > 0.5 && r(1L)._3 <= 1.0)
    assert(r(1L)._4 === r(4L)._4) // identical text -> identical fingerprint
    assert(r(1L)._4 !== r(2L)._4)
    // fingerprint invariant to whitespace normalization
    val fpWs = Seq(("x  y\tz"), ("x y z")).toDF("t")
      .select(TextOps.fingerprint(col("t"))).as[Long].collect()
    assert(fpWs(0) === fpWs(1))
  }

  test("qualityScoreScaled: exact integers, agrees with the double form " +
    "away from rounding boundaries, bounded in [0, 10000]") {
    // hand-checked: "ab cd" -> len=5, ntok=2, ndtok=2, nalpha=4,
    // bands: len>0 -> 5; 2 <= 5/2 <= 12 -> 10;
    // numer = (5*3+10*2)*5*2 + 4*2*30 + min(4,2)*5*20 = 350+240+200 = 790
    // denom = 5*2*100 = 1000 -> quality .79 -> q4 = 7900
    val r = Seq("ab cd", "", null.asInstanceOf[String])
      .toDF("t")
      .select(TextOps.qualityScoreScaled(col("t"))).as[Long].collect()
    assert(r(0) === 7900L)
    // empty/null: lenBand 0, alpha 0, tokBand 0.4*0.2, distinct 1.0*0.2
    assert(r(1) === 2800L && r(2) === 2800L)
    // cross-check vs the double form on a varied corpus: equal wherever the
    // double path isn't on a 4-dp boundary (within one ulp-step otherwise)
    val varied = (0 until 200).map(i =>
      (i.toLong, ("word" + i + " ") * (i % 17 + 1) + "!?" * (i % 5)))
      .toDF("id", "t")
    val both = varied.select(
      TextOps.qualityScoreScaled(col("t")).as("i4"),
      (round(TextOps.qualityScore(col("t")), 4) * 10000).cast("long").as("d4"))
      .as[(Long, Long)].collect()
    assert(both.forall { case (i4, d4) => math.abs(i4 - d4) <= 1 })
    assert(both.forall { case (i4, _) => i4 >= 0 && i4 <= 10000 })
  }

  test("pii redaction: emails, ipv4, card runs; boundary cases hold") {
    val cases = Seq(
      ("mail john.doe+x@sub.example.org now", "mail <EMAIL> now"),
      ("server 192.168.001.1 up", "server <IP> up"),
      ("card 4111111111111111 ok", "card <NUMBER> ok"),
      // 17 digits: not a card-length run — \b keeps it untouched
      ("id 12345678901234567 stays", "id 12345678901234567 stays"),
      // IP-shaped email host: email pattern requires a letter TLD, so the
      // IP pass gets it
      ("user@192.168.0.1 logged", "user@<IP> logged"),
      ("no pii at all here", "no pii at all here"),
      (null, ""))
    val got = cases.zipWithIndex
      .map { case ((in, out), i) => (i, in, out) }
      .toDF("i", "in", "expect")
      .select(col("i"), col("expect"), TextOps.redactPii(col("in")).as("got"))
      .collect()
    got.foreach(r => assert(r.getString(2) === r.getString(1), s"case ${r.getInt(0)}"))
    val counts = Seq("a@b.co and 1.2.3.4 and 4111111111111111").toDF("t")
      .select(TextOps.piiCounts(col("t")).as("p"))
      .select("p.n_email", "p.n_ipv4", "p.n_number")
      .as[(Int, Int, Int)].head()
    assert(counts === ((1, 1, 1)))
  }

  test("token count edge cases: null, empty, whitespace-only") {
    val r = Seq[(Integer, String)]((1, null), (2, ""), (3, "   "), (4, "one"))
      .toDF("id", "t")
      .select(col("id"), TextOps.tokenCount(col("t")).as("tc"))
      .as[(Int, Int)].collect().toMap
    assert(r(1) === 0); assert(r(2) === 0); assert(r(3) === 0); assert(r(4) === 1)
  }

  test("cosine + brute-force top-k exact on crafted vectors") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").select("vec_id", "rank").as[(Long, Int)].collect()
    assert(top.toSeq === Seq((1L, 1), (2L, 2)))
    // exact cosine value check: cos(e0, e3) = -1
    val c = emb.filter(col("vec_id") === 0).select(col("embedding").as("a"))
      .crossJoin(emb.filter(col("vec_id") === 3).select(col("embedding").as("b")))
      .select(Similarity.cosine(col("a").cast("array<double>"),
        col("b").cast("array<double>"))).as[Double].head()
    assert(math.abs(c - (-1.0)) < 1e-12)
  }

  test("ann LSH results are a subset of correct cosine space (no wrong scores)") {
    val emb = spark.range(200).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)),
        i => pmod(xxhash64(col("id"), i), lit(1000)).cast("float") / 1000.0f)
        .as("embedding"))
    val ann = Similarity.annTopK(emb, emb.filter(col("vec_id") < 2), k = 3,
      nBits = 4, dim = 8)
    // every returned cos must equal the directly computed cosine
    val joined = ann.join(emb.select(col("vec_id"), col("embedding").as("e1")), "vec_id")
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("e2")),
        "query_id")
      .select(abs(col("cos") - Similarity.cosine(
        col("e1").cast("array<double>"), col("e2").cast("array<double>"))).as("d"))
      .agg(max("d")).as[Double].head()
    assert(joined < 1e-12)
  }

  test("ivf top-k: correct scores, measurable recall, bounded probe work") {
    val emb = spark.range(400).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        i => pmod(xxhash64(col("id"), i), lit(1000)).cast("float") / 1000.0f)
        .as("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    val k = 10
    val ivf = Similarity.ivfTopK(emb, queries, k, nCentroids = 8, nProbe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, queries, k)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // every IVF hit is from the true cosine space (subset of candidates with
    // exact scores by construction); recall vs brute force must be real
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall $recall")
    // probing 4 of 8 centroids scans roughly half the table per query —
    // candidate count must be well below brute force's 5 * 399
    val nCand = Similarity.ivfTopK(emb, queries, k = 400,
      nCentroids = 8, nProbe = 4).count()
    assert(nCand < 5 * 399 * 0.8, s"ivf scanned $nCand candidates")
    // centroid selection is deterministic
    assert(Similarity.ivfCentroids(emb, 8) === Similarity.ivfCentroids(emb, 8))
  }

  test("embedding near-dup pairs find planted duplicate vector") {
    val base = spark.range(100).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        i => pmod(xxhash64(col("id"), i), lit(1000)).cast("float") / 1000.0f)
        .as("embedding"))
    val clone = base.filter(col("vec_id") === 7)
      .select(lit(1007L).as("vec_id"), col("embedding"))
    val pairs = Similarity.cosineNearDupPairs(base.unionByName(clone),
      threshold = 0.999, nBits = 6, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, 1007L)))
  }

  test("multimodal plumbing: schema, deterministic stub features, frames; " +
    "undecodable payloads get NULL embeddings unless the caller opts in") {
    // default: undecodable (text) payloads carry NO embedding — a synthetic
    // vector must never be consumable by accident (VERDICT r4 item 1)
    val packed = Multimodal.packFromText(docs, "text", "doc_id")
    val strict = Multimodal.featuresFromPacked(packed).cache()
    assert(strict.columns.toSet === Set(
      "vec_id", "kind", "meta", "pix", "embedding", "embedding_real", "frames"))
    val srow = strict.filter(col("vec_id") === 1).collect()(0)
    assert(srow.isNullAt(srow.fieldIndex("embedding")),
      "undecodable payload must yield a NULL embedding by default")
    assert(!srow.getAs[Boolean]("embedding_real"))
    // opt-in plumbing mode: the marked stub, still flagged embedding_real=false
    val ft = Multimodal
      .featuresFromPacked(packed, syntheticFallback = true).cache()
    val row = ft.filter(col("vec_id") === 1).collect()(0)
    assert(row.getAs[Seq[Double]]("embedding").length === 64)
    assert(!row.getAs[Boolean]("embedding_real"))
    assert(row.getAs[Seq[Any]]("frames").length === 4)
    // identical media bytes -> identical stub features (doc 1 == doc 4 text)
    val f = ft.filter(col("vec_id").isin(1L, 4L))
      .select("embedding").as[Seq[Double]].collect()
    assert(f(0) === f(1))
  }

  test("a TRUNCATED JPEG (header only, no tables/scan) sniffs as jpeg but " +
    "carries NO embedding — the synthetic stub can never masquerade as a " +
    "decode (decodable baseline JPEGs get real embeddings: JpegSpec)") {
    // header-only JPEG: SOI + SOF0 with 2x3 dims (header-sniffable, but
    // no DQT/DHT/SOS — nothing to decode)
    val jpeg: Array[Byte] = Array(
      0xFF, 0xD8,                                  // SOI
      0xFF, 0xC0, 0x00, 0x0B, 0x08,                // SOF0, len 11, 8-bit
      0x00, 0x02, 0x00, 0x03,                      // height 2, width 3
      0x01, 0x01, 0x11, 0x00).map(_.toByte)
    val ft = Multimodal.featuresFromPacked(Multimodal.packMedia(
      Seq((1L, jpeg)).toDF("id", "media"), "id", "media", lit("image")))
    val row = ft.select(col("meta.format"), col("meta.width"),
      col("meta.height"), col("embedding"), col("embedding_real")).collect()(0)
    assert(row.getString(0) === "jpeg", "header sniff is real")
    assert(row.getInt(1) === 3 && row.getInt(2) === 2, "SOF0 dims parsed")
    assert(row.isNullAt(3), "JPEG embedding must be NULL by default")
    assert(!row.getBoolean(4), "and flagged not-real")
  }

  test("bpe tokenizer: lossless partition, truncation is an exact prefix") {
    val texts = Seq(
      "Hello, world! x2  spaces\tand\nnewlines 42abc",
      "  leading ws", "no-trailing!", "", "éàü unicode 123")
    val df = texts.toDF("t")
    val r = df.select(
      col("t"),
      TextOps.bpeTokenCount(col("t")).as("n"),
      TextOps.truncateToTokens(col("t"), 1000000).as("all"),
      TextOps.truncateToTokens(col("t"), 3).as("p3"))
      .collect()
    r.foreach { row =>
      val (t, all, p3) = (row.getString(0), row.getString(2), row.getString(3))
      assert(all === t, s"reconstruction failed for '$t'") // lossless
      assert(t.startsWith(p3), s"'$p3' not a prefix of '$t'")
      assert(row.getInt(1) >= 0)
    }
    // token-boundary sanity: "Hello, world!" -> [Hello][,][ world][!] = 4
    val n = Seq("Hello, world!").toDF("t")
      .select(TextOps.bpeTokenCount(col("t"))).as[Int].head()
    assert(n === 4)
  }

  test("native minhash aggregate is bit-identical to min(xxhash64(h, j))") {
    // the k-column relational form the native agg replaced — parity anchor
    val exploded = docs
      .select(col("doc_id").as("id"),
        explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .select(col("id"), xxhash64(col("sh")).as("h"))
    val k = 64
    val aggs = (1 to k).map(j => min(xxhash64(col("h"), lit(j))).as(s"m$j"))
    val relational = exploded.groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((1 to k).map(j => col(s"m$j")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = Dedup.minhashSignatures(docs, "text", "doc_id", 3, k)
      .as[(Long, Seq[Long])].collect().toMap
    assert(native.keySet === relational.keySet)
    native.keys.foreach(id => assert(native(id) === relational(id), s"id=$id"))
  }

  test("native simhash aggregate is bit-identical to the 64-sum form") {
    val exploded = docs
      .select(col("doc_id").as("id"),
        explode(array_distinct(
          split(lower(trim(coalesce(col("text"), lit("")))), "\\s+"))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 to 63).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$i"))
    val weights = (0 to 63).map(i => if (i == 63) Long.MinValue else 1L << i)
    val relational = exploded.groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 to 63).map(i =>
          when(col(s"v$i") > 0, lit(weights(i))).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
      .as[(Long, Long)].collect().toMap
    val native = Dedup.simhashSignatures(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(native === relational)
  }

  test("image header decode: real PNG/GIF/JPEG bytes, parquet round-trip") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // real 640x480 PNG header: signature + IHDR (len, type, w, h, depth...)
    val png = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, // signature
      0x00, 0x00, 0x00, 0x0D) ++ "IHDR".getBytes ++
      b(0x00, 0x00, 0x02, 0x80, // width 640 BE
        0x00, 0x00, 0x01, 0xE0, // height 480 BE
        0x08, 0x02, 0x00, 0x00, 0x00, 0xAA, 0xBB, 0xCC, 0xDD) // depth+crc
    // GIF89a logical screen 320x200 (little-endian)
    val gif = "GIF89a".getBytes ++ b(0x40, 0x01, 0xC8, 0x00, 0xF7, 0x00, 0x00)
    // JPEG: SOI, APP0 stub segment, SOF0 with height 480 / width 640 BE
    val jpeg = b(0xFF, 0xD8, // SOI
      0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46, // APP0 (len 4)
      0xFF, 0xC0, 0x00, 0x11, 0x08, // SOF0, len, precision
      0x01, 0xE0, // height 480
      0x02, 0x80, // width 640
      0x03, 0x01, 0x22, 0x00)
    val junk = "not an image at all".getBytes
    // BMP file header + BITMAPINFOHEADER: 2x1, LE dims at offsets 18/22
    val bmp = b(0x42, 0x4D, 0x3E, 0, 0, 0, 0, 0, 0, 0, 0x36, 0, 0, 0,
      0x28, 0, 0, 0, 2, 0, 0, 0, 1, 0, 0, 0, 1, 0, 24, 0)
    // corrupt width 0xFFFFFFFF: format still recognized, width null (the
    // guarded ANSI cast must not throw); height 0xFFFFFFFF reads as
    // top-down -1 -> magnitude 1 per the documented contract
    val bmpBad = b(0x42, 0x4D, 0x3E, 0, 0, 0, 0, 0, 0, 0, 0x36, 0, 0, 0,
      0x28, 0, 0, 0, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF,
      1, 0, 24, 0)
    // corrupt PNG width 0xFFFFFFFF: format recognized, width null via the
    // guarded BE cast (not an ANSI CAST_OVERFLOW throw), height intact
    val pngBad = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D) ++ "IHDR".getBytes ++
      b(0xFF, 0xFF, 0xFF, 0xFF, 0x00, 0x00, 0x01, 0xE0, 0x08, 0x02)
    val dir = SparkTestSession.tempDir("mm_hdr").toString
    Seq((1, png), (2, gif), (3, jpeg), (4, junk), (5, bmp), (6, bmpBad),
      (7, pngBad))
      .toDF("id", "media")
      .write.mode("overwrite").parquet(dir) // binary must survive parquet
    val got = spark.read.parquet(dir)
      .select(col("id"), Multimodal.imageHeaderMeta(col("media")).as("m"))
      .select("id", "m.format", "m.width", "m.height")
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got(1) === ("png", Some(640), Some(480)))
    assert(got(2) === ("gif", Some(320), Some(200)))
    assert(got(3) === ("jpeg", Some(640), Some(480)))
    assert(got(4) === ("unknown", None, None))
    assert(got(5) === ("bmp", Some(2), Some(1)))
    assert(got(6) === ("bmp", None, Some(1)))
    assert(got(7) === ("png", None, Some(480)))
  }

  test("pixelStats: real BMP/PPM/PGM pixel decode — exact means and histograms") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // hand-built 2x2 24-bit BMP: pixel offset 54, rowBytes 8 (2 px + 2 pad)
    val hdr = b(0x42, 0x4D, 0x46, 0, 0, 0, 0, 0, 0, 0, 0x36, 0, 0, 0,
      0x28, 0, 0, 0, 2, 0, 0, 0, 2, 0, 0, 0, 1, 0, 24, 0, 0, 0, 0, 0,
      0x10, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val bmp = hdr ++ b(10, 20, 30, 40, 50, 60, 0, 0,
      70, 80, 90, 100, 110, 120, 0, 0)
    val ppm = "P6\n3 1\n255\n".getBytes ++ b(255, 0, 0, 0, 255, 0, 0, 0, 255)
    val pgm = "P5\n2 2\n255\n".getBytes ++ b(0, 64, 128, 255)
    val junk = "not a raster payload".getBytes
    val trunc = hdr ++ b(10, 20, 30) // header claims 2x2, pixels missing
    // adversarial header: digit run that would overflow an unbounded
    // ANSI cast — must be a clean non-match, not a thrown SparkException
    val adversarial = "P6 99999999999999999999 2 255 payload".getBytes
    // 0xFFFFFFFF x 0xFFFFFFFF dims: the product overflows Long — must be
    // rejected by the per-dimension caps, not thrown by ANSI arithmetic
    val bmpHuge = b(0x42, 0x4D, 0x46, 0, 0, 0, 0, 0, 0, 0, 0x36, 0, 0, 0,
      0x28, 0, 0, 0, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF,
      1, 0, 24, 0, 0, 0, 0, 0)
    val dir = SparkTestSession.tempDir("mm_pix").toString
    Seq((1, bmp), (2, ppm), (3, pgm), (4, junk), (5, trunc),
      (6, adversarial), (7, bmpHuge))
      .toDF("id", "media").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("id"), Multimodal.pixelStats(col("media")).as("p"))
      .select("id", "p.format", "p.n_pixels", "p.mean_r", "p.mean_g",
        "p.mean_b", "p.hist_r", "p.hist_g", "p.hist_b")
      .collect().map(r => r.getInt(0) -> r).toMap
    // BMP rows are BGR: B 10,40,70,100 / G 20,50,80,110 / R 30,60,90,120
    assert(got(1).getString(1) === "bmp24" && got(1).getLong(2) === 4L)
    assert(got(1).getDouble(3) === 75.0 && got(1).getDouble(4) === 65.0 &&
      got(1).getDouble(5) === 55.0)
    assert(got(1).getSeq[Long](6) === Seq(2L, 2L, 0L, 0L))
    assert(got(2).getString(1) === "ppm" && got(2).getLong(2) === 3L)
    assert(got(2).getDouble(3) === 85.0 && got(2).getDouble(4) === 85.0 &&
      got(2).getDouble(5) === 85.0)
    assert(got(2).getSeq[Long](6) === Seq(2L, 0L, 0L, 1L))
    assert(got(3).getString(1) === "pgm")
    assert(got(3).getDouble(3) === 111.75 && got(3).getDouble(5) === 111.75)
    assert(got(3).getSeq[Long](7) === Seq(1L, 1L, 1L, 1L))
    assert(got(4).getString(1) === null, "junk must not decode")
    assert(got(5).getString(1) === null, "truncated blob must not decode")
    assert(got(6).getString(1) === null, "overflow-digit header must not decode")
    assert(got(7).getString(1) === null, "huge-dims BMP must not decode (or throw)")
    // the real-feature embedding path: means/255 then histogram fractions
    val ft = Multimodal.featuresFromPacked(Multimodal.packMedia(
      Seq((1L, bmp)).toDF("id", "media"), "id", "media", lit("image")))
    val row = ft.select("pix.format", "embedding").collect()(0)
    assert(row.getString(0) === "bmp24")
    val emb = row.getSeq[Double](1)
    assert(emb.length === 64)
    assert(emb(0) === math.rint(75.0 / 255.0 * 1e6) / 1e6) // mean_r / 255
    assert(emb(3) === 0.5) // hist_r bin 0 fraction = 2/4
    assert(emb.drop(15).forall(_ === 0.0)) // zero padding, not stub hashes
  }

  test("pixelStats PNG: real Deflater-compressed blobs decode through the " +
    "Inflater expression — all five filters, gray/RGB/RGBA, multi-IDAT; " +
    "out-of-envelope and corrupt blobs null out") {
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      crc.update(typ.getBytes); crc.update(data)
      be32(data.length.toLong) ++ typ.getBytes ++ data ++ be32(crc.getValue)
    }
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    // FORWARD-filter the desired pixel bytes per the PNG spec, so the
    // decoder must invert every filter type to recover them
    def filtered(w: Int, h: Int, ch: Int, px: Array[Byte],
        filters: Seq[Int]): Array[Byte] = {
      val stride = w * ch
      val out = new Array[Byte]((1 + stride) * h)
      for (r <- 0 until h) {
        out(r * (1 + stride)) = filters(r).toByte
        for (i <- 0 until stride) {
          val x = px(r * stride + i) & 0xff
          val a = if (i >= ch) px(r * stride + i - ch) & 0xff else 0
          val b = if (r > 0) px((r - 1) * stride + i) & 0xff else 0
          val c = if (r > 0 && i >= ch) px((r - 1) * stride + i - ch) & 0xff else 0
          val v = filters(r) match {
            case 0 => x
            case 1 => x - a
            case 2 => x - b
            case 3 => x - ((a + b) >> 1)
            case 4 => x - paeth(a, b, c)
            case _ => x // invalid filter id under test: raw data, bogus tag
          }
          out(r * (1 + stride) + 1 + i) = (v & 0xff).toByte
        }
      }
      out
    }
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater() // REAL zlib: header + dynamic blocks + adler
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 128)
      val n = d.deflate(buf); d.end()
      buf.take(n)
    }
    def mkPng(w: Int, h: Int, colorType: Int, px: Array[Byte],
        filters: Seq[Int], depth: Int = 8, interlace: Int = 0,
        idatSplit: Int = 1, truncate: Int = 0): Array[Byte] = {
      val ch = colorType match { case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4 }
      val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
        Array(depth.toByte, colorType.toByte, 0.toByte, 0.toByte, interlace.toByte)
      val z0 = deflate(filtered(w, h, ch, px, filters))
      val z = z0.take(z0.length - truncate)
      val parts = if (idatSplit <= 1) Seq(z)
        else Seq(z.take(z.length / 2), z.drop(z.length / 2))
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
        chunk("IHDR", ihdr) ++
        parts.flatMap(p => chunk("IDAT", p)) ++ chunk("IEND", Array[Byte]())
    }
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // 2x5 RGB exercising every filter type once (rows: None, Sub, Up,
    // Average, Paeth); channel sums chosen non-uniform
    val rgbPx = b(
      10, 200, 30, 250, 40, 0,
      60, 70, 80, 90, 100, 110,
      0, 255, 1, 254, 2, 253,
      5, 15, 25, 35, 45, 55,
      128, 64, 32, 16, 8, 4)
    val rgb = mkPng(2, 5, 2, rgbPx, Seq(0, 1, 2, 3, 4))
    // RGBA: alpha bytes must NOT leak into the channel stats
    val rgbaPx = b(100, 0, 0, 255, 0, 100, 0, 7, 0, 0, 100, 128, 50, 60, 70, 0)
    val rgba = mkPng(2, 2, 6, rgbaPx, Seq(1, 4))
    // grayscale: single channel reported on r, g, and b
    val grayPx = b(0, 64, 128, 255)
    val gray = mkPng(4, 1, 0, grayPx, Seq(2))
    val split = mkPng(2, 5, 2, rgbPx, Seq(0, 0, 0, 0, 0), idatSplit = 2)
    val interlaced = mkPng(2, 2, 0, grayPx, Seq(0, 0), interlace = 1)
    val deep = mkPng(2, 2, 0, grayPx, Seq(0, 0), depth = 16)
    val truncated = mkPng(2, 5, 2, rgbPx, Seq(0, 1, 2, 3, 4), truncate = 8)
    val badFilter = mkPng(4, 1, 0, grayPx, Seq(9))
    // huge declared dims with a plausible chunk layout: must null, not throw
    val huge = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte) ++
      chunk("IHDR", be32(0xFFFFFFFFL) ++ be32(0xFFFFFFFFL) ++ b(8, 2, 0, 0, 0)) ++
      chunk("IDAT", b(0x78, 0x01, 1, 2, 3)) ++ chunk("IEND", Array[Byte]())
    val dir = SparkTestSession.tempDir("mm_png").toString
    Seq((1, rgb), (2, rgba), (3, gray), (4, split), (5, interlaced),
      (6, deep), (7, truncated), (8, badFilter), (9, huge))
      .toDF("id", "media").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("id"), Multimodal.pixelStats(col("media")).as("p"))
      .select("id", "p.format", "p.n_pixels", "p.mean_r", "p.mean_g",
        "p.mean_b", "p.hist_r", "p.hist_g", "p.hist_b")
      .collect().map(r => r.getInt(0) -> r).toMap
    def meanOf(px: Array[Byte], ch: Int, c: Int): Double = {
      val vs = px.grouped(ch).map(g => g(c) & 0xff).toSeq
      math.rint(vs.sum.toDouble / vs.size * 1e4) / 1e4
    }
    assert(got(1).getString(1) === "png8" && got(1).getLong(2) === 10L)
    assert(got(1).getDouble(3) === meanOf(rgbPx, 3, 0))
    assert(got(1).getDouble(4) === meanOf(rgbPx, 3, 1))
    assert(got(1).getDouble(5) === meanOf(rgbPx, 3, 2))
    // histogram spot-check: r-channel values 10,250,60,90,0,254,5,35,128,16
    assert(got(1).getSeq[Long](6) === Seq(6L, 1L, 1L, 2L))
    assert(got(2).getString(1) === "png8" && got(2).getLong(2) === 4L)
    assert(got(2).getDouble(3) === meanOf(rgbaPx, 4, 0)) // alpha excluded
    assert(got(2).getDouble(5) === meanOf(rgbaPx, 4, 2))
    assert(got(3).getString(1) === "png8" && got(3).getDouble(3) === 111.75 &&
      got(3).getDouble(4) === 111.75 && got(3).getDouble(5) === 111.75)
    assert(got(3).getSeq[Long](8) === Seq(1L, 1L, 1L, 1L))
    assert(got(4).getString(1) === "png8" && got(4).getDouble(3) === meanOf(rgbPx, 3, 0),
      "zlib stream split across two IDAT chunks must decode")
    assert(got(5).getString(1) === null, "interlaced is out of envelope")
    // gray+alpha (color type 4): alpha ignored, gray on all channels
    val gaPx = b(0, 255, 64, 0, 128, 17, 255, 200)
    val ga = mkPng(2, 2, 4, gaPx, Seq(1, 4))
    val gaRow = spark.range(1).select(
      Multimodal.pixelStats(lit(ga)).as("p"))
      .select("p.format", "p.mean_r", "p.mean_b").collect()(0)
    assert(gaRow.getString(0) === "png8" && gaRow.getDouble(1) === 111.75 &&
      gaRow.getDouble(2) === 111.75)
    assert(got(6).getString(1) === null, "16-bit depth is out of envelope")
    assert(got(7).getString(1) === null, "truncated IDAT must null out")
    assert(got(8).getString(1) === null, "invalid filter byte must null out")
    assert(got(9).getString(1) === null, "huge dims must null, not throw")
    // and through the feature table: PNG embeddings are REAL features now
    val ft = Multimodal.featuresFromPacked(Multimodal.packMedia(
      Seq((1L, gray)).toDF("id", "media"), "id", "media", lit("image")))
    val row = ft.select("pix.format", "embedding").collect()(0)
    assert(row.getString(0) === "png8")
    val emb = row.getSeq[Double](1)
    assert(emb(0) === math.rint(111.75 / 255.0 * 1e6) / 1e6)
    assert(emb.drop(15).forall(_ === 0.0)) // zero padding, not stub hashes
  }

  test("pixel stats: REAL GIF decode (LZW) — palettes, interlace, KwKwK, " +
    "code-width growth, extensions; corrupt variants null out") {
    // test-side LZW encoder: greedy longest-match, bit widths tracked with
    // the same growth rule the decoder uses (bump after the entry add that
    // fills the current width, including the entry the decoder creates on
    // the final data code, so the EOI width matches)
    def lzwEncode(indices: Array[Int], minCode: Int): Array[Byte] = {
      val clear = 1 << minCode; val eoi = clear + 1
      var next = eoi + 1; var codeSize = minCode + 1
      val dict = scala.collection.mutable.HashMap[(Int, Int), Int]()
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nbits = 0
      def put(code: Int): Unit = {
        acc |= code.toLong << nbits; nbits += codeSize
        while (nbits >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
      }
      def grow(): Unit = {
        next += 1
        if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
      }
      put(clear)
      var prev = indices(0)
      for (s <- indices.drop(1)) {
        dict.get((prev, s)) match {
          case Some(c) => prev = c
          case None =>
            put(prev); dict((prev, s)) = next; grow(); prev = s
        }
      }
      put(prev); grow() // the decoder adds an entry on this read too
      put(eoi)
      if (nbits > 0) out.write((acc & 0xff).toInt)
      out.toByteArray
    }
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, (v >> 8).toByte)
    def sizeField(entries: Int): Int = // 2^(n+1) = entries
      (1 to 8).find(n => (1 << n) == entries).get - 1
    def mkGif(w: Int, h: Int, indices: Array[Int], palette: Array[Byte],
        minCode: Int, localPal: Array[Byte] = null, interlace: Boolean = false,
        ext: Boolean = false, truncate: Int = 0, version: String = "9"): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(s"GIF8${version}a".getBytes)
      out.write(le16(w)); out.write(le16(h))
      val gctBits = if (palette != null) 0x80 | sizeField(palette.length / 3) else 0
      out.write(gctBits); out.write(0); out.write(0)
      if (palette != null) out.write(palette)
      if (ext) { // graphic control extension: must be skipped, not decoded
        out.write(0x21); out.write(0xF9); out.write(4)
        out.write(Array[Byte](0, 0, 0, 0)); out.write(0)
      }
      out.write(0x2C)
      out.write(le16(0)); out.write(le16(0)); out.write(le16(w)); out.write(le16(h))
      val ipk = (if (localPal != null) 0x80 | sizeField(localPal.length / 3) else 0) |
        (if (interlace) 0x40 else 0)
      out.write(ipk)
      if (localPal != null) out.write(localPal)
      out.write(minCode)
      val z0 = lzwEncode(indices, minCode)
      val z = z0.take(z0.length - truncate)
      z.grouped(255).foreach { blk => out.write(blk.length); out.write(blk) }
      out.write(0); out.write(0x3B)
      out.toByteArray
    }
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def expMean(indices: Array[Int], pal: Array[Byte], c: Int): Double = {
      val vs = indices.map(i => pal(i * 3 + c) & 0xff)
      math.rint(vs.sum.toDouble / vs.size * 1e4) / 1e4
    }
    val pal4 = b(10, 20, 30, 200, 150, 100, 0, 255, 7, 90, 80, 70)
    // 4x4 with a literal run (KwKwK) and repeats (dict chains)
    val px16 = Array(0, 0, 0, 0, 1, 2, 1, 2, 3, 3, 1, 0, 2, 1, 0, 3)
    val g1 = mkGif(4, 4, px16, pal4, 2)
    val g89ext = mkGif(4, 4, px16, pal4, 2, ext = true)
    val g87 = mkGif(4, 4, px16, pal4, 2, version = "7")
    val gInter = mkGif(4, 4, px16, pal4, 2, interlace = true)
    val localPal = b(1, 2, 3, 4, 5, 6, 7, 8, 9, 3, 2, 1)
    val gLocal = mkGif(4, 4, px16, pal4, 2, localPal = localPal)
    // 30x30, 256-entry palette, pseudo-random indices: code width grows
    // past 9 bits and sub-blocks exceed 255 bytes
    val pal256 = Array.tabulate(768)(i => ((i * 37 + 11) & 0xff).toByte)
    val rnd = new java.util.Random(7)
    val px900 = Array.fill(900)(rnd.nextInt(256))
    val gBig = mkGif(30, 30, px900, pal256, 8)
    val gTrunc = mkGif(30, 30, px900, pal256, 8, truncate = 40)
    // minCode 3 lets indices exceed the 4-entry palette: must null
    val gBadIdx = mkGif(2, 2, Array(0, 1, 7, 2), pal4, 3)
    val gNoPal = mkGif(2, 2, Array(0, 1, 1, 0), null, 2)
    val gHuge = mkGif(500, 500, Array(0, 1, 2, 3), pal4, 2)
    val dir = SparkTestSession.tempDir("mm_gif").toString
    Seq((1, g1), (2, g89ext), (3, g87), (4, gInter), (5, gLocal), (6, gBig),
      (7, gTrunc), (8, gBadIdx), (9, gNoPal), (10, gHuge))
      .toDF("id", "media").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("id"), Multimodal.pixelStats(col("media")).as("p"))
      .select("id", "p.format", "p.n_pixels", "p.mean_r", "p.mean_g",
        "p.mean_b", "p.hist_r")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(got(1).getString(1) === "gif8" && got(1).getLong(2) === 16L)
    assert(got(1).getDouble(3) === expMean(px16, pal4, 0))
    assert(got(1).getDouble(4) === expMean(px16, pal4, 1))
    assert(got(1).getDouble(5) === expMean(px16, pal4, 2))
    // r-channel: idx0(r=10)x6 + idx2(r=0)x3 -> bin0=9; idx3(r=90)x3 ->
    // bin1=3; idx1(r=200)x4 -> bin3=4
    assert(got(1).getSeq[Long](6) === Seq(9L, 3L, 0L, 4L))
    assert(got(2).getString(1) === "gif8" &&
      got(2).getDouble(3) === got(1).getDouble(3), "89a + extension skipped")
    assert(got(3).getString(1) === "gif8" &&
      got(3).getDouble(3) === got(1).getDouble(3), "87a decodes")
    assert(got(4).getString(1) === "gif8" &&
      got(4).getDouble(3) === got(1).getDouble(3) &&
      got(4).getSeq[Long](6) === got(1).getSeq[Long](6),
      "interlace flag changes nothing: stats are order-invariant")
    assert(got(5).getDouble(3) === expMean(px16, localPal, 0),
      "local color table overrides global")
    assert(got(6).getString(1) === "gif8" && got(6).getLong(2) === 900L)
    assert(got(6).getDouble(3) === expMean(px900, pal256, 0),
      "code-width growth + multi-sub-block streams decode")
    assert(got(7).getString(1) === null, "truncated LZW must null out")
    assert(got(8).getString(1) === null, "index beyond palette must null out")
    assert(got(9).getString(1) === null, "no palette anywhere must null out")
    assert(got(10).getString(1) === null, "over-budget dims must null out")
  }

  test("media decoders never throw on fuzzed bytes (deterministic seed): " +
    "random blobs and PNG/GIF-prefixed random tails are data, not errors") {
    val rnd = new java.util.Random(42)
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val blobs = (0 until 200).map { i =>
      val body = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(body)
      // quarters: raw noise / PNG-signature + noise / PNG sig + IHDR-typed
      // chunk header + noise (drives the chunk walk into random lengths) /
      // GIF signature + noise (drives the block walk + LZW into noise)
      val blob = i % 4 match {
        case 0 => body
        case 1 => sig ++ body
        case 2 => sig ++ Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes ++ body
        case _ => "GIF89a".getBytes ++ body
      }
      (i.toLong, blob)
    }
    val df = blobs.toDF("id", "media")
    // the assertion IS that these evaluate: any throw fails the test
    val n = df.select(
      Multimodal.pixelStats(col("media")).as("p"),
      Multimodal.imageHeaderMeta(col("media")).as("ih"))
      .collect().length
    assert(n === 200)
  }

  test("wavSampleStats: exact integer stats on hand-built PCM, chunk walk " +
    "past stranger/odd-sized chunks, mono nulls channel 1, honest nulls " +
    "on corrupt/non-PCM/truncated media") {
    def le32(v: Long) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def fmtChunk(ch: Int, rate: Int, bits: Int, code: Int = 1) =
      "fmt ".getBytes("ISO-8859-1") ++ le32(16) ++ le16(code) ++ le16(ch) ++
        le32(rate) ++ le32(rate.toLong * ch * bits / 8) ++
        le16(ch * bits / 8) ++ le16(bits)
    def dataChunk(samples: Seq[Int]) =
      "data".getBytes("ISO-8859-1") ++ le32(samples.size * 2L) ++
        samples.flatMap(le16).toArray
    def wav(chunks: Array[Byte]*) =
      "RIFF".getBytes("ISO-8859-1") ++ le32(36) ++
        "WAVE".getBytes("ISO-8859-1") ++ chunks.flatten
    val strangerOdd = // 3-byte LIST chunk → 1 pad byte must be skipped
      "LIST".getBytes("ISO-8859-1") ++ le32(3) ++ Array[Byte](1, 2, 3, 0)

    val mono = wav(fmtChunk(1, 44100, 16),
      dataChunk(Seq(100, -200, -32768, 32767)))
    val stereo = wav(strangerOdd, fmtChunk(2, 8000, 16),
      dataChunk(Seq(1, -1, 2, -2))) // frames (1,-1) (2,-2)
    val nonPcm = wav(fmtChunk(1, 8000, 16, code = 3), dataChunk(Seq(1)))
    val eightBit = wav(fmtChunk(1, 8000, 8), dataChunk(Seq(1)))
    val truncated = {
      val full = wav(fmtChunk(1, 8000, 16), dataChunk(Seq(1, 2, 3, 4)))
      full.take(full.length - 3)
    }
    val garbage = Array.tabulate[Byte](64)(i => (i * 37).toByte)

    val df = Seq((1L, mono), (2L, stereo), (3L, nonPcm), (4L, eightBit),
      (5L, truncated), (6L, garbage)).toDF("id", "b")
    val rows = df.select(col("id"),
        graft.functions.WavSampleStats.wavSampleStats(col("b")).as("s"))
      .select(col("id"), col("s.*")).collect()
      .map(r => r.getLong(0) -> r).toMap

    val m = rows(1L)
    assert(m.getString(1) === "wav_pcm16" && m.getLong(2) === 4L &&
      m.getInt(3) === 1 && m.getLong(4) === 44100L)
    assert(m.getLong(5) === -101L)
    assert(m.getLong(6) === 10000L + 40000L + 1073741824L + 1073676289L)
    assert(m.getInt(7) === 32768)
    assert(m.isNullAt(8) && m.isNullAt(9) && m.isNullAt(10))

    val st = rows(2L)
    assert(st.getInt(3) === 2 && st.getLong(4) === 8000L &&
      st.getLong(2) === 2L)
    assert((st.getLong(5), st.getLong(6), st.getInt(7)) === ((3L, 5L, 2)))
    assert((st.getLong(8), st.getLong(9), st.getInt(10)) === ((-3L, 5L, 2)))

    Seq(3L, 4L, 5L, 6L).foreach(id =>
      assert(rows(id).isNullAt(1), s"blob $id must decode to null"))
  }

  test("corpusDiff: all four statuses with exact counts; null text hashes " +
    "as empty") {
    val old = Seq((1L, "same"), (2L, "was this"), (3L, "gone"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val nw = Seq((1L, "same"), (2L, "now this"), (5L, "brand new"),
      (4L, "")).toDF("doc_id", "text")
    val r = Dedup.corpusDiff(old, nw, "doc_id", "text")
      .as[(String, Long)].collect().toMap
    // doc 4: null vs "" hash identically → unchanged (documented: null
    // text is the empty document)
    assert(r === Map("unchanged" -> 2L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("editDistancePairs: classic levenshtein values, floor-ppm over the " +
    "longer side, threshold flag, null text as empty, and only candidate " +
    "pairs scored") {
    val corpus = Seq(
      (1L, "kitten"), (2L, "sitting"), (3L, "kitten"),
      (4L, null.asInstanceOf[String]), (5L, "completely different"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("id_a", "id_b")
    val r = Dedup.editDistancePairs(corpus, pairs, "doc_id", "text",
        maxDistPpm = 450000L)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4, x._5))).toMap
    assert(r((1L, 2L)) === ((3L, math.floor(3e6 / 7).toLong, true)))
    assert(r((1L, 3L)) === ((0L, 0L, true)))
    assert(r((1L, 4L)) === ((6L, 1000000L, false)), "null text = empty")
    assert(!r((1L, 5L))._3)
    assert(r.size === 4, "exactly the candidate pairs, nothing else")
  }

  test("quantizeInt8: exact codes vs a scalar replica, codes bounded in " +
    "[-127,127] with the argmax element at ±127, zero/empty vectors safe, " +
    "and dequantization error within scale/254 per dimension") {
    val vecs: Seq[(Long, Seq[Float])] = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(-3.5f, 3.5f, 1.75f)),
      (3L, Seq(0.0f, 0.0f)),
      (4L, Seq.empty[Float]),
      (5L, Seq(0.001f, -0.002f, 0.0005f)))
    val got = Similarity.quantizeInt8(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .as[(Long, Int, Double, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap

    def replica(v: Seq[Float]): (Double, Seq[Int]) = {
      val scale = if (v.isEmpty) 0.0 else v.map(x => math.abs(x.toDouble)).max
      val q = v.map { x =>
        if (scale == 0.0) 0
        else math.floor(x.toDouble / scale * 127.0 + 0.5).toInt
      }
      (scale, q)
    }
    vecs.foreach { case (id, v) =>
      val (scale, q) = replica(v)
      val (_, nDims, gotScale, qvec, qSum, qL1) = got(id)
      assert(nDims === v.size)
      assert(gotScale === scale)
      assert(qvec === q.mkString(","))
      assert(qSum === q.map(_.toLong).sum)
      assert(qL1 === q.map(x => math.abs(x).toLong).sum)
      assert(q.forall(x => x >= -127 && x <= 127))
      if (scale > 0) {
        assert(q.map(math.abs).max === 127, "argmax element saturates")
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(x.toDouble - qi * scale / 127.0) <=
            scale / 254.0 + 1e-12)
        }
      }
    }
  }

  test("scriptSignals: hand-computed ppm on planted mixed-script text; " +
    "empty and null score zero across the board") {
    import graft.ops.TextOps
    // 10 codepoints: "ab 12" + kana + han + cyr + space + latin
    val t = "ab 12\u3042\u4E8C\u0414 z"
    val rows = Seq((1L, t), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select($"id", TextOps.scriptSignals($"text").as("s"))
      .select($"id", $"s.n_chars", $"s.latin_ppm", $"s.digit_ppm",
        $"s.cjk_ppm", $"s.cyrillic_ppm", $"s.space_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // n=10: latin a,b,z=3; digit 1,2=2; cjk あ,二=2; cyr Д=1; space 2
    assert(rows(1L) === ((1L, 10L, 300000L, 200000L, 200000L, 100000L, 200000L)))
    assert(rows(2L) === ((2L, 0L, 0L, 0L, 0L, 0L, 0L)))
    assert(rows(3L) === ((3L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("fleschMilli: hand-computed score, sentence/word floors, empty -> null") {
    import graft.ops.TextOps
    // "the cat sat. it ran!" -> W=5, S=2, Y groups: e,a,a,i,a = 5
    // flesch = 206.835 - 1.015*(5/2) - 84.6*(5/5) = 206.835-2.5375-84.6
    val expected = math.floor((206.835 - 1.015 * 2.5 - 84.6) * 1000.0).toLong
    val rows = Seq((1L, "the cat sat. it ran!"), (2L, ""), (3L, "zzz pfft"))
      .toDF("id", "text")
      .select($"id", TextOps.fleschMilli($"text").as("f"))
      .as[(Long, Option[Long])].collect().toMap
    assert(rows(1L) === Some(expected))
    assert(rows(2L) === None)
    // no vowels, no sentence marks: W=2, S floored 1, Y=0
    assert(rows(3L) === Some(math.floor(
      (206.835 - 1.015 * 2.0 - 0.0) * 1000.0).toLong))
  }

  test("c4Clean: each published rule drops exactly its line; page gate " +
    "needs 3 survivors and no lorem ipsum") {
    import graft.ops.TextOps
    val page = Seq(
      "this line has enough words and ends well.",   // keep
      "so does this second line of the page?",       // keep
      "and a third proper sentence closes it.",      // keep
      "too short line.",                             // < 5 words
      "this one has no terminal punctuation at all", // no punct
      "this line mentions JavaScript libraries sadly.", // javascript
      "object { nested: true } appears right here.") // brace
      .mkString("\n")
    val rows = Seq((1L, page), (2L, page + "\nlorem ipsum dolor sit amet."),
        (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select($"id", TextOps.c4Clean($"text").as("c"))
      .select($"id", $"c.n_lines", $"c.n_kept", $"c.page_ok", $"c.text")
      .as[(Long, Long, Long, Boolean, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows(1L) === ((1L, 7L, 3L, true,
      Seq("this line has enough words and ends well.",
        "so does this second line of the page?",
        "and a third proper sentence closes it.").mkString("\n"))))
    // the lorem line itself passes the LINE rules (4th keeper) but the
    // page-level gate kills the page
    assert(rows(2L)._3 === 4L && rows(2L)._4 === false)
    assert(rows(3L) === ((3L, 1L, 0L, false, "")))
    assert(rows(4L) === ((4L, 1L, 0L, false, "")))
  }

  test("gopherGate: each published rule flips on its own planted doc; " +
    "thresholds are integer-exact at the boundary") {
    import graft.ops.TextOps
    val good = (("the data and tables that work well with care " * 5).trim)
    val rows = Seq(
      (1L, good),                                          // all pass
      (2L, "the of " + ("aa " * 20).trim),                 // wordlen < 3 mean
      (3L, good + " ### ### ### ### ### ### ### ### ###"), // symbols > 10%
      (4L, good.split(" ").map(w => "123" + "," ).mkString(" ") +
        " the of and that have"),                          // alpha < 80%
      (5L, ("zebra quartz " * 30).trim),                   // < 2 stopwords
      (6L, "- a\n- b\n- c\n" + good),                     // bullets fine (<90%)
      (7L, ""))                                            // empty
      .toDF("id", "text")
      .select($"id", TextOps.gopherGate($"text", minWords = 10L).as("g"))
      .select($"id", $"g.ok_words", $"g.ok_wordlen", $"g.ok_symbols",
        $"g.ok_bullets", $"g.ok_ellipsis", $"g.ok_alpha", $"g.ok_stop",
        $"g.gopher_ok")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean,
        Boolean, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(rows(1L)._9 === true, s"clean doc must pass: ${rows(1L)}")
    assert(rows(2L)._3 === false && rows(2L)._9 === false, "mean word len")
    assert(rows(3L)._4 === false, "symbol ratio")
    assert(rows(4L)._7 === false, "alpha-word share")
    assert(rows(5L)._8 === false, "stopword presence")
    assert(rows(6L)._5 === true && rows(6L)._9 === true,
      "3 bullet lines of 4+ lines stay under 90%")
    assert(rows(7L)._2 === false && rows(7L)._9 === false, "empty doc")
  }
}

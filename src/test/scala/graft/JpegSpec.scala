package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{JpegPlant, Multimodal}

/** JPEG pixel decode, sequential and progressive, through the one scan
  * decoder ([[graft.functions.JpegDecode]]):
  *
  *  - analytic flat-color images from [[JpegPlant]] (DC-only, all-ones
  *    quant table → every sample is exactly 128 + dc/8) across grayscale /
  *    4:4:4 / 4:2:2 / 4:2:0, multi-MCU grids, restart intervals, odd dims;
  *  - the sequential envelope: a stream with no EOI or with bytes after
  *    its scan, a size-0 AC symbol with run 1..14 ending only its block,
  *    and a 1-component frame's MCU block order under 2×2 / 2×1 / 1×2
  *    sampling;
  *  - a full test-side encoder (Annex K huffman tables, forward DCT,
  *    run-length AC with ZRL, byte stuffing) + an independent reference
  *    decode (dequant → IDCT → nearest-neighbor upsample → JFIF YCbCr)
  *    whose stats must match the engine bit-for-bit;
  *  - a progressive (SOF2) encoder covering spectral selection,
  *    successive approximation (DC + AC refinement with inline correction
  *    bits and EOB runs) and DC restart intervals, verified bit-exact
  *    against the baseline decode of the same quantized blocks
  *    (progressive coding is coefficient-lossless by construction);
  *  - honest nulls for everything out of envelope: malformed progressive
  *    (sequential band in an SOF2 stream), 12-bit, arithmetic coding,
  *    truncated entropy data, corrupt huffman, huge dims, garbage.
  */
class JpegSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ZZ: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val cosT: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) *
      math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  private def decodeStats(bytes: Array[Byte]) =
    Seq(1).toDF("i").select(Multimodal.pixelStats(lit(bytes)).as("p"))
      .select("p.format", "p.n_pixels", "p.mean_r", "p.mean_g", "p.mean_b",
        "p.hist_r", "p.hist_g", "p.hist_b")
      .collect()(0)

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def clamp(v: Int): Int = math.max(0, math.min(255, v))

  // ---------------- analytic flat-color cases (JpegPlant) ----------------

  test("flat grayscale: one block, multi-MCU grid, and a restart-marker " +
    "stream all decode to the exact analytic constant 128 + dc/8") {
    for ((w, h, dri) <- Seq((8, 8, 0), (24, 16, 0), (40, 8, 2), (19, 13, 3))) {
      val dc = -320 // sample = 128 - 40 = 88 everywhere
      val bytes = JpegPlant.flat(w, h, Seq(dc), Seq((1, 1)), dri)
      val r = decodeStats(bytes)
      assert(r.getString(0) === "jpeg", s"${w}x$h dri=$dri must decode")
      assert(r.getLong(1) === w.toLong * h)
      assert(r.getDouble(2) === 88.0 && r.getDouble(3) === 88.0 &&
        r.getDouble(4) === 88.0, s"flat gray mean ${w}x$h dri=$dri")
      assert(r.getSeq[Long](5) === Seq(0L, w.toLong * h, 0L, 0L),
        "all pixels in hist bin 1 (88*4/256 = 1)")
    }
  }

  test("flatProgressive: SOF2 twins of the flat planter decode to the same " +
    "analytic constants, and the sa=true variant's odd dc forces every DC " +
    "refinement bit (sample = floor(dc/8 + 128.5))") {
    val plain = JpegPlant.flatProgressive(8, 8, Seq(-320), Seq((1, 1)))
    val p = decodeStats(plain)
    assert(p.getString(0) === "jpeg" && p.getDouble(2) === 88.0)
    val sa = JpegPlant.flatProgressive(8, 8, Seq(-321), Seq((1, 1)), sa = true)
    val r = decodeStats(sa)
    assert(r.getString(0) === "jpeg", "SA variant must decode")
    assert(r.getDouble(2) === 88.0, "floor(-321/8 + 128.5) = 88")
    val saColor = JpegPlant.flatProgressive(16, 16, Seq(65, -383, 513),
      Seq((2, 2), (1, 1), (1, 1)), sa = true)
    val c = decodeStats(saColor)
    // samples (136, 80, 192) -> the q133 variant-4 JFIF conversions
    assert(c.getString(0) === "jpeg")
    assert(c.getDouble(2) === 226.0 && c.getDouble(3) === 107.0 &&
      c.getDouble(4) === 51.0, s"got ${c.getDouble(2)}/${c.getDouble(3)}/${c.getDouble(4)}")
  }

  test("flat YCbCr at 4:4:4, 4:2:2, 4:2:0 and odd dims: every pixel is the " +
    "pinned JFIF conversion of the analytic (Y, Cb, Cr) constants") {
    // Y = 128+8 = 136, Cb = 128-48 = 80, Cr = 128+64 = 192
    val (y, cb, cr) = (136, 80, 192)
    val eR = clamp(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
    val eG = clamp(math.floor(
      y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
    val eB = clamp(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
    for ((w, h, samp) <- Seq(
      (8, 8, Seq((1, 1), (1, 1), (1, 1))),    // 4:4:4
      (16, 8, Seq((2, 1), (1, 1), (1, 1))),   // 4:2:2
      (16, 16, Seq((2, 2), (1, 1), (1, 1))),  // 4:2:0
      (10, 6, Seq((2, 2), (1, 1), (1, 1))),   // 4:2:0, odd dims (MCU crop)
      (12, 16, Seq((1, 2), (1, 1), (1, 1))))) { // 4:4:0
      val bytes = JpegPlant.flat(w, h, Seq(64, -384, 512), samp)
      val r = decodeStats(bytes)
      assert(r.getString(0) === "jpeg", s"${w}x$h $samp must decode")
      assert(r.getLong(1) === w.toLong * h)
      assert(r.getDouble(2) === eR.toDouble, s"R ${w}x$h $samp")
      assert(r.getDouble(3) === eG.toDouble, s"G ${w}x$h $samp")
      assert(r.getDouble(4) === eB.toDouble, s"B ${w}x$h $samp")
    }
  }

  // ---------------- full encoder + independent reference decode ----------

  /** Annex K tables K.3/K.5 (luminance DC/AC) — public ITU constants. */
  private val kDcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val kDcVals = Array.tabulate(12)(_.toByte)
  private val kAcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val kAcVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  private def canon(bits: Array[Int]): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var code = 0
    for (l <- 1 to 16) {
      for (_ <- 0 until bits(l - 1)) { out += ((code, l)); code += 1 }
      code <<= 1
    }
    out.toArray
  }

  private def cat(v: Int): Int = {
    var s = 0; var m = math.abs(v)
    while (m > 0) { s += 1; m >>= 1 }
    s
  }

  private class BitW {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0; var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc); if (acc == 0xff) out.write(0x00); acc = 0; n = 0
        }
        i -= 1
      }
    }
    def align(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  /** Encode per-component planes of QUANTIZED natural-order coefficient
    * blocks into a baseline JPEG (one shared all-`q` quant table, Annex K
    * luminance huffman tables for everything unless another AC table is
    * given). `eobSym(n)` is the symbol that ends the n-th coded block when
    * its band has trailing zeros (0x00, the plain EOB, by default).
    */
  private def encode(w: Int, h: Int, samp: Seq[(Int, Int)],
      blocks: Seq[Map[(Int, Int), Array[Int]]], q: Array[Int],
      acBits: Array[Int] = kAcBits, acVals: Array[Byte] = kAcVals,
      eobSym: Int => Int = _ => 0x00): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, p: Array[Int]): Unit = {
      marker(m); u16(p.length + 2); p.foreach(out.write)
    }
    marker(0xd8)
    segment(0xdb, Array(0x00) ++ ZZ.map(q)) // quant values in zigzag order
    segment(0xc0,
      Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, samp.size) ++
        samp.indices.flatMap(i => Seq(i + 1, (samp(i)._1 << 4) | samp(i)._2, 0)))
    segment(0xc4,
      Array(0x00) ++ kDcBits ++ kDcVals.map(_ & 0xff) ++
        Array(0x10) ++ acBits ++ acVals.map(_ & 0xff))
    segment(0xda,
      Array(samp.size) ++ samp.indices.flatMap(i => Seq(i + 1, 0x00)) ++
        Array(0, 63, 0))
    val dcC = canon(kDcBits); val acC = canon(acBits)
    val acIdx = acVals.zipWithIndex.map { case (v, i) => (v & 0xff) -> i }.toMap
    val bw = new BitW
    val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val pred = Array.fill(samp.size)(0)
    var nBlk = 0
    for (my <- 0 until mcusY; mx <- 0 until mcusX; c <- samp.indices;
         by <- 0 until samp(c)._2; bx <- 0 until samp(c)._1) {
      val blk = blocks(c).getOrElse(
        (mx * samp(c)._1 + bx, my * samp(c)._2 + by), new Array[Int](64))
      // DC
      val diff = blk(0) - pred(c); pred(c) = blk(0)
      val s = cat(diff)
      val (dc, dl) = dcC(s); bw.put(dc, dl)
      if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
      // AC with ZRL + EOB
      var k = 1; var run = 0
      while (k < 64) {
        val v = blk(ZZ(k))
        if (v == 0) run += 1
        else {
          while (run > 15) {
            val (z, zl) = acC(acIdx(0xf0)); bw.put(z, zl); run -= 16
          }
          val sz = cat(v)
          val (ac, al) = acC(acIdx((run << 4) | sz)); bw.put(ac, al)
          bw.put(if (v >= 0) v else v + (1 << sz) - 1, sz)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (e, el) = acC(acIdx(eobSym(nBlk))); bw.put(e, el) }
      nBlk += 1
    }
    bw.align()
    out.write(bw.out.toByteArray)
    marker(0xd9)
    out.toByteArray
  }

  /** Independent reference decode of the same quantized blocks: dequant →
    * IDCT → level shift/clamp → nearest upsample → JFIF convert → stats.
    * Returns (meanR, meanG, meanB, histR) with the engine's rounding.
    */
  private def refStats(w: Int, h: Int, samp: Seq[(Int, Int)],
      blocks: Seq[Map[(Int, Int), Array[Int]]], q: Array[Int],
      histBins: Int = 4): (Double, Double, Double, Seq[Long]) = {
    val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val planes = samp.indices.map { c =>
      val pw = mcusX * 8 * samp(c)._1; val ph = mcusY * 8 * samp(c)._2
      val plane = Array.ofDim[Int](ph, pw)
      for (by <- 0 until ph / 8; bx <- 0 until pw / 8) {
        val blk = blocks(c).getOrElse((bx, by), new Array[Int](64))
        val deq = blk.indices.map(i => blk(i).toDouble * q(i)).toArray
        for (y <- 0 until 8; x <- 0 until 8) {
          var s = 0.0
          for (u <- 0 until 8; v <- 0 until 8)
            s += cosT(x)(u) * cosT(y)(v) * deq(v * 8 + u)
          plane(by * 8 + y)(bx * 8 + x) =
            clamp(math.floor(s / 4.0 + 128.0 + 0.5).toInt)
        }
      }
      plane
    }
    var sr = 0L; var sg = 0L; var sb = 0L
    val hr = new Array[Long](histBins)
    for (y <- 0 until h; x <- 0 until w) {
      val yv = planes(0)(y * samp(0)._2 / vMax)(x * samp(0)._1 / hMax)
      val (rv, gv, bv) =
        if (samp.size == 1) (yv, yv, yv)
        else {
          val cb = planes(1)(y * samp(1)._2 / vMax)(x * samp(1)._1 / hMax)
          val cr = planes(2)(y * samp(2)._2 / vMax)(x * samp(2)._1 / hMax)
          (clamp(math.floor(yv + 1.402 * (cr - 128) + 0.5).toInt),
            clamp(math.floor(
              yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt),
            clamp(math.floor(yv + 1.772 * (cb - 128) + 0.5).toInt))
        }
      sr += rv; sg += gv; sb += bv
      hr(rv * histBins / 256) += 1
    }
    val n = (w * h).toDouble
    (round4(sr / n), round4(sg / n), round4(sb / n), hr.toSeq)
  }

  /** Forward DCT + quantize a sample plane into natural-order blocks. */
  private def fdctBlocks(plane: Array[Array[Int]], q: Array[Int])
      : Map[(Int, Int), Array[Int]] = {
    val ph = plane.length; val pw = plane(0).length
    (for (by <- 0 until ph / 8; bx <- 0 until pw / 8) yield {
      val blk = new Array[Int](64)
      for (v <- 0 until 8; u <- 0 until 8) {
        var s = 0.0
        for (y <- 0 until 8; x <- 0 until 8)
          s += (plane(by * 8 + y)(bx * 8 + x) - 128) * cosT(x)(u) * cosT(y)(v)
        blk(v * 8 + u) = math.round(s / 4.0 / q(v * 8 + u)).toInt
      }
      (bx, by) -> blk
    }).toMap
  }

  test("gradient grayscale through the full encoder: engine stats equal an " +
    "independent dequant→IDCT→stats replay exactly (many AC categories)") {
    val w = 24; val h = 16
    val q = Array.tabulate(64)(i => 1 + (i % 7)) // non-trivial quant table
    val plane = Array.tabulate(h, w)((y, x) => (x * 11 + y * 23 + x * y) % 256)
    val blocks = Seq(fdctBlocks(plane, q))
    val bytes = encode(w, h, Seq((1, 1)), blocks, q)
    val r = decodeStats(bytes)
    val (er, eg, eb, ehr) = refStats(w, h, Seq((1, 1)), blocks, q)
    assert(r.getString(0) === "jpeg")
    assert(r.getLong(1) === w.toLong * h)
    assert(r.getDouble(2) === er && r.getDouble(3) === eg &&
      r.getDouble(4) === eb, "means must match the reference replay")
    assert(r.getSeq[Long](5) === ehr, "histogram must match")
  }

  test("textured 4:2:0 color through the full encoder: engine equals the " +
    "reference replay (subsampled chroma, nearest upsample, JFIF convert)") {
    val w = 20; val h = 12 // odd vs the 16x16 MCU → crop path
    val q = Array.tabulate(64)(i => 2 + (i % 5))
    val hM = 2; val vM = 2
    val mX = (w + 15) / 16; val mY = (h + 15) / 16
    val yPlane = Array.tabulate(mY * 16, mX * 16)((y, x) => (x * 7 + y * 13) % 256)
    val cbPlane = Array.tabulate(mY * 8, mX * 8)((y, x) => (128 + x * 5 - y * 3) % 256)
    val crPlane = Array.tabulate(mY * 8, mX * 8)((y, x) => (100 + x * 2 + y * 9) % 256)
    val samp = Seq((hM, vM), (1, 1), (1, 1))
    val blocks = Seq(fdctBlocks(yPlane, q), fdctBlocks(cbPlane, q),
      fdctBlocks(crPlane, q))
    val bytes = encode(w, h, samp, blocks, q)
    val r = decodeStats(bytes)
    val (er, eg, eb, ehr) = refStats(w, h, samp, blocks, q)
    assert(r.getString(0) === "jpeg")
    assert(r.getLong(1) === w.toLong * h)
    assert(r.getDouble(2) === er && r.getDouble(3) === eg &&
      r.getDouble(4) === eb, "4:2:0 means must match the reference replay")
    assert(r.getSeq[Long](5) === ehr)
  }

  test("ZRL path: a lone high-frequency coefficient behind a >15 zero run " +
    "round-trips (encoder emits ZRL, decoder must consume it)") {
    val q = Array.fill(64)(1)
    // zigzag position 20 (natural ZZ(20)=40) → 19 zeros → ZRL + run 3
    val blk = new Array[Int](64); blk(ZZ(20)) = 5; blk(0) = 16
    val blocks = Seq(Map((0, 0) -> blk))
    val bytes = encode(8, 8, Seq((1, 1)), blocks, q)
    val r = decodeStats(bytes)
    val (er, eg, eb, ehr) = refStats(8, 8, Seq((1, 1)), blocks, q)
    assert(r.getString(0) === "jpeg")
    assert(r.getDouble(2) === er && r.getDouble(3) === eg && r.getDouble(4) === eb)
    assert(r.getSeq[Long](5) === ehr)
  }

  // ---------------- sequential scan envelope ----------------

  /** A 24×16 gradient coded by the full encoder, and its reference stats. */
  private lazy val gradient = {
    val q = Array.tabulate(64)(i => 1 + (i % 7))
    val plane = Array.tabulate(16, 24)((y, x) => (x * 11 + y * 23 + x * y) % 256)
    val blocks = Seq(fdctBlocks(plane, q))
    (encode(24, 16, Seq((1, 1)), blocks, q), refStats(24, 16, Seq((1, 1)), blocks, q))
  }

  private def assertRef(bytes: Array[Byte],
      ref: (Double, Double, Double, Seq[Long]), what: String): Unit = {
    val r = decodeStats(bytes)
    assert(r.getString(0) === "jpeg", s"$what must decode")
    assert(r.getDouble(2) === ref._1 && r.getDouble(3) === ref._2 &&
      r.getDouble(4) === ref._3, s"$what: means must match the reference replay")
    assert(r.getSeq[Long](5) === ref._4, s"$what: histogram must match")
  }

  test("a complete sequential stream with no EOI still decodes to the " +
    "reference stats") {
    val (bytes, ref) = gradient
    assert(bytes.takeRight(2).toSeq === Seq(0xff.toByte, 0xd9.toByte))
    assertRef(bytes.dropRight(2), ref, "no-EOI stream")
  }

  test("bytes after the sequential scan are ignored: a stream with trailing " +
    "junk, a stray marker or a second EOI decodes like the plain one") {
    val (bytes, ref) = gradient
    val junk = Array(0x12, 0x34, 0xff, 0x00, 0xab).map(_.toByte)
    val strayMarker = Array(0xff, 0xe1, 0x00).map(_.toByte)
    val eoi = Array(0xff, 0xd9).map(_.toByte)
    assertRef(bytes ++ junk, ref, "trailing junk")
    assertRef(bytes ++ strayMarker, ref, "trailing stray marker")
    assertRef(bytes ++ eoi, ref, "second EOI")
    assertRef(bytes.dropRight(2) ++ junk, ref, "junk in place of EOI")
  }

  test("sequential AC: a size-0 symbol with run 1..14 ends exactly its own " +
    "block, with no EOB run and no extra bits") {
    // the progressive AC table carries the EOBn symbols 0x10..0xE0; every
    // block of a 24x16 image ends its band with one of them
    val q = Array.tabulate(64)(i => 1 + (i % 3))
    val blocks = Seq((for (by <- 0 until 2; bx <- 0 until 3) yield {
      val i = by * 3 + bx
      val blk = new Array[Int](64)
      blk(0) = 16 * i - 40; blk(ZZ(1)) = i + 1; blk(ZZ(2)) = -(i % 3) - 1
      blk(ZZ(5)) = 3 - i
      (bx, by) -> blk
    }).toMap)
    val bytes = encode(24, 16, Seq((1, 1)), blocks, q, pAcBits, pAcVals,
      eobSym = n => ((n % 14) + 1) << 4)
    assertRef(bytes, refStats(24, 16, Seq((1, 1)), blocks, q), "EOBn-as-EOB")
  }

  test("a 1-component sequential frame with sampling factors other than " +
    "1x1 decodes its blocks in MCU order over the padded MCU grid") {
    // hMax = vMax = the component's own factors: each MCU holds h x v
    // blocks, walked row-major inside the MCU, MCUs row-major
    val q = Array.tabulate(64)(i => 2 + (i % 5))
    for ((w, h, hv) <- Seq((20, 12, (2, 2)), (20, 12, (2, 1)), (12, 20, (1, 2)))) {
      val mX = (w + 8 * hv._1 - 1) / (8 * hv._1)
      val mY = (h + 8 * hv._2 - 1) / (8 * hv._2)
      val plane = Array.tabulate(mY * 8 * hv._2, mX * 8 * hv._1)(
        (y, x) => (x * 9 + y * 17 + x * y) % 256)
      val blocks = Seq(fdctBlocks(plane, q))
      assertRef(encode(w, h, Seq(hv), blocks, q),
        refStats(w, h, Seq(hv), blocks, q), s"${w}x$h at $hv")
    }
  }

  // ---------------- progressive encoder (SOF2) ----------------

  /** Progressive encoder over the same quantized blocks: scan script =
    * (component indices, Ss, Se, Ah, Al) per scan. Mirrors T.81 G.1.2 /
    * the libjpeg encoder: DC point transform is an ARITHMETIC shift, AC a
    * magnitude shift; AC-first scans fold empty bands into EOB runs; AC
    * refinement emits newly-significant coefficients as (run, 1) + sign
    * with inline correction bits for crossed history, and EOB runs carry
    * the folded blocks' correction bits after the EOBn code.
    */
  /** Progressive AC huffman table: the Annex K symbols PLUS the EOBn run
    * codes 0x10..0xE0 (which only exist in progressive streams), all at a
    * flat 8-bit length — 176 codes ≤ 256, Kraft-valid, no all-ones code.
    */
  private val pAcVals: Array[Byte] =
    kAcVals ++ (1 to 14).map(r => (r << 4).toByte)
  private val pAcBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, pAcVals.length, 0, 0, 0, 0, 0, 0, 0, 0)

  private def encodeProgressive(w: Int, h: Int, samp: Seq[(Int, Int)],
      blocks: Seq[Map[(Int, Int), Array[Int]]], q: Array[Int],
      scans: Seq[(Seq[Int], Int, Int, Int, Int)],
      dcDri: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, p: Array[Int]): Unit = {
      marker(m); u16(p.length + 2); p.foreach(out.write)
    }
    marker(0xd8)
    segment(0xdb, Array(0x00) ++ ZZ.map(q))
    segment(0xc2, // SOF2
      Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, samp.size) ++
        samp.indices.flatMap(i => Seq(i + 1, (samp(i)._1 << 4) | samp(i)._2, 0)))
    segment(0xc4,
      Array(0x00) ++ kDcBits ++ kDcVals.map(_ & 0xff) ++
        Array(0x10) ++ pAcBits ++ pAcVals.map(_ & 0xff))
    val dcC = canon(kDcBits); val acC = canon(pAcBits)
    val acIdx = pAcVals.zipWithIndex.map { case (v, i) => (v & 0xff) -> i }.toMap
    val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    def nbw(c: Int) = ((w * samp(c)._1 + hMax - 1) / hMax + 7) / 8
    def nbh(c: Int) = ((h * samp(c)._2 + vMax - 1) / vMax + 7) / 8
    def blk(c: Int, bx: Int, by: Int): Array[Int] =
      blocks(c).getOrElse((bx, by), new Array[Int](64))

    var driCurrent = -1 // track so DRI is (re)emitted when it changes
    for ((compIdx, ss, se, ah, al) <- scans) {
      val wantDri = if (ss == 0) dcDri else 0
      if (wantDri != math.max(driCurrent, 0)) {
        segment(0xdd, Array((wantDri >> 8) & 0xff, wantDri & 0xff))
        driCurrent = wantDri
      }
      segment(0xda,
        Array(compIdx.size) ++ compIdx.flatMap(i => Seq(i + 1, 0x00)) ++
          Array(ss, se, (ah << 4) | al))
      val bw = new BitW
      var rstN = 0
      var sinceRst = 0
      var eobrun = 0
      val pendingBr = scala.collection.mutable.ArrayBuffer.empty[Int]
      def emitEobrun(): Unit = if (eobrun > 0) {
        var r = 0
        while ((1 << (r + 1)) <= eobrun && r < 14) r += 1
        val (code, len) = acC(acIdx(r << 4))
        bw.put(code, len)
        if (r > 0) bw.put(eobrun - (1 << r), r)
        pendingBr.foreach(b => bw.put(b, 1))
        pendingBr.clear()
        eobrun = 0
      }
      val preds = Array.fill(compIdx.size)(0)
      def maybeRestart(): Unit = if (wantDri > 0 && sinceRst == wantDri) {
        emitEobrun()
        bw.align(); bw.out.write(0xff); bw.out.write(0xd0 + rstN)
        rstN = (rstN + 1) & 7; sinceRst = 0
        preds.indices.foreach(preds(_) = 0)
      }

      def dcBlock(ci: Int, c: Int, bx: Int, by: Int): Unit = {
        val v = blk(c, bx, by)(0) >> al // ARITHMETIC point transform
        if (ah == 0) {
          val diff = v - preds(ci); preds(ci) = v
          val s = cat(diff)
          val (code, len) = dcC(s); bw.put(code, len)
          if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
        } else bw.put(v & 1, 1)
      }
      def acFirstBlock(c: Int, bx: Int, by: Int): Unit = {
        val b = blk(c, bx, by)
        val vs = (ss to se).map { k =>
          val v = b(ZZ(k)); val t = math.abs(v) >> al
          if (v < 0) -t else t
        }
        if (vs.forall(_ == 0)) { eobrun += 1; if (eobrun == 0x7fff) emitEobrun() }
        else {
          emitEobrun()
          var r = 0
          var lastNz = -1
          vs.indices.foreach(i => if (vs(i) != 0) lastNz = i)
          for (i <- vs.indices.take(lastNz + 1)) {
            val v = vs(i)
            if (v == 0) r += 1
            else {
              while (r > 15) {
                val (z, zl) = acC(acIdx(0xf0)); bw.put(z, zl); r -= 16
              }
              val s = cat(v)
              val (code, len) = acC(acIdx((r << 4) | s)); bw.put(code, len)
              bw.put(if (v >= 0) v else v + (1 << s) - 1, s)
              r = 0
            }
          }
          if (lastNz < vs.length - 1) { eobrun += 1 } // trailing zeros -> EOB
        }
      }
      def acRefineBlock(c: Int, bx: Int, by: Int): Unit = {
        val b = blk(c, bx, by)
        val abs = (ss to se).map(k => math.abs(b(ZZ(k))) >> al)
        var eobIdx = -1
        abs.indices.foreach(i => if (abs(i) == 1) eobIdx = i)
        var r = 0
        val localBr = scala.collection.mutable.ArrayBuffer.empty[Int]
        for (i <- abs.indices) {
          val t = abs(i)
          if (t == 0) r += 1
          else {
            // the ZRL flush runs at EVERY nonzero (history included) so
            // crossed-history correction bits land after the right ZRL —
            // mirroring the decoder's inline reads; runs with no newly-
            // significant coefficient left (i > eobIdx) fold into EOB
            while (r > 15 && i <= eobIdx) {
              emitEobrun()
              val (z, zl) = acC(acIdx(0xf0)); bw.put(z, zl); r -= 16
              localBr.foreach(bb => bw.put(bb, 1)); localBr.clear()
            }
            if (t > 1) localBr += (t & 1) // history: correction bit
            else {
              emitEobrun()
              val (code, len) = acC(acIdx((r << 4) | 1)); bw.put(code, len)
              bw.put(if (b(ZZ(ss + i)) < 0) 0 else 1, 1) // sign
              localBr.foreach(bb => bw.put(bb, 1)); localBr.clear()
              r = 0
            }
          }
        }
        if (r > 0 || localBr.nonEmpty) {
          eobrun += 1
          pendingBr ++= localBr
          if (eobrun == 0x7fff) emitEobrun()
        }
      }

      if (ss == 0) {
        if (compIdx.size == 1) {
          val c = compIdx.head
          for (by <- 0 until nbh(c); bx <- 0 until nbw(c)) {
            maybeRestart(); dcBlock(0, c, bx, by); sinceRst += 1
          }
        } else {
          for (my <- 0 until mcusY; mx <- 0 until mcusX) {
            maybeRestart()
            for (ci <- compIdx.indices; c = compIdx(ci);
                 by <- 0 until samp(c)._2; bx <- 0 until samp(c)._1)
              dcBlock(ci, c, mx * samp(c)._1 + bx, my * samp(c)._2 + by)
            sinceRst += 1
          }
        }
      } else {
        val c = compIdx.head
        for (by <- 0 until nbh(c); bx <- 0 until nbw(c)) {
          if (ah == 0) acFirstBlock(c, bx, by) else acRefineBlock(c, bx, by)
        }
        emitEobrun()
      }
      if (ss == 0) () // DC scans have no eobrun
      bw.align()
      out.write(bw.out.toByteArray)
    }
    marker(0xd9)
    out.toByteArray
  }

  test("progressive spectral selection: multi-scan gray and 4:2:0 color " +
    "decode to EXACTLY the baseline stats of the same quantized blocks " +
    "(progressive coding is coefficient-lossless)") {
    val q = Array.tabulate(64)(i => 1 + (i % 7))
    // gray 24x16 gradient, three spectral bands
    val w = 24; val h = 16
    val plane = Array.tabulate(h, w)((y, x) => (x * 11 + y * 23 + x * y) % 256)
    val blocks = Seq(fdctBlocks(plane, q))
    val prog = encodeProgressive(w, h, Seq((1, 1)), blocks, q, Seq(
      (Seq(0), 0, 0, 0, 0), (Seq(0), 1, 5, 0, 0), (Seq(0), 6, 63, 0, 0)))
    val r = decodeStats(prog)
    val (er, eg, eb, ehr) = refStats(w, h, Seq((1, 1)), blocks, q)
    assert(r.getString(0) === "jpeg", "progressive gray must decode")
    assert(r.getDouble(2) === er && r.getDouble(3) === eg &&
      r.getDouble(4) === eb)
    assert(r.getSeq[Long](5) === ehr)
    // 4:2:0 color 20x12, interleaved DC + per-component AC bands
    val q2 = Array.tabulate(64)(i => 2 + (i % 5))
    val cw = 20; val ch = 12
    val mX = (cw + 15) / 16; val mY = (ch + 15) / 16
    val yP = Array.tabulate(mY * 16, mX * 16)((y, x) => (x * 7 + y * 13) % 256)
    val cbP = Array.tabulate(mY * 8, mX * 8)((y, x) => (128 + x * 5 - y * 3) % 256)
    val crP = Array.tabulate(mY * 8, mX * 8)((y, x) => (100 + x * 2 + y * 9) % 256)
    val samp = Seq((2, 2), (1, 1), (1, 1))
    val cBlocks = Seq(fdctBlocks(yP, q2), fdctBlocks(cbP, q2), fdctBlocks(crP, q2))
    val cProg = encodeProgressive(cw, ch, samp, cBlocks, q2, Seq(
      (Seq(0, 1, 2), 0, 0, 0, 0),
      (Seq(0), 1, 5, 0, 0), (Seq(0), 6, 63, 0, 0),
      (Seq(1), 1, 63, 0, 0), (Seq(2), 1, 63, 0, 0)))
    val cr = decodeStats(cProg)
    val (cer, ceg, ceb, cehr) = refStats(cw, ch, samp, cBlocks, q2)
    assert(cr.getString(0) === "jpeg", "progressive 4:2:0 must decode")
    assert(cr.getDouble(2) === cer && cr.getDouble(3) === ceg &&
      cr.getDouble(4) === ceb)
    assert(cr.getSeq[Long](5) === cehr)
  }

  test("progressive successive approximation: DC and AC refinement scans " +
    "(Al=2 -> 1 -> 0) reconstruct the exact coefficients — gray and color, " +
    "plus a DC restart-interval variant") {
    val q = Array.tabulate(64)(i => 1 + (i % 4))
    val w = 24; val h = 16
    val plane = Array.tabulate(h, w)((y, x) => (x * 29 + y * 17 + x * y * 3) % 256)
    val blocks = Seq(fdctBlocks(plane, q))
    val scansSA = Seq(
      (Seq(0), 0, 0, 0, 1), (Seq(0), 0, 0, 1, 0), // DC first + refine
      (Seq(0), 1, 63, 0, 2),                      // AC first at Al=2
      (Seq(0), 1, 63, 2, 1),                      // refine to Al=1
      (Seq(0), 1, 63, 1, 0))                      // refine to Al=0
    val prog = encodeProgressive(w, h, Seq((1, 1)), blocks, q, scansSA)
    val r = decodeStats(prog)
    val (er, eg, eb, ehr) = refStats(w, h, Seq((1, 1)), blocks, q)
    assert(r.getString(0) === "jpeg", "SA gray must decode")
    assert(r.getDouble(2) === er && r.getDouble(3) === eg &&
      r.getDouble(4) === eb, "SA refinement must be exactly lossless")
    assert(r.getSeq[Long](5) === ehr)
    // color with band-split SA on Y
    val cw = 20; val ch = 12
    val mX = (cw + 15) / 16; val mY = (ch + 15) / 16
    val yP = Array.tabulate(mY * 16, mX * 16)((y, x) => (x * 3 + y * 31 + x * y) % 256)
    val cbP = Array.tabulate(mY * 8, mX * 8)((y, x) => (40 + x * 9 + y * 5) % 256)
    val crP = Array.tabulate(mY * 8, mX * 8)((y, x) => (200 - x * 4 + y * 7) % 256)
    val samp = Seq((2, 2), (1, 1), (1, 1))
    val cBlocks = Seq(fdctBlocks(yP, q), fdctBlocks(cbP, q), fdctBlocks(crP, q))
    val cProg = encodeProgressive(cw, ch, samp, cBlocks, q, Seq(
      (Seq(0, 1, 2), 0, 0, 0, 1), (Seq(0, 1, 2), 0, 0, 1, 0),
      (Seq(0), 1, 5, 0, 1), (Seq(0), 6, 63, 0, 1),
      (Seq(0), 1, 5, 1, 0), (Seq(0), 6, 63, 1, 0),
      (Seq(1), 1, 63, 0, 1), (Seq(1), 1, 63, 1, 0),
      (Seq(2), 1, 63, 0, 0)))
    val crr = decodeStats(cProg)
    val (cer, ceg, ceb, cehr) = refStats(cw, ch, samp, cBlocks, q)
    assert(crr.getString(0) === "jpeg", "SA color must decode")
    assert(crr.getDouble(2) === cer && crr.getDouble(3) === ceg &&
      crr.getDouble(4) === ceb)
    assert(crr.getSeq[Long](5) === cehr)
    // DC restart markers in the progressive DC scan (DRI reset to 0 for AC)
    val rProg = encodeProgressive(w, h, Seq((1, 1)), blocks, q, Seq(
      (Seq(0), 0, 0, 0, 0), (Seq(0), 1, 63, 0, 0)), dcDri = 2)
    val rr = decodeStats(rProg)
    assert(rr.getString(0) === "jpeg", "DC restart variant must decode")
    assert(rr.getDouble(2) === er && rr.getSeq[Long](5) === ehr)
  }

  // ---------------- honest nulls ----------------

  test("out-of-envelope and corrupt JPEGs decode to null, never throw") {
    val good = JpegPlant.flat(8, 8, Seq(64), Seq((1, 1)))
    def mut(f: Array[Byte] => Array[Byte]): Array[Byte] = f(good.clone())

    val badProgressive = mut { b => // SOF0 -> SOF2 but the scan stays
      // sequential (Ss=0, Se=63) — illegal progressive band, must null
      val i = b.indexOfSlice(Array(0xff.toByte, 0xc0.toByte)); b(i + 1) = 0xc2.toByte; b
    }
    val twelveBit = mut { b => // precision byte 8 -> 12
      val i = b.indexOfSlice(Array(0xff.toByte, 0xc0.toByte)); b(i + 4) = 12.toByte; b
    }
    val truncated = good.dropRight(6) // entropy data + EOI gone
    val hugeDims = mut { b =>
      val i = b.indexOfSlice(Array(0xff.toByte, 0xc0.toByte))
      b(i + 5) = 0x7f.toByte; b(i + 6) = 0xff.toByte // height 32767
      b(i + 7) = 0x7f.toByte; b(i + 8) = 0xff.toByte // width 32767
      b
    }
    val notJpeg = "not an image at all".getBytes
    val soiOnly = Array(0xff.toByte, 0xd8.toByte)
    val rows = Seq(
      ("bad_progressive", badProgressive), ("12bit", twelveBit),
      ("truncated", truncated), ("huge", hugeDims),
      ("garbage", notJpeg), ("soi_only", soiOnly), ("good", good))
      .toDF("name", "media")
      .select(col("name"), Multimodal.pixelStats(col("media")).as("p"))
      .select(col("name"), col("p.format")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("good") === "jpeg", "control must decode")
    for (k <- Seq("bad_progressive", "12bit", "truncated", "huge", "garbage", "soi_only"))
      assert(rows(k) === null, s"$k must null out")
  }

  test("feature table end-to-end: a decodable JPEG carries a REAL embedding " +
    "flagged embedding_real=true (stub era over for baseline JPEG)") {
    val bytes = JpegPlant.flat(8, 8, Seq(-320), Seq((1, 1))) // flat gray 88
    val ft = Multimodal.featuresFromPacked(Multimodal.packMedia(
      Seq((1L, bytes)).toDF("id", "media"), "id", "media", lit("image")))
    val row = ft.select(col("pix.format"), col("embedding"),
      col("embedding_real"), col("meta.format")).collect()(0)
    assert(row.getString(0) === "jpeg")
    assert(row.getString(3) === "jpeg", "header sniff agrees")
    assert(row.getBoolean(2), "embedding is real")
    val emb = row.getSeq[Double](1)
    assert(emb(0) === math.rint(88.0 / 255.0 * 1e6) / 1e6,
      s"mean_r/255: ${emb(0)}")
    assert(emb(3) === 0.0 && emb(4) === 1.0,
      "all pixels in hist bin 1 (88*4/256 = 1)")
  }
}

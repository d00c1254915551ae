package graft.ops

/** Deterministic JPEG synthesizer, sequential and progressive, for
  * planted-data tests and oracle entries (the JPEG sibling of the q66
  * planted BMP / q68 planted PNG constructions): flat-color DC-only
  * images whose decoded pixel values are ANALYTIC — with an all-ones
  * quantization table the only nonzero coefficient is the DC term, the
  * IDCT of a lone DC `d` is the constant `d/8`, and the decoder's level
  * shift makes every sample exactly `128 + d/8` (choose `d` divisible by
  * 8 and no rounding is even exercised). A DuckDB oracle can therefore replay the expected channel
  * means with plain arithmetic — no decoder on the oracle side, so the
  * check is independent, not circular.
  *
  * Pure Scala, no RNG, no codec library: segments are SOI / DQT(all-ones)
  * / SOF0 or SOF2 / DHT (the 12-category DC table of ITU T.81 Annex K
  * table K.3, public constants, plus a trivial one-symbol EOB-only AC
  * table) / DRI (optional) / SOS + entropy bits per scan / EOI.
  */
object JpegPlant {

  /** Annex K table K.3 (luminance DC): 12 symbols = diff categories 0-11. */
  private val dcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val dcVals = Array.tabulate(12)(_.toByte)

  /** Trivial AC table: the single symbol 0x00 (EOB), code "0". */
  private val acBits = Array(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val acVals = Array(0x00.toByte)

  /** Canonical code for the i-th symbol of a bits table: (code, length). */
  private def canon(bits: Array[Int]): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var code = 0
    for (l <- 1 to 16) {
      for (_ <- 0 until bits(l - 1)) { out += ((code, l)); code += 1 }
      code <<= 1
    }
    out.toArray
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (the spec's fill). */
    def align(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
    def raw(b: Int): Unit = { align(); out.write(b) }
    def bytes: Array[Byte] = out.toByteArray
  }

  private def cat(v: Int): Int = {
    var s = 0; var m = math.abs(v)
    while (m > 0) { s += 1; m >>= 1 }
    s
  }

  private val dcCodes = canon(dcBits)
  private val (eobCode, eobLen) = canon(acBits)(0)

  /** One planted frame: the constructor writes SOI, DQT (id 0, all ones),
    * SOFn (`sof`) and DHT (DC table 0, AC table 0); scans follow, EOI ends
    * it. Component i has id i + 1 and quant table 0.
    */
  private final class Frame(sof: Int, w: Int, h: Int, dcs: Seq[Int],
      samp: Seq[(Int, Int)]) {
    require(dcs.size == 1 || dcs.size == 3, "1 or 3 components")
    require(samp.size == dcs.size, "one (h,v) per component")
    private val out = new java.io.ByteArrayOutputStream()
    private def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    private def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, payload: Array[Int]): Unit = {
      marker(m); u16(payload.length + 2); payload.foreach(out.write)
    }
    private val hMax = samp.map(_._1).max
    private val vMax = samp.map(_._2).max
    val mcus: Int =
      ((w + 8 * hMax - 1) / (8 * hMax)) * ((h + 8 * vMax - 1) / (8 * vMax))

    marker(0xd8) // SOI
    segment(0xdb, Array(0x00) ++ Array.fill(64)(1))
    segment(sof,
      Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, dcs.size) ++
        dcs.indices.flatMap(i => Seq(i + 1, (samp(i)._1 << 4) | samp(i)._2, 0)))
    segment(0xc4,
      Array(0x00) ++ dcBits ++ dcVals.map(_ & 0xff) ++
        Array(0x10) ++ acBits ++ acVals.map(_ & 0xff))

    /** SOS over components `cs` (every one uses DC 0 / AC 0). */
    def sos(cs: Seq[Int], ss: Int, se: Int, ahAl: Int): Unit =
      segment(0xda,
        Array(cs.size) ++ cs.flatMap(i => Seq(i + 1, 0x00)) ++ Array(ss, se, ahAl))

    /** Flush a scan's entropy bits, 1-padded to a byte. */
    def entropy(bw: BitWriter): Unit = { bw.align(); out.write(bw.bytes) }

    /** The blocks of component c in one MCU. */
    def blocksPerMcu(c: Int): Int = samp(c)._1 * samp(c)._2

    /** Component c's own (non-interleaved) block-grid size. */
    def ownBlocks(c: Int): Int =
      (((w * samp(c)._1 + hMax - 1) / hMax + 7) / 8) *
        (((h * samp(c)._2 + vMax - 1) / vMax + 7) / 8)

    /** One interleaved DC scan at point transform `al`: per component the
      * FIRST block after each predictor reset carries diff = dc >> al
      * (arithmetic), every later block diff = 0. `withEob` closes every
      * block with an EOB (a sequential scan's all-zero AC band);
      * `restartInterval` > 0 emits RSTn markers.
      */
    def dcScan(al: Int, withEob: Boolean, restartInterval: Int = 0): Unit = {
      val bw = new BitWriter
      val sent = Array.fill(dcs.size)(false)
      var rstN = 0
      var sinceRst = 0
      for (_ <- 0 until mcus) {
        if (restartInterval > 0 && sinceRst == restartInterval) {
          bw.raw(0xff); bw.raw(0xd0 + rstN)
          rstN = (rstN + 1) & 7
          sinceRst = 0
          java.util.Arrays.fill(sent, false)
        }
        for (c <- dcs.indices; _ <- 0 until blocksPerMcu(c)) {
          val diff = if (sent(c)) 0 else dcs(c) >> al
          sent(c) = true
          val s = cat(diff)
          val (code, len) = dcCodes(s)
          bw.put(code, len)
          if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
          if (withEob) bw.put(eobCode, eobLen)
        }
        sinceRst += 1
      }
      entropy(bw)
    }

    def end(): Array[Byte] = { marker(0xd9); out.toByteArray }
  }

  /** A flat-color baseline JPEG. `dcs` holds the per-component DC values
    * (1 entry = grayscale, 3 = YCbCr with `samp` sampling factors); the
    * decoded constant sample of component i is `128 + dcs(i)/8` (pass
    * multiples of 8). `restartInterval` > 0 emits DRI + RSTn markers.
    */
  def flat(w: Int, h: Int, dcs: Seq[Int], samp: Seq[(Int, Int)],
      restartInterval: Int = 0): Array[Byte] = {
    val f = new Frame(0xc0, w, h, dcs, samp) // SOF0
    if (restartInterval > 0)
      f.segment(0xdd, Array((restartInterval >> 8) & 0xff, restartInterval & 0xff))
    f.sos(dcs.indices, 0, 63, 0)
    f.dcScan(0, withEob = true, restartInterval)
    f.end()
  }

  /** The PROGRESSIVE (SOF2) twin of [[flat]]: identical analytic pixels
    * (every sample is exactly 128 + dc/8), coded as one interleaved DC
    * scan followed by one AC scan per component whose every block is a
    * lone EOB code (the band is all-zero for a flat image). Exercises the
    * multi-scan marker walk, coefficient buffering, non-interleaved AC
    * traversal and EOB handling with the same DuckDB-replayable truth as
    * the sequential planter.
    *
    * With `sa = true` the DC band is coded in TWO scans — first at Al=1
    * (arithmetic point transform, values dc>>1) then a refinement scan at
    * Ah=1/Al=0 carrying one raw bit (dc & 1) per block — so choosing ODD
    * `dcs` forces every refinement bit to 1 and the reconstruction
    * `(dc>>1)<<1 | 1 = dc` is analytically checkable: the decoded sample
    * is exactly `floor(dc/8 + 128.5)` (q136's oracle replays that
    * arithmetic from the dc literals, independent of the decoder).
    */
  def flatProgressive(w: Int, h: Int, dcs: Seq[Int],
      samp: Seq[(Int, Int)], sa: Boolean = false): Array[Byte] = {
    val f = new Frame(0xc2, w, h, dcs, samp) // SOF2
    // scan 1: interleaved DC first pass, Ss=Se=0, Ah=0, Al = (sa ? 1 : 0)
    val al1 = if (sa) 1 else 0
    f.sos(dcs.indices, 0, 0, al1)
    f.dcScan(al1, withEob = false)
    if (sa) {
      // DC refinement scan (Ah=1, Al=0): one raw bit — bit 0 of the dc
      // VALUE (not the diff) — per block, same interleaved traversal
      f.sos(dcs.indices, 0, 0, (1 << 4) | 0)
      val bw = new BitWriter
      for (_ <- 0 until f.mcus; c <- dcs.indices; _ <- 0 until f.blocksPerMcu(c))
        bw.put(dcs(c) & 1, 1)
      f.entropy(bw)
    }
    // one AC scan per component: Ss=1, Se=63, all-zero band -> one EOB
    // code per block of the component's own (non-interleaved) grid
    for (c <- dcs.indices) {
      f.sos(Seq(c), 1, 63, 0)
      val bw = new BitWriter
      for (_ <- 0 until f.ownBlocks(c)) bw.put(eobCode, eobLen)
      f.entropy(bw)
    }
    f.end()
  }
}

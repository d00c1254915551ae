package graft.functions

import Bytes.u8

/** REAL baseline JPEG pixel decode with nothing but the JVM, one of the
  * four formats [[PixelStats]] dispatches to. One fused pass per blob:
  * marker walk (DQT/DHT/SOF/DRI/SOS) → canonical huffman entropy decode
  * with byte-unstuffing and restart markers into per-component quantized
  * coefficient planes → dequantize + dezigzag → separable float IDCT per
  * 8×8 block → nearest-neighbor chroma upsample → JFIF YCbCr→RGB → the
  * [[PixelAcc]] every image decoder feeds.
  *
  * Supported envelope (covering the overwhelming majority of web JPEGs):
  * huffman-coded DCT, 8-bit precision, 1 component (grayscale) or 3
  * components (YCbCr) with sampling factors in {1, 2} — i.e. 4:4:4,
  * 4:2:2, 4:4:0 and 4:2:0 — optional restart intervals, in BOTH coding
  * orders, through one scan walker ([[JpegDecode.scan]]): sequential
  * (SOF0; SOF1's 8-bit case decodes identically) as its single
  * interleaved scan with Ss=0, Se=63, AhAl=0, and progressive (SOF2) as
  * multi-scan spectral selection + successive approximation (DC
  * first/refine, AC first with EOB runs, AC refinement with inline
  * correction bits). Arithmetic coding, 12-bit, hierarchical and CMYK
  * files decode to null — honest nulls: corrupt bytes are data, not
  * errors, at 100 TB.
  *
  * Allocation discipline: the coefficient and sample planes are sized once
  * from the (capped) MCU-padded dims; one dequantized block + one IDCT
  * scratch are reused across blocks.
  */
object JpegDecode {

  /** Zigzag scan position k → natural (row-major) position in the 8×8
    * block (ITU T.81 figure 5 — the order DQT values and AC coefficients
    * arrive in).
    */
  private val ZIGZAG: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** cosTab(x)(u) = C(u) · cos((2x+1)uπ/16) with C(0)=1/√2 — the 1-D IDCT
    * basis, precomputed once per JVM.
    */
  private val cosTab: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Canonical huffman table in T.81 F.2.2.3 decode form. */
  private final class Huff(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 where the length has no codes
    val valPtr = new Array[Int](17)
    val huffVal: Array[Byte] = vals
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
      if (k != vals.length) throw new IllegalArgumentException("DHT count")
    }
  }

  /** Entropy-segment bit reader: MSB-first, 0xFF00 unstuffed, any other
    * marker mid-read is corrupt (restart markers are consumed explicitly
    * at MCU boundaries by [[restart]]).
    */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0
    private var cnt = 0

    def bit(): Int = {
      if (cnt == 0) {
        if (pos >= data.length) throw new IllegalStateException("eof")
        val b = u8(data(pos)); pos += 1
        if (b == 0xff) {
          if (pos >= data.length) throw new IllegalStateException("eof")
          val m = u8(data(pos))
          if (m != 0x00) throw new IllegalStateException("marker in data")
          pos += 1
        }
        acc = b; cnt = 8
      }
      cnt -= 1
      (acc >> cnt) & 1
    }

    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    def decode(h: Huff): Int = {
      var code = bit(); var l = 1
      while (code > h.maxCode(l)) {
        if (l >= 16) throw new IllegalStateException("bad huffman code")
        code = (code << 1) | bit(); l += 1
      }
      u8(h.huffVal(h.valPtr(l) + code - h.minCode(l)))
    }

    /** Byte-align and consume the expected RSTn marker. */
    def restart(n: Int): Unit = {
      cnt = 0
      if (pos + 2 > data.length || u8(data(pos)) != 0xff ||
        u8(data(pos + 1)) != 0xd0 + n)
        throw new IllegalStateException("bad restart")
      pos += 2
    }
  }

  /** T.81 F.2.2.1 EXTEND: map the `s` received magnitude bits to the
    * signed coefficient value.
    */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  // one frame component: id, sampling factors, quant table id, and (after
  // SOS) huffman table ids + its decoded plane
  private final class Comp(val id: Int, val h: Int, val v: Int, val tq: Int) {
    var dcTab: Huff = _
    var acTab: Huff = _
    var plane: Array[Byte] = _ // planeW × planeH samples
    var planeW: Int = 0
    var pred: Int = 0 // DC predictor
    // the QUANTIZED coefficients, accumulated across a progressive frame's
    // scans (padded block grid, natural order per block), plus the padded
    // and non-interleaved block-grid dims
    var coefs: Array[Int] = _
    var bw = 0; var bh = 0   // padded (MCU-aligned) block grid
    var nbw = 0; var nbh = 0 // non-interleaved (ceil) block grid
  }

  /** "jpeg", or null unless `bytes` is a JPEG inside the envelope above
    * and the pixel budget. Throws on corrupt entropy data.
    */
  def decode(bytes: Array[Byte], maxPixels: Int, acc: PixelAcc): String = {
    if (bytes.length < 4) return null
    if (u8(bytes(0)) != 0xff || u8(bytes(1)) != 0xd8) return null // SOI

    val qt = new Array[Array[Int]](4) // natural order, per table id
    val dcH = new Array[Huff](4)
    val acH = new Array[Huff](4)
    var comps: Array[Comp] = null
    var w = 0; var h = 0
    var restartInterval = 0
    var progressive = false
    var done = false
    var hMax = 1; var vMax = 1
    var mcusX = 0; var mcusY = 0

    // finalize MCU geometry and allocate the per-component quantized-
    // coefficient buffers at the first SOS (all SOF data final)
    def ensureGeometry(): Boolean = {
      if (mcusX > 0) return true
      var ci = 0
      while (ci < comps.length) {
        if (comps(ci).h > hMax) hMax = comps(ci).h
        if (comps(ci).v > vMax) vMax = comps(ci).v
        ci += 1
      }
      mcusX = (w + 8 * hMax - 1) / (8 * hMax)
      mcusY = (h + 8 * vMax - 1) / (8 * vMax)
      ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        c.bw = mcusX * c.h; c.bh = mcusY * c.v
        c.nbw = ((w * c.h + hMax - 1) / hMax + 7) / 8
        c.nbh = ((h * c.v + vMax - 1) / vMax + 7) / 8
        // 64 ints per block = one int per padded pixel: the padded plane is
        // at most ~4x the capped pixel count per component — still bounded
        // by maxPixels within a small constant
        if (c.bw.toLong * c.bh * 64 > 4L * maxPixels + 4096) return false
        c.coefs = new Array[Int](c.bw * c.bh * 64)
        ci += 1
      }
      true
    }

    // ---- marker walk: scans are decoded as their SOS arrives; the walk
    // ends after a sequential frame's one scan, or at a progressive EOI ----
    var pos = 2
    while (!done) {
      if (pos + 2 > bytes.length) return null
      if (u8(bytes(pos)) != 0xff) return null
      var m = u8(bytes(pos + 1)); pos += 2
      while (m == 0xff) { // fill bytes before a marker are legal
        if (pos >= bytes.length) return null
        m = u8(bytes(pos)); pos += 1
      }
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        // standalone marker, no segment — nothing to do
      } else if (m == 0xd9) {
        // EOI: terminates a progressive stream; a sequential one stops
        // after its scan and never walks this far
        if (!progressive || comps == null) return null
        done = true
      } else {
        if (pos + 2 > bytes.length) return null
        val len = (u8(bytes(pos)) << 8) | u8(bytes(pos + 1))
        if (len < 2 || pos + len > bytes.length) return null
        val seg = pos + 2
        val segLen = len - 2
        var next = pos + len
        m match {
          case 0xdb => // DQT
            var p = seg
            while (p < seg + segLen) {
              val pq = u8(bytes(p)) >> 4; val tq = u8(bytes(p)) & 0x0f
              if (tq > 3 || pq > 1) return null
              val t = new Array[Int](64)
              p += 1
              var k = 0
              while (k < 64) {
                t(ZIGZAG(k)) =
                  if (pq == 0) u8(bytes(p + k))
                  else (u8(bytes(p + 2 * k)) << 8) | u8(bytes(p + 2 * k + 1))
                k += 1
              }
              p += (if (pq == 0) 64 else 128)
              qt(tq) = t
            }
          case 0xc4 => // DHT
            var p = seg
            while (p < seg + segLen) {
              val tc = u8(bytes(p)) >> 4; val th = u8(bytes(p)) & 0x0f
              if (tc > 1 || th > 3) return null
              val bits = new Array[Int](16)
              var total = 0
              var i = 0
              while (i < 16) { bits(i) = u8(bytes(p + 1 + i)); total += bits(i); i += 1 }
              if (total > 256 || p + 17 + total > seg + segLen) return null
              val vals = java.util.Arrays.copyOfRange(bytes, p + 17, p + 17 + total)
              val huff = new Huff(bits, vals)
              if (tc == 0) dcH(th) = huff else acH(th) = huff
              p += 17 + total
            }
          case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 sequential, SOF2 progressive
            if (comps != null) return null // one frame only
            progressive = m == 0xc2
            if (u8(bytes(seg)) != 8) return null // 8-bit precision only
            h = (u8(bytes(seg + 1)) << 8) | u8(bytes(seg + 2))
            w = (u8(bytes(seg + 3)) << 8) | u8(bytes(seg + 4))
            val nc = u8(bytes(seg + 5))
            if (nc != 1 && nc != 3) return null
            if (w < 1 || h < 1 || w > maxPixels || h > maxPixels ||
              w.toLong * h > maxPixels) return null
            comps = new Array[Comp](nc)
            var i = 0
            while (i < nc) {
              val b = seg + 6 + 3 * i
              val hv = u8(bytes(b + 1))
              val ch = hv >> 4; val cv = hv & 0x0f
              if (ch < 1 || ch > 2 || cv < 1 || cv > 2) return null
              comps(i) = new Comp(u8(bytes(b)), ch, cv, u8(bytes(b + 2)))
              i += 1
            }
          case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
              0xcd | 0xce | 0xcf =>
            return null // lossless / arithmetic / hierarchical: out of envelope
          case 0xdd => // DRI: payload is the 2-byte interval
            if (segLen < 2) return null
            restartInterval = (u8(bytes(seg)) << 8) | u8(bytes(seg + 1))
          case 0xda => // SOS
            if (comps == null) return null
            val ns = u8(bytes(seg))
            if (ns < 1 || ns > comps.length) return null
            val scanComps = new Array[Comp](ns)
            var i = 0
            while (i < ns) {
              val cid = u8(bytes(seg + 1 + 2 * i))
              val tt = u8(bytes(seg + 2 + 2 * i))
              var found: Comp = null
              var j = 0
              while (j < comps.length) {
                if (comps(j).id == cid) found = comps(j)
                j += 1
              }
              if (found == null) return null
              found.dcTab = dcH(tt >> 4)
              found.acTab = acH(tt & 0x0f)
              scanComps(i) = found
              i += 1
            }
            val sSs = u8(bytes(seg + 1 + 2 * ns))
            val sSe = u8(bytes(seg + 2 + 2 * ns))
            val sAa = u8(bytes(seg + 3 + 2 * ns))
            if (!progressive) {
              // one interleaved scan: Ss=0, Se=63, AhAl=0, all components,
              // both tables present
              if (ns != comps.length) return null
              if (sSs != 0 || sSe != 63 || sAa != 0) return null
              i = 0
              while (i < ns) {
                if (scanComps(i).dcTab == null || scanComps(i).acTab == null)
                  return null
                i += 1
              }
            }
            if (!ensureGeometry()) return null
            next = scan(bytes, next, scanComps, sSs, sSe, sAa >> 4,
              sAa & 0x0f, restartInterval, mcusX, mcusY, !progressive)
            done = !progressive
          case _ => // APPn / COM / anything else: skip
        }
        pos = next
      }
    }
    if (mcusX == 0) return null // no scan

    // every component needs its quant table
    var ci = 0
    while (ci < comps.length) {
      if (qt(comps(ci).tq) == null) return null
      ci += 1
    }

    // ---- dequantize and IDCT every padded block into its plane ----
    val coef = new Array[Int](64)    // dequantized, natural order
    val tmp = new Array[Double](64)  // IDCT row-pass scratch
    ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      val q = qt(c.tq)
      c.planeW = c.bw * 8
      c.plane = new Array[Byte](c.planeW * c.bh * 8)
      var by = 0
      while (by < c.bh) {
        var bx = 0
        while (bx < c.bw) {
          val base = (by * c.bw + bx) * 64
          var k = 0
          while (k < 64) { coef(k) = c.coefs(base + k) * q(k); k += 1 }
          idctBlock(coef, tmp, c, bx, by)
          bx += 1
        }
        by += 1
      }
      ci += 1
    }

    // ---- upsample + color convert + accumulate ----
    val gray = comps.length == 1
    val yC = comps(0)
    val cbC = if (gray) null else comps(1)
    val crC = if (gray) null else comps(2)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val yv = u8(yC.plane((y * yC.v / vMax) * yC.planeW + x * yC.h / hMax))
        var rv = yv; var gv = yv; var bv = yv
        if (!gray) {
          val cb = u8(cbC.plane((y * cbC.v / vMax) * cbC.planeW + x * cbC.h / hMax))
          val cr = u8(crC.plane((y * crC.v / vMax) * crC.planeW + x * crC.h / hMax))
          // JFIF: R = Y + 1.402 Cr', G = Y − 0.344136 Cb' − 0.714136 Cr',
          // B = Y + 1.772 Cb' (Cb' = Cb−128), round half up, clamp
          rv = clamp255(math.floor(yv + 1.402 * (cr - 128) + 0.5).toInt)
          gv = clamp255(math.floor(
            yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
          bv = clamp255(math.floor(yv + 1.772 * (cb - 128) + 0.5).toInt)
        }
        acc.add(rv, gv, bv)
        x += 1
      }
      y += 1
    }
    "jpeg"
  }

  /** Decode ONE scan into the components' quantized-coefficient buffers
    * and return the byte position of the marker that follows a
    * progressive scan's entropy data (a sequential scan's end, where the
    * walk stops). Throws on corrupt data (the caller nulls).
    *
    * A sequential frame's one scan (`sequential`: Ss=0, Se=63, AhAl=0)
    * decodes every block's DC step, then its AC band 1..63 by the AC-first
    * step. A progressive scan (T.81 G.1.2: spectral selection + successive
    * approximation) decodes one step for every block:
    *
    *  - DC first (Ss=0, Ah=0): huffman diff coding, value stored << Al.
    *  - DC refinement (Ah>0): one raw bit per block, OR'd at bit Al
    *    (two's-complement OR reconstructs negatives correctly).
    *  - AC first (Ss≥1, Ah=0): baseline run-length coding over the band
    *    plus EOBn run codes (run = (1<<r)+bits blocks whose band is done);
    *    in a sequential scan a size-0 symbol with run < 15 ends only its
    *    own block.
    *  - AC refinement (Ah>0): the intricate one — newly-significant
    *    coefficients arrive as ±1<<Al with a sign bit; every
    *    previously-nonzero coefficient crossed on the way contributes one
    *    inline correction bit; EOB runs still carry correction bits for
    *    the remaining nonzero history of each block in the run.
    *
    * Sequential and multi-component scans traverse the interleaved MCU
    * grid; a single-component progressive scan walks the component's own
    * ceil-block grid (AC scans are non-interleaved by spec — exactly one
    * component).
    */
  private def scan(
      bytes: Array[Byte], start: Int, scanComps: Array[Comp],
      ss: Int, se: Int, ah: Int, al: Int, ri: Int,
      mcusX: Int, mcusY: Int, sequential: Boolean): Int = {
    if (ss < 0 || se > 63 || ss > se || al > 13 || ah > 14)
      throw new IllegalStateException("bad scan band")
    if (ss == 0 && se != 0 && !sequential)
      throw new IllegalStateException("DC scan must have Se=0")
    if (ss > 0 && scanComps.length != 1)
      throw new IllegalStateException("AC scan must be single-component")
    if (ss > 0 && scanComps(0).acTab == null)
      throw new IllegalStateException("no AC table")
    val br = new BitReader(bytes, start)
    var eobrun = 0
    var rstN = 0
    var sinceRst = 0
    var i = 0
    while (i < scanComps.length) { scanComps(i).pred = 0; i += 1 }

    def maybeRestart(): Unit =
      if (ri > 0 && sinceRst == ri) {
        br.restart(rstN)
        rstN = (rstN + 1) & 7
        sinceRst = 0
        eobrun = 0
        var j = 0
        while (j < scanComps.length) { scanComps(j).pred = 0; j += 1 }
      }

    def dcBlock(c: Comp, base: Int): Unit =
      if (ah == 0) {
        if (c.dcTab == null) throw new IllegalStateException("no DC table")
        val s = br.decode(c.dcTab)
        if (s > 11) throw new IllegalStateException("bad DC cat")
        c.pred += extend(br.receive(s), s)
        c.coefs(base) = c.pred << al
      } else {
        if (br.bit() == 1) c.coefs(base) |= 1 << al
      }

    def acFirst(c: Comp, base: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      var k = math.max(ss, 1)
      var done = false
      while (k <= se && !done) {
        val rs = br.decode(c.acTab)
        val r = rs >> 4; val sz = rs & 0x0f
        if (sz == 0) {
          if (r == 15) k += 16
          else {
            // EOBn: run covers (1<<r)+bits blocks INCLUDING this one; a
            // sequential EOB ends this block only
            if (!sequential)
              eobrun = (1 << r) - 1 + (if (r > 0) br.receive(r) else 0)
            done = true
          }
        } else {
          k += r
          if (k > se) throw new IllegalStateException("AC overrun")
          c.coefs(base + ZIGZAG(k)) = extend(br.receive(sz), sz) << al
          k += 1
        }
      }
    }

    def acRefine(c: Comp, base: Int): Unit = {
      val p1 = 1 << al
      def correct(idx: Int): Unit =
        if (br.bit() == 1 && (c.coefs(idx) & p1) == 0)
          c.coefs(idx) += (if (c.coefs(idx) >= 0) p1 else -p1)
      var k = ss
      if (eobrun == 0) {
        var done = false
        while (k <= se && !done) {
          val rs = br.decode(c.acTab)
          var r = rs >> 4; val sz = rs & 0x0f
          var newVal = 0
          if (sz == 0) {
            if (r != 15) {
              // refinement EOBn counts (1<<r)+bits blocks including this
              // one; this block's remaining history is refined below
              eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
              done = true
            } // r == 15: ZRL — skip 16 zero-history slots below
          } else {
            if (sz != 1) throw new IllegalStateException("bad refine size")
            newVal = if (br.bit() == 1) p1 else -p1
          }
          if (!done) {
            // advance over the band: nonzero-history coefficients crossed
            // contribute inline correction bits; r counts zero-history
            // slots to skip; the new coefficient lands on the (r+1)-th
            var placed = false
            while (k <= se && !placed) {
              val idx = base + ZIGZAG(k)
              if (c.coefs(idx) != 0) correct(idx)
              else if (r == 0) {
                if (newVal != 0) c.coefs(idx) = newVal
                placed = true
              } else r -= 1
              k += 1
            }
            if (!placed && newVal != 0)
              throw new IllegalStateException("refine overrun")
          }
        }
      }
      if (eobrun > 0) {
        // EOB run: the rest of this block's nonzero history still refines
        while (k <= se) {
          val idx = base + ZIGZAG(k)
          if (c.coefs(idx) != 0) correct(idx)
          k += 1
        }
        eobrun -= 1
      }
    }

    def block(c: Comp, base: Int): Unit =
      if (ss == 0) { dcBlock(c, base); if (sequential) acFirst(c, base) }
      else if (ah == 0) acFirst(c, base) else acRefine(c, base)

    if (sequential || scanComps.length > 1) {
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          maybeRestart()
          var j = 0
          while (j < scanComps.length) {
            val c = scanComps(j)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                block(c, ((my * c.v + by) * c.bw + (mx * c.h + bx)) * 64)
                bx += 1
              }
              by += 1
            }
            j += 1
          }
          sinceRst += 1
          mx += 1
        }
        my += 1
      }
    } else {
      val c = scanComps(0)
      var by = 0
      while (by < c.nbh) {
        var bx = 0
        while (bx < c.nbw) {
          maybeRestart()
          block(c, (by * c.bw + bx) * 64)
          sinceRst += 1
          bx += 1
        }
        by += 1
      }
    }
    if (sequential) return br.pos

    // byte-align and skip pad bytes / stray RSTn up to the next marker
    var p = br.pos
    while (p + 1 < bytes.length &&
      !(u8(bytes(p)) == 0xff && u8(bytes(p + 1)) != 0x00 &&
        !(u8(bytes(p + 1)) >= 0xd0 && u8(bytes(p + 1)) <= 0xd7))) p += 1
    if (p + 1 >= bytes.length)
      throw new IllegalStateException("no marker after scan")
    p
  }

  /** Separable 2-D IDCT of one dequantized block straight into the
    * component plane at block position (bx, by): row pass into `tmp`,
    * column pass + level shift + round-half-up + clamp into the plane.
    * pixel(x,y) = clamp(⌊¼·Σ_u Σ_v C(u)C(v) F(v,u) cos-basis + 128.5⌋).
    */
  private def idctBlock(
      coef: Array[Int], tmp: Array[Double], c: Comp, bx: Int, by: Int): Unit = {
    var r = 0
    while (r < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += cosTab(x)(u) * coef(r * 8 + u); u += 1 }
        tmp(r * 8 + x) = s
        x += 1
      }
      r += 1
    }
    val base = (by * 8) * c.planeW + bx * 8
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += cosTab(y)(v) * tmp(v * 8 + x); v += 1 }
        val px = clamp255(math.floor(s / 4.0 + 128.0 + 0.5).toInt)
        c.plane(base + y * c.planeW + x) = px.toByte
        x += 1
      }
      y += 1
    }
  }
}

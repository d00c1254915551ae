package graft.functions

import Bytes._

/** REAL GIF pixel decode with nothing but the JVM: GIF's only compression
  * is LZW with ≤12-bit codes — a public, fully-specified algorithm (GIF89a
  * spec appendix F) that needs no codec library, just the ~60-line
  * prefix/suffix-table decoder below. First frame, global or local color
  * table, any LZW minimum code size 2-8. Interlaced images are IN the
  * envelope at zero cost: channel means and histograms are order-invariant,
  * so the 4-pass row shuffle never needs undoing.
  *
  * Allocation-lean: the LZW tables are three flat arrays, and output
  * indices stream through the palette straight into the [[PixelAcc]] that
  * [[PixelStats]] hands every image decoder (no full pixel buffer for the
  * common non-KwKwK path beyond the 4096-deep expansion stack).
  *
  * Honest nulls: wrong signature, no image descriptor, a pixel index
  * outside the active palette, truncated sub-blocks or LZW stream, dims
  * over `maxPixels` — all decode to null. Transparency (a GIF89a
  * graphic-control flag) is deliberately ignored: stats cover every frame
  * pixel through the palette, transparent or not, matching how the PNG
  * path ignores the alpha channel.
  */
object GifDecode {

  /** "gif8", or null unless `bytes` is a decodable GIF87a/89a first frame
    * within the pixel budget.
    */
  def decode(bytes: Array[Byte], maxPixels: Int, acc: PixelAcc): String = {
    if (bytes.length < 14) return null
    // "GIF87a" or "GIF89a"
    if (bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F' ||
      bytes(3) != '8' || (bytes(4) != '7' && bytes(4) != '9') ||
      bytes(5) != 'a') return null

    // logical screen descriptor: packed field carries the global color table
    val packed = u8(bytes(10))
    var pos = 13
    var gctOff = -1; var gctSize = 0
    if ((packed & 0x80) != 0) {
      gctSize = 1 << ((packed & 0x07) + 1)
      gctOff = pos
      pos += 3 * gctSize
      if (pos > bytes.length) return null
    }

    // block walk to the first image descriptor (0x2C); extensions (0x21)
    // are skipped sub-block by sub-block; trailer (0x3B) first → no frame
    while (pos < bytes.length && u8(bytes(pos)) == 0x21) {
      pos += 2 // introducer + label
      var blkLen = if (pos < bytes.length) u8(bytes(pos)) else return null
      while (blkLen != 0) {
        pos += 1 + blkLen
        if (pos >= bytes.length) return null
        blkLen = u8(bytes(pos))
      }
      pos += 1 // sub-block terminator
    }
    if (pos + 10 > bytes.length || u8(bytes(pos)) != 0x2c) return null
    val w = le16(bytes, pos + 5)
    val h = le16(bytes, pos + 7)
    val ipacked = u8(bytes(pos + 9))
    pos += 10
    var palOff = gctOff; var palSize = gctSize
    if ((ipacked & 0x80) != 0) { // local color table wins
      palSize = 1 << ((ipacked & 0x07) + 1)
      palOff = pos
      pos += 3 * palSize
      if (pos > bytes.length) return null
    }
    if (palOff < 0) return null // no palette anywhere
    if (w < 1 || h < 1 || w > maxPixels || h > maxPixels) return null
    val n = w.toLong * h
    if (n > maxPixels) return null

    // LZW minimum code size, then the concatenated data sub-blocks
    if (pos >= bytes.length) return null
    val minCode = u8(bytes(pos)); pos += 1
    if (minCode < 2 || minCode > 8) return null
    val data = new java.io.ByteArrayOutputStream()
    var blkLen = if (pos < bytes.length) u8(bytes(pos)) else return null
    while (blkLen != 0) {
      if (pos + 1 + blkLen > bytes.length) return null
      data.write(bytes, pos + 1, blkLen)
      pos += 1 + blkLen
      blkLen = if (pos < bytes.length) u8(bytes(pos)) else return null
    }
    val z = data.toByteArray

    // LZW decode (GIF89a spec appendix F): prefix/suffix tables, LSB-first
    // bit packing, clear/EOI codes, 12-bit cap with deferred-clear reuse.
    // Pixel indices stream straight into the accumulator — row order
    // (hence interlacing) is irrelevant to means and histograms.
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    var next = eoi + 1
    var codeSize = minCode + 1
    var prev = -1

    def emit(idx: Int): Boolean = {
      if (idx >= palSize || acc.count >= n) return false
      val o = palOff + idx * 3
      acc.add(u8(bytes(o)), u8(bytes(o + 1)), u8(bytes(o + 2)))
      true
    }
    // expand `code` through the prefix chain onto the stack, emit in order;
    // returns the FIRST index of the expansion (for the KwKwK rule), or -1
    // on a corrupt chain / out-of-palette index
    def expand(code: Int): Int = {
      var sp = 0
      var c = code
      while (c >= clear) { // chain links are < next ≤ 4096, roots are < clear
        if (sp > 4096 || c >= next) return -1
        stack(sp) = suffix(c); sp += 1
        c = prefix(c)
      }
      val first = c
      if (!emit(c)) return -1
      while (sp > 0) { sp -= 1; if (!emit(u8(stack(sp)))) return -1 }
      first
    }

    var bitPos = 0
    val totalBits = z.length * 8
    var ended = false
    while (!ended && acc.count < n) {
      if (bitPos + codeSize > totalBits) return null // truncated stream
      var v = 0; var i = 0
      while (i < codeSize) {
        val bp = bitPos + i
        v |= ((u8(z(bp >> 3)) >> (bp & 7)) & 1) << i
        i += 1
      }
      bitPos += codeSize
      if (v == clear) {
        next = eoi + 1; codeSize = minCode + 1; prev = -1
      } else if (v == eoi) {
        ended = true
      } else if (prev == -1) {
        if (v >= clear) return null // first code after clear must be a root
        if (!emit(v)) return null
        prev = v
      } else {
        var first = 0
        if (v < next && v != clear && v != eoi) {
          first = expand(v)
          if (first < 0) return null
        } else if (v == next) { // KwKwK: prev + first(prev)
          // first(prev): walk prev's chain without emitting
          var c = prev
          while (c >= clear) c = prefix(c)
          first = c
          val f = expand(prev)
          if (f < 0 || !emit(first)) return null
        } else return null // code beyond the table: corrupt
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = first.toByte
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        } // else: deferred clear — stay at 12 bits until a clear code
        prev = v
      }
    }
    if (acc.count < n) return null // stream ended early
    "gif8"
  }
}

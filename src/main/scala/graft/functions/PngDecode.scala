package graft.functions

import java.util.zip.Inflater

import Bytes._

/** REAL PNG pixel decode with nothing but the JDK: IDAT chunks are a zlib
  * stream and `java.util.zip.Inflater` ships with every JVM, so no codec
  * library is needed for the common non-interlaced 8-bit grayscale /
  * gray+alpha / RGB / RGBA case. One fused pass per blob: chunk walk →
  * raw-inflate → per-row defilter (all five PNG filter types) → the
  * [[PixelAcc]] that [[PixelStats]] hands every image decoder.
  *
  * Honest nulls: anything outside the supported envelope — wrong
  * signature, interlaced, bit depth ≠ 8, palette color type,
  * truncated/corrupt chunks or deflate stream, dims over `maxPixels` —
  * decodes to null. Chunk CRCs and the zlib adler32 are deliberately NOT
  * validated: this is a feature extractor, not an integrity checker, and a
  * flipped checksum byte on an otherwise-decodable blob should still
  * decode.
  */
object PngDecode {

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** "png8", or null unless `bytes` is a decodable non-interlaced 8-bit
    * gray/gray+alpha/RGB/RGBA PNG within the pixel budget.
    */
  def decode(bytes: Array[Byte], maxPixels: Int, acc: PixelAcc): String = {
    // signature + IHDR (always the first chunk, length 13)
    if (bytes.length < 45) return null
    if (be32(bytes, 0) != 0x89504e47L || be32(bytes, 4) != 0x0d0a1a0aL) return null
    if (be32(bytes, 8) != 13L || be32(bytes, 12) != 0x49484452L) return null
    val w = be32(bytes, 16)
    val h = be32(bytes, 20)
    val depth = u8(bytes(24)); val color = u8(bytes(25))
    val interlace = u8(bytes(28))
    if (u8(bytes(26)) != 0 || u8(bytes(27)) != 0 || interlace != 0) return null
    if (depth != 8) return null
    val channels = color match {
      case 0 => 1 // grayscale
      case 2 => 3 // RGB
      case 4 => 2 // gray+alpha (alpha ignored in the stats)
      case 6 => 4 // RGBA (alpha ignored in the stats)
      case _ => return null // palette (needs PLTE) out of envelope
    }
    if (w < 1 || h < 1 || w > maxPixels || h > maxPixels) return null
    val n = w * h // both ≤ 2^30 → no overflow
    if (n > maxPixels) return null

    // chunk walk: concatenate IDAT payloads, stop at IEND; CRCs skipped
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8 + 25 // signature + IHDR chunk
    var done = false
    while (!done) {
      if (pos + 8 > bytes.length) return null
      val len = be32(bytes, pos)
      if (len > Int.MaxValue - 12 || pos + 12 + len > bytes.length) return null
      val typ = be32(bytes, pos + 4)
      if (typ == 0x49444154L) idat.write(bytes, pos + 8, len.toInt) // IDAT
      else if (typ == 0x49454e44L) done = true                      // IEND
      pos += 12 + len.toInt
    }
    val z = idat.toByteArray
    // zlib header: deflate method, no preset dictionary; adler32 unchecked
    if (z.length < 3 || (z(0) & 0x0f) != 8 || (z(1) & 0x20) != 0) return null

    val wi = w.toInt; val hi = h.toInt
    val stride = 1 + wi * channels
    val raw = new Array[Byte](hi * stride)
    val inf = new Inflater(true) // raw deflate (zlib 2-byte header stripped)
    try {
      inf.setInput(z, 2, z.length - 2)
      var got = 0
      while (got < raw.length && !inf.finished() &&
        !(inf.needsInput() && inf.getRemaining == 0)) {
        got += inf.inflate(raw, got, raw.length - got)
      }
      if (got < raw.length) return null // truncated pixel stream
    } finally inf.end()

    // in-place defilter (types 0-4); rows reconstruct top-down, so the
    // previous row is already raw when the current one needs it
    val bpp = channels
    val rowLen = wi * channels
    var r = 0
    while (r < hi) {
      val o = r * stride + 1
      val f = u8(raw(r * stride))
      if (f > 4) return null
      var i = 0
      while (i < rowLen) {
        val x = u8(raw(o + i))
        val a = if (i >= bpp) u8(raw(o + i - bpp)) else 0
        val b = if (r > 0) u8(raw(o - stride + i)) else 0
        val c = if (r > 0 && i >= bpp) u8(raw(o - stride + i - bpp)) else 0
        val v = f match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) >> 1)
          case 4 => x + paeth(a, b, c)
        }
        raw(o + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }

    // grayscale reports its single channel on all three, like the PGM path
    var p = 0
    while (p < n) {
      val row = (p / wi).toInt; val x = (p % wi).toInt
      val base = row * stride + 1 + x * channels
      val rv = u8(raw(base))
      if (channels >= 3) acc.add(rv, u8(raw(base + 1)), u8(raw(base + 2)))
      else acc.add(rv, rv, rv)
      p += 1
    }
    "png8"
  }
}

package graft.functions

import Bytes._

/** BMP and PNM parsing for [[PixelStats]]: the UNCOMPRESSED raster formats
  * (BMP 24-bit BI_RGB bottom-up, PPM P6, PGM P5).
  *
  * This replaced a pure-column-expression implementation (nested
  * `aggregate(sequence(...))` folds per channel, round 1-3; preserved in
  * git history and PLANS.md) for two measured reasons: the 18-fold
  * expression tree cost 8-11 s of driver-side ANALYSIS per query — paid on
  * every planted-decode bench entry at any data size — and each image's
  * evaluation materialized O(n_pixels) sequence arrays per channel instead
  * of one compiled loop over the raw bytes. Semantics are byte-identical
  * to the column path (same guards, same `round(x,4)` HALF_UP, same
  * histogram binning); the OpsSpec exact-value tests and the q66 analytic
  * oracle pin that equivalence.
  *
  * Honest nulls: 16/32-bit or compressed BMP, top-down BMP (negative
  * height reads as a huge unsigned — over the cap), PNM maxval > 255 or
  * comment-bearing headers, truncated payloads, and over-`maxPixels` dims
  * all return null.
  */
object RasterDecode {

  /** Same anchored header pattern the column path used: binary P6/P5,
    * whitespace-separated dims (≤7 digits) and maxval (≤3 digits), no
    * comment lines. Applied to a bounded latin-1 prefix — headers are a
    * few dozen bytes; pixel data must not be scanned.
    */
  private val pnmHdr =
    java.util.regex.Pattern.compile("^P([56])\\s+(\\d{1,7})\\s+(\\d{1,7})\\s+(\\d{1,3})\\s")

  /** BMP: 24-bit BI_RGB only; pixel array at the LE offset stored at byte
    * 10, rows of width·3 BGR bytes padded to 4-byte boundaries. A top-down
    * BMP stores height negative → reads as a huge unsigned → over the cap
    * → null, exactly like the column path.
    */
  def bmp(bytes: Array[Byte], maxPixels: Int, acc: PixelAcc): String = {
    if (bytes.length < 34 || bytes(1) != 'M') return null
    val off = le32(bytes, 10)
    val w = le32(bytes, 18)
    val h = le32(bytes, 22)
    if (le16(bytes, 28) != 24 || le32(bytes, 30) != 0L) return null
    if (w < 1 || h < 1 || w > maxPixels || h > maxPixels) return null
    val n = w * h // both ≤ 2^30: no overflow
    if (n > maxPixels) return null
    val rowBytes = (w * 3 + 3) / 4 * 4
    if (off + h * rowBytes > bytes.length) return null
    val wi = w.toInt; val hi = h.toInt
    var y = 0
    while (y < hi) {
      var p = (off + y.toLong * rowBytes).toInt
      var x = 0
      while (x < wi) {
        acc.add(u8(bytes(p + 2)), u8(bytes(p + 1)), u8(bytes(p))) // BGR
        p += 3; x += 1
      }
      y += 1
    }
    "bmp24"
  }

  /** PPM (P6) / PGM (P5), binary, maxval ≤ 255: raw RGB triples (resp.
    * single gray bytes, reported on all three channels) after the matched
    * header.
    */
  def pnm(bytes: Array[Byte], maxPixels: Int, acc: PixelAcc): String = {
    val pfxLen = math.min(bytes.length, 64)
    val hdr = new String(bytes, 0, pfxLen, java.nio.charset.StandardCharsets.ISO_8859_1)
    val m = pnmHdr.matcher(hdr)
    if (!m.find()) return null
    val isPpm = m.group(1) == "6"
    val w = m.group(2).toLong
    val h = m.group(3).toLong
    val maxval = m.group(4).toInt
    if (maxval > 255 || w < 1 || h < 1 || w > maxPixels || h > maxPixels) return null
    val n = w * h
    if (n > maxPixels) return null
    val dataOff = m.end()
    val need = if (isPpm) n * 3 else n
    if (dataOff + need > bytes.length) return null
    val ni = n.toInt
    var i = 0
    if (isPpm) {
      var p = dataOff
      while (i < ni) {
        acc.add(u8(bytes(p)), u8(bytes(p + 1)), u8(bytes(p + 2)))
        p += 3; i += 1
      }
      "ppm"
    } else {
      while (i < ni) {
        val v = u8(bytes(dataOff + i))
        acc.add(v, v, v)
        i += 1
      }
      "pgm"
    }
  }
}

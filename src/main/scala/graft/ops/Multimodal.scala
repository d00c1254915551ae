package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with a typed metadata struct, plus decode / feature-extract / frame-sample
  * stages.
  *
  * The Spark-side plumbing is real — schema, partitioning, batch shapes, and
  * the column wiring are exactly what a production pipeline needs. Header
  * metadata (format, width, height) is decoded for REAL from the blob bytes
  * by [[imageHeaderMeta]] — pure column expressions, no codec libraries.
  * Pixel-level features are REAL too: [[pixelStats]] is one codegen'd
  * Expression, [[graft.functions.PixelStats]], whose pure-JVM decoders
  * cover BMP 24-bit, PPM P6, PGM P5, non-interlaced 8-bit PNG (the JDK
  * ships an Inflater), GIF87a/89a first frames (LZW) and huffman-coded
  * sequential and progressive JPEG.
  * Only out-of-envelope payloads (arithmetic-coded/12-bit JPEG, compressed
  * audio samples) have no real decode: this container has no codec
  * libraries, so those rows surface NULL features (or, on explicit
  * opt-in, the clearly-marked `fakeDecodeFeatures` stub; swap in a real
  * decoder via mapInPandas on a cluster with the codec libs installed).
  */
object Multimodal {

  /** Little-endian unsigned int from a byte slice of `media` (1-based pos) —
    * the ONE definition all three decoders share.
    */
  private def leAt(media: Column, pos: Int, len: Int): Column =
    (0 until len).map(i =>
      conv(hex(substring(media, pos + i, 1)), 16, 10).cast("long") *
        (1L << (8 * i))).reduce(_ + _)

  /** Byte value at 1-based position `p` of the latin-1 view `s` (chars map
    * 1:1 to bytes, so substr addresses bytes).
    */
  private def byteIn(s: Column, p: Column): Column = ascii(s.substr(p, lit(1)))

  /** REAL image-header decode: container format + pixel dimensions parsed
    * from the leading bytes with pure built-in column expressions
    * (`substring`+`hex`+`conv` — codegen'd, no UDF, no codec library):
    *
    *  - PNG: 8-byte signature, then IHDR — width/height are 4-byte
    *    big-endian ints at offsets 16/20.
    *  - GIF (87a/89a): logical-screen width/height are 2-byte
    *    LITTLE-endian ints at offsets 6/8.
    *  - JPEG: SOI then marker segments; dimensions live in the first SOFn
    *    (FF C0..C3) segment — height/width big-endian at payload offsets
    *    3/5. The marker is located via a latin-1 byte view (1:1 char↔byte)
    *    + `instr`; a FF Cn byte pair inside a preceding segment could
    *    false-positive, which is the standard header-sniff tradeoff.
    *  - BMP ("BM"): width/height are 4-byte LITTLE-endian ints at offsets
    *    18/22 of the BITMAPINFOHEADER; a top-down BMP stores height
    *    negative (two's complement) — reported as its magnitude.
    *
    * Unknown/truncated blobs → format "unknown", null dimensions.
    */
  def imageHeaderMeta(media: Column): Column = {
    // big-endian unsigned int from a byte slice (1-based pos); the int
    // cast is guarded like the LE path — a corrupt 4-byte PNG dim of
    // 0xFFFFFFFF must surface null, not throw under ANSI
    def be(pos: Int, len: Int): Column = {
      val v = conv(hex(substring(media, pos, len)), 16, 10).cast("long")
      when(v <= Int.MaxValue, v.cast("int"))
    }
    val isPng = hex(substring(media, 1, 8)) === "89504E470D0A1A0A"
    val isGif = hex(substring(media, 1, 6))
      .isin("474946383761", "474946383961") // GIF87a / GIF89a
    val isJpeg = hex(substring(media, 1, 2)) === "FFD8"
    val isBmp = hex(substring(media, 1, 2)) === "424D"
    // ANSI: the int casts are guarded — corrupt 0xFFFFFFFF dims must
    // surface as null, not throw CAST_OVERFLOW and kill the whole scan
    val bmpWRaw = leAt(media, 19, 4)
    val bmpHRaw = leAt(media, 23, 4)
    val bmpHMag = when(bmpHRaw > Int.MaxValue, lit(4294967296L) - bmpHRaw)
      .otherwise(bmpHRaw)
    val bmpW = when(bmpWRaw <= Int.MaxValue, bmpWRaw.cast("int"))
    val bmpH = when(bmpHMag <= Int.MaxValue, bmpHMag.cast("int"))
    val s = decode(media, "ISO-8859-1")
    def byteAt(p: Column): Column = byteIn(s, p)
    val sofPos = Seq('À', 'Á', 'Â', 'Ã')
      .map(m => instr(s, s"ÿ$m"))
      .map(p => when(p > 0, p)) // least() skips nulls
      .reduce(least(_, _))
    val jpegH = byteAt(sofPos + 5) * 256 + byteAt(sofPos + 6)
    val jpegW = byteAt(sofPos + 7) * 256 + byteAt(sofPos + 8)
    val gifW = be(7, 1) + be(8, 1) * 256
    val gifH = be(9, 1) + be(10, 1) * 256
    struct(
      when(isPng, "png").when(isGif, "gif").when(isJpeg, "jpeg")
        .when(isBmp, "bmp")
        .otherwise("unknown").as("format"),
      when(isPng, be(17, 4)).when(isGif, gifW)
        .when(isJpeg && sofPos.isNotNull, jpegW.cast("int"))
        .when(isBmp, bmpW)
        .otherwise(lit(null).cast("int")).as("width"),
      when(isPng, be(21, 4)).when(isGif, gifH)
        .when(isJpeg && sofPos.isNotNull, jpegH.cast("int"))
        .when(isBmp, bmpH)
        .otherwise(lit(null).cast("int")).as("height"))
  }

  /** REAL pixel-feature decode: per-channel means + `histBins`-bin
    * histograms, struct format ("bmp24" | "ppm" | "pgm" | "png8" | "gif8" |
    * "jpeg"), as one codegen'd Expression,
    * [[graft.functions.PixelStats]]. The blob's first byte picks the
    * decoder:
    *
    *  - [[graft.functions.RasterDecode]]: BMP 24-bit BI_RGB bottom-up,
    *    PPM P6, PGM P5 (binary, maxval ≤ 255) — uncompressed rasters.
    *  - [[graft.functions.PngDecode]]: non-interlaced 8-bit
    *    gray/gray+alpha/RGB/RGBA PNG via the JDK Inflater.
    *  - [[graft.functions.GifDecode]]: GIF87a/89a first frame via
    *    pure-JVM LZW; interlace is free since the stats are order-invariant.
    *  - [[graft.functions.JpegDecode]]: huffman-coded JPEG — both
    *    sequential baseline (SOF0/SOF1 8-bit) AND progressive (SOF2,
    *    spectral selection + successive approximation), grayscale + YCbCr
    *    at 4:4:4/4:2:2/4:4:0/4:2:0, restart intervals — full entropy
    *    decode + IDCT, pure JVM.
    *
    * All four feed one channel accumulator, [[graft.functions.PixelAcc]],
    * which owns the rounding, the histogram binning and the result row.
    * PGM and grayscale PNG/JPEG report their gray channel on all three.
    * Arithmetic-coded/12-bit JPEG, truncated, top-down BMP, or
    * over-`maxPixels` payloads come back null — this decode is sized for
    * thumbnails; a production cluster swaps in mapInPandas + a codec for
    * big frames, leaving every schema and join downstream unchanged.
    *
    * The raster path was a pure-column-expression fold through rounds 1-3
    * (git history, PLANS.md); it moved into the fused Expression because
    * the 18-fold tree cost 8-11 s of driver-side ANALYSIS per query — paid
    * at any data size — and evaluation materialized O(n_pixels) sequence
    * arrays per channel per image where the Expression runs one compiled
    * loop over the raw bytes. Cost shape unchanged: O(pixels) per image,
    * map-only, no shuffle, no UDF registration, no driver involvement —
    * and still inside whole-stage codegen.
    */
  def pixelStats(
      media: Column, histBins: Int = 4, maxPixels: Int = 1 << 16): Column = {
    require(histBins > 0 && 256 % histBins == 0, "histBins must divide 256")
    require(maxPixels > 0 && maxPixels <= (1 << 30), "maxPixels in (0, 2^30]")
    graft.functions.PixelStats.pixelStats(media, histBins, maxPixels)
  }

  /** Wrap a text table into a media table: (key, kind, media BINARY,
    * meta STRUCT<byte_len, format, width, height>). Stands in for reading
    * real blobs; the binary column round-trips Parquet losslessly. The meta
    * struct is decoded from the actual bytes by [[imageHeaderMeta]] (text
    * blobs honestly surface as format "unknown" with null dimensions).
    */
  def packFromText(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val kind = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (pmod(xxhash64(col(keyCol)), lit(3)) + 1).cast("int"))
    packMedia(
      df.withColumn("__media", coalesce(col(textCol), lit("")).cast("binary")),
      keyCol, "__media", kind)
  }

  /** Pack an arbitrary binary media column into the standard media-table
    * shape consumed by [[featuresFromPacked]]: (media_id, kind, media,
    * meta STRUCT<byte_len, format, width, height>) with the meta decoded
    * from the real bytes.
    */
  def packMedia(
      df: DataFrame, keyCol: String, mediaCol: String, kind: Column): DataFrame = {
    val media = col(mediaCol)
    val hdr = imageHeaderMeta(media)
    df.select(
      col(keyCol).as("media_id"),
      kind.as("kind"),
      media.as("media"),
      struct(
        length(media).as("byte_len"),
        hdr.getField("format").as("format"),
        hdr.getField("width").as("width"),
        hdr.getField("height").as("height")).as("meta"))
  }

  /** STUB decode → feature vector for COMPRESSED payloads only
    * (uncompressed rasters get real features via [[pixelStats]] in
    * [[featuresFromPacked]]): deterministic pseudo-features from the
    * raw bytes (`xxhash64(media, i)` per dimension, scaled to [0,1)). A real
    * deployment replaces exactly this expression with the decoder; everything
    * upstream/downstream (schema `array<double>`, partitioning, the ANN ops
    * in [[Similarity]]) is unchanged.
    */
  def fakeDecodeFeatures(media: Column, dim: Int = 64): Column =
    transform(
      sequence(lit(1), lit(dim)),
      i => pmod(xxhash64(media, i), lit(100000)).cast("double") / 100000.0)

  /** Frame sampling: n evenly spaced byte-window "frames" from the blob —
    * the batch-shape plumbing of video frame extraction (real decoder would
    * emit actual frames; offsets/stride logic is identical).
    */
  def frameSample(media: Column, n: Int = 4, frameBytes: Int = 32): Column = {
    val len = greatest(length(media), lit(1))
    transform(
      sequence(lit(0), lit(n - 1)),
      i =>
        struct(
          i.as("frame_no"),
          (i * len / n).as("offset"),
          call_function("substring", media, i * len / n + 1, lit(frameBytes))
            .as("frame")))
  }

  /** Feature stage over an already-packed media table ([[packFromText]] /
    * [[packMedia]] / any real blob reader): adds `pix` — REAL per-channel
    * pixel statistics where the payload is an uncompressed raster
    * ([[pixelStats]]) — plus `embedding` (derived from the real pixel stats
    * when decodable: channel means and histogram fractions, zero-padded to
    * `dim`), `embedding_real` and `frames`.
    *
    * Undecodable payloads (arithmetic-coded JPEG, truncated blobs, text) get a NULL
    * embedding by default — a synthetic vector silently clustering with
    * real ones downstream is worse than a missing one, and the
    * [[Similarity]] entry points refuse unflagged rows anyway. Plumbing
    * tests / batch-shape rehearsals that genuinely want a deterministic
    * placeholder opt in with `syntheticFallback = true`, which substitutes
    * the marked [[fakeDecodeFeatures]] stub; either way `embedding_real`
    * says which rows carry decoded pixels, so a mixed frame can never
    * masquerade as all-real.
    */
  def featuresFromPacked(packed: DataFrame, dim: Int = 64,
      syntheticFallback: Boolean = false): DataFrame = {
    val histBins = 4
    require(dim >= 3 + 3 * histBins, s"dim must fit the ${3 + 3 * histBins} real features")
    val withPix = packed.withColumn("pix", pixelStats(col("media"), histBins))
    val n = col("pix.n_pixels").cast("double")
    def hfrac(c: String): Column =
      transform(col(s"pix.$c"), x => round(x.cast("double") / n, 6))
    val realVec = concat(
      array(
        round(col("pix.mean_r") / 255.0, 6),
        round(col("pix.mean_g") / 255.0, 6),
        round(col("pix.mean_b") / 255.0, 6)),
      hfrac("hist_r"), hfrac("hist_g"), hfrac("hist_b"),
      array_repeat(lit(0.0), dim - 3 - 3 * histBins))
    val fallback =
      if (syntheticFallback) fakeDecodeFeatures(col("media"), dim)
      else lit(null).cast("array<double>")
    withPix.select(
      col("media_id").as("vec_id"),
      col("kind"),
      col("meta"),
      col("pix"),
      when(col("pix.format").isNotNull, realVec)
        .otherwise(fallback).as("embedding"),
      col("pix.format").isNotNull.as("embedding_real"),
      frameSample(col("media")).as("frames"))
  }
}

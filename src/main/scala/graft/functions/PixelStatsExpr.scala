package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-channel pixel statistics of an image blob, for every format the
  * engine decodes, as one codegen'd Expression. The blob's first byte picks
  * the decoder: BMP or PNM ([[RasterDecode]]), PNG ([[PngDecode]]), GIF
  * ([[GifDecode]]) or JPEG ([[JpegDecode]]). Each decoder checks the rest of
  * its own signature, parses its format and feeds the pixels to one
  * [[PixelAcc]], which builds the result row.
  *
  * The generated Java is one static call, so the operator stays inside
  * whole-stage codegen with no UDF registration and no interpreted lambda
  * dispatch.
  *
  * Honest nulls, never throws: an unknown signature, a payload outside its
  * decoder's envelope, truncated or corrupt bytes and dims over `maxPixels`
  * all return null. Corrupt media is data, not an error.
  */
case class PixelStats(child: Expression, histBins: Int, maxPixels: Int)
    extends UnaryExpression {

  override def dataType: DataType = PixelAcc.statsType(histBins)
  override def nullable: Boolean = true
  override def prettyName: String = "pixel_stats"

  override protected def nullSafeEval(input: Any): Any =
    PixelStats.stats(input.asInstanceOf[Array[Byte]], histBins, maxPixels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.PixelStats.stats($c, $histBins, $maxPixels);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): PixelStats = copy(child = newChild)
}

object PixelStats {
  def pixelStats(media: Column, histBins: Int, maxPixels: Int): Column =
    Bridge.column(PixelStats(Bridge.expression(media), histBins, maxPixels))

  /** The signatures start with distinct bytes ("BM", "P5"/"P6", 0x89 "PNG",
    * "GIF8", 0xFF 0xD8), so one compare on the first byte finds the only
    * decoder that can accept the blob. A decoder returns its format name,
    * or null when the blob is not one it decodes.
    */
  def stats(bytes: Array[Byte], histBins: Int, maxPixels: Int): InternalRow =
    try {
      if (bytes.isEmpty) return null
      val acc = new PixelAcc(histBins)
      val b0 = Bytes.u8(bytes(0))
      val format =
        if (b0 == 'B') RasterDecode.bmp(bytes, maxPixels, acc)
        else if (b0 == 'P') RasterDecode.pnm(bytes, maxPixels, acc)
        else if (b0 == 0x89) PngDecode.decode(bytes, maxPixels, acc)
        else if (b0 == 'G') GifDecode.decode(bytes, maxPixels, acc)
        else if (b0 == 0xff) JpegDecode.decode(bytes, maxPixels, acc)
        else null
      if (format == null) null else acc.row(format)
    } catch { case _: Exception => null }
}

/** The channel accumulator every image decoder feeds: per-channel sums and
  * `histBins`-bin histograms over the pixels added, emitted as the stats
  * row [[PixelAcc.statsType]] describes. Decoders of grayscale data report
  * the gray value on all three channels.
  */
final class PixelAcc(histBins: Int) {
  private var n = 0L
  private var sr = 0L
  private var sg = 0L
  private var sb = 0L
  private val hr = new Array[Long](histBins)
  private val hg = new Array[Long](histBins)
  private val hb = new Array[Long](histBins)

  /** Pixels added so far. */
  def count: Long = n

  def add(rv: Int, gv: Int, bv: Int): Unit = {
    sr += rv; sg += gv; sb += bv
    hr(rv * histBins / 256) += 1
    hg(gv * histBins / 256) += 1
    hb(bv * histBins / 256) += 1
    n += 1
  }

  def row(format: String): InternalRow = {
    val nd = n.toDouble
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(format), n,
      PixelAcc.round4(sr / nd), PixelAcc.round4(sg / nd),
      PixelAcc.round4(sb / nd),
      new GenericArrayData(hr), new GenericArrayData(hg),
      new GenericArrayData(hb)))
  }
}

object PixelAcc {

  /** The stats row's type. Histogram elements are LONG with
    * `containsNull = false`, the shape of the column-expression fold the
    * raster path was first written as.
    */
  def statsType(histBins: Int): StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("n_pixels", LongType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("hist_r", ArrayType(LongType, containsNull = false)),
    StructField("hist_g", ArrayType(LongType, containsNull = false)),
    StructField("hist_b", ArrayType(LongType, containsNull = false))))

  /** Spark's `round(double, 4)`: BigDecimal HALF_UP. */
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Unsigned byte and integer readers shared by the media decoders. */
private[functions] object Bytes {

  def u8(b: Byte): Int = b & 0xff

  def le16(a: Array[Byte], off: Int): Int =
    u8(a(off)) | (u8(a(off + 1)) << 8)

  def le32(a: Array[Byte], off: Int): Long =
    (u8(a(off)).toLong | (u8(a(off + 1)).toLong << 8) |
      (u8(a(off + 2)).toLong << 16) | (u8(a(off + 3)).toLong << 24)) & 0xffffffffL

  def be32(a: Array[Byte], off: Int): Long =
    ((u8(a(off)).toLong << 24) | (u8(a(off + 1)) << 16) |
      (u8(a(off + 2)) << 8) | u8(a(off + 3))) & 0xffffffffL
}

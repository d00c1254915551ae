package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PCM sample statistics for uncompressed 16-bit WAV payloads — the audio
  * sibling of [[PixelStats]]: a fused codegen Expression that walks the
  * RIFF chunk list (no fixed offsets — LIST or extra chunks before
  * `fmt `/`data` are legal and handled), then
  * accumulates EXACT-INTEGER per-channel statistics over the interleaved
  * little-endian i16 frames: sum, sum of squares, and peak |amplitude|.
  * Derived floats (mean, RMS in dBFS) are the caller's one division away —
  * keeping the emitted struct all-integer makes the q113 oracle pure
  * integer arithmetic with zero rounding surface (the q93/q94 ppm-family
  * rule applied to audio).
  *
  * Mono fills channel 0 and nulls channel 1; >2 channels, non-PCM
  * (format ≠ 1), non-16-bit, truncated/overflowing chunks, or frame counts
  * over `maxFrames` return null — honest nulls, never throws (the
  * Multimodal decoder contract: corrupt media is data, not an error).
  * Overflow headroom: sumsq ≤ maxFrames · 32768² = 2³⁰·maxFrames —
  * safe to maxFrames ≈ 8·10⁹; the cap default (1 << 24) is far under.
  */
case class WavSampleStats(child: Expression, maxFrames: Int)
    extends UnaryExpression {

  override def dataType: DataType = WavDecode.statsType
  override def nullable: Boolean = true
  override def prettyName: String = "wav_sample_stats"

  override protected def nullSafeEval(input: Any): Any =
    WavDecode.stats(input.asInstanceOf[Array[Byte]], maxFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.WavDecode.stats($c, $maxFrames);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): WavSampleStats = copy(child = newChild)
}

object WavSampleStats {
  def wavSampleStats(media: Column, maxFrames: Int = 1 << 24): Column =
    Bridge.column(WavSampleStats(Bridge.expression(media), maxFrames))
}

object WavDecode {
  import Bytes.{le16, le32}

  val statsType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("n_frames", LongType),
    StructField("channels", IntegerType),
    StructField("sample_rate", LongType),
    StructField("sum0", LongType),
    StructField("sumsq0", LongType),
    StructField("peak0", IntegerType),
    StructField("sum1", LongType, nullable = true),
    StructField("sumsq1", LongType, nullable = true),
    StructField("peak1", IntegerType, nullable = true)))

  private def i16(a: Array[Byte], off: Int): Int = le16(a, off).toShort.toInt

  private def tag(a: Array[Byte], off: Int, t: String): Boolean =
    a(off) == t.charAt(0) && a(off + 1) == t.charAt(1) &&
      a(off + 2) == t.charAt(2) && a(off + 3) == t.charAt(3)

  def stats(bytes: Array[Byte], maxFrames: Int): InternalRow =
    try decode(bytes, maxFrames)
    catch { case _: Exception => null }

  private def decode(bytes: Array[Byte], maxFrames: Int): InternalRow = {
    if (bytes == null || bytes.length < 44) return null
    if (!tag(bytes, 0, "RIFF") || !tag(bytes, 8, "WAVE")) return null
    // chunk walk: fmt and data may appear in any order with strangers
    // (LIST, fact) between; odd-sized chunks carry one pad byte
    var pos = 12
    var channels = -1
    var rate = -1L
    var dataOff = -1
    var dataLen = -1L
    while (pos + 8 <= bytes.length && (channels < 0 || dataOff < 0)) {
      val size = le32(bytes, pos + 4)
      val body = pos + 8
      if (body + size > bytes.length) return null // truncated chunk
      if (tag(bytes, pos, "fmt ")) {
        if (size < 16) return null
        if (le16(bytes, body) != 1) return null // PCM only
        channels = le16(bytes, body + 2)
        rate = le32(bytes, body + 4)
        if (le16(bytes, body + 14) != 16) return null // 16-bit only
      } else if (tag(bytes, pos, "data")) {
        dataOff = body
        dataLen = size
      }
      pos = body + size.toInt + (size.toInt & 1)
    }
    if (channels < 1 || channels > 2 || dataOff < 0) return null
    val frameBytes = 2 * channels
    val nFrames = dataLen / frameBytes
    if (nFrames < 1 || nFrames > maxFrames) return null
    var s0 = 0L; var q0 = 0L; var p0 = 0
    var s1 = 0L; var q1 = 0L; var p1 = 0
    val ni = nFrames.toInt
    var i = 0
    var p = dataOff
    while (i < ni) {
      val a = i16(bytes, p)
      s0 += a; q0 += a.toLong * a
      val aa = if (a < 0) -a else a // |−32768| = 32768 fits the Int
      if (aa > p0) p0 = aa
      if (channels == 2) {
        val b = i16(bytes, p + 2)
        s1 += b; q1 += b.toLong * b
        val ab = if (b < 0) -b else b
        if (ab > p1) p1 = ab
      }
      p += frameBytes; i += 1
    }
    val st = if (channels == 2) Array[Any](s1, q1, p1)
      else Array[Any](null, null, null)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString("wav_pcm16"), nFrames, channels, rate,
      s0, q0, p0, st(0), st(1), st(2)))
  }
}

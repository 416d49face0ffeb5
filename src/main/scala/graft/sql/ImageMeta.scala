package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Header-byte image metadata extraction — REAL codec-free parsing (not a
  * stub): container signature + dimensions straight from the first bytes
  * of the payload, the piece of multimodal ingest that needs no image
  * library and therefore belongs in a codegen'd row-local kernel.
  *
  * Recognizes:
  *  - PNG  — 8-byte signature; width/height are the big-endian ints at
  *    offsets 16/20 (inside the mandatory leading IHDR chunk)
  *  - GIF  — `GIF87a`/`GIF89a`; width/height are little-endian u16 at 6/8
  *  - BMP  — `BM`; width/height are little-endian i32 at 18/22 (height
  *    may be negative for top-down rows — reported as |height|)
  *  - JPEG — `FF D8`, then a SEGMENT WALK (markers are length-prefixed)
  *    to the first SOF0-SOF15 frame header, whose big-endian u16 pair at
  *    +5/+7 is (height, width). Baseline and progressive both surface.
  *  - TIFF — `II*\0` (little-endian) or `MM\0*` (big-endian): follow the
  *    u32 offset at +4 to the first IFD and scan its 12-byte entries for
  *    tags 256/257 (ImageWidth/ImageLength), reading SHORT(3)/LONG(4)
  *    values inline from the entry's value field in file byte order —
  *    the multi-offset structure walk the other containers don't need.
  *
  * Unrecognized/truncated payloads yield ('unknown', null, null); a JPEG
  * whose frame header is missing yields ('jpeg', null, null); a TIFF
  * whose IFD lies beyond the payload (or lacks the dimension tags)
  * yields ('tiff', null, null).
  */
object ImageMetaKernel {
  private val FmtPng = UTF8String.fromString("png")
  private val FmtGif = UTF8String.fromString("gif")
  private val FmtBmp = UTF8String.fromString("bmp")
  private val FmtJpeg = UTF8String.fromString("jpeg")
  private val FmtTiff = UTF8String.fromString("tiff")
  private val FmtUnknown = UTF8String.fromString("unknown")

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = (u8(b, i + 1) << 8) | u8(b, i)
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    (u8(b, i + 3) << 24) | (u8(b, i + 2) << 16) | (u8(b, i + 1) << 8) | u8(b, i)

  private def row(fmt: UTF8String, w: Any, h: Any): InternalRow =
    new GenericInternalRow(Array[Any](fmt, w, h))

  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return row(FmtUnknown, null, null)
    val n = bytes.length
    // PNG: 89 50 4E 47 0D 0A 1A 0A + IHDR (dims at 16/20, big-endian)
    if (n >= 24 && u8(bytes, 0) == 0x89 && u8(bytes, 1) == 'P' &&
        u8(bytes, 2) == 'N' && u8(bytes, 3) == 'G' && u8(bytes, 4) == 0x0d &&
        u8(bytes, 5) == 0x0a && u8(bytes, 6) == 0x1a && u8(bytes, 7) == 0x0a)
      return row(FmtPng, be32(bytes, 16).toInt, be32(bytes, 20).toInt)
    // GIF87a / GIF89a: dims little-endian u16 at 6/8
    if (n >= 10 && u8(bytes, 0) == 'G' && u8(bytes, 1) == 'I' &&
        u8(bytes, 2) == 'F' && u8(bytes, 3) == '8' &&
        (u8(bytes, 4) == '7' || u8(bytes, 4) == '9') && u8(bytes, 5) == 'a')
      return row(FmtGif, le16(bytes, 6), le16(bytes, 8))
    // BMP: 'BM' + BITMAPINFOHEADER dims at 18/22 (LE i32; |height|)
    if (n >= 26 && u8(bytes, 0) == 'B' && u8(bytes, 1) == 'M')
      return row(FmtBmp, le32(bytes, 18), math.abs(le32(bytes, 22)))
    // JPEG: FF D8, then walk length-prefixed segments to the first SOF
    if (n >= 4 && u8(bytes, 0) == 0xff && u8(bytes, 1) == 0xd8) {
      var pos = 2
      while (pos + 3 < n) {
        if (u8(bytes, pos) != 0xff) return row(FmtJpeg, null, null)
        val marker = u8(bytes, pos + 1)
        if (marker == 0xff) { pos += 1 } // fill byte
        else if (marker == 0xd9 || marker == 0xda) {
          return row(FmtJpeg, null, null) // EOI / SOS before any SOF
        } else if (marker >= 0xd0 && marker <= 0xd8) {
          pos += 2 // standalone marker, no length
        } else {
          val segLen = be16(bytes, pos + 2)
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) {
            if (pos + 8 < n)
              return row(FmtJpeg, be16(bytes, pos + 7), be16(bytes, pos + 5))
            return row(FmtJpeg, null, null)
          }
          if (segLen < 2) return row(FmtJpeg, null, null)
          pos += 2 + segLen
        }
      }
      return row(FmtJpeg, null, null)
    }
    // TIFF: 'II' 0x2A00 (LE) or 'MM' 0x002A (BE); IFD walk for tags 256/257
    val tiffLe = n >= 8 && u8(bytes, 0) == 'I' && u8(bytes, 1) == 'I' &&
      u8(bytes, 2) == 0x2a && u8(bytes, 3) == 0x00
    val tiffBe = n >= 8 && u8(bytes, 0) == 'M' && u8(bytes, 1) == 'M' &&
      u8(bytes, 2) == 0x00 && u8(bytes, 3) == 0x2a
    if (tiffLe || tiffBe) {
      def r16(i: Int): Int = if (tiffLe) le16(bytes, i) else be16(bytes, i)
      def r32(i: Int): Long = if (tiffLe) le32(bytes, i).toLong & 0xffffffffL
                              else be32(bytes, i)
      val ifd = r32(4)
      if (ifd < 8 || ifd + 2 > n) return row(FmtTiff, null, null)
      val nEntries = r16(ifd.toInt)
      var width: Any = null
      var height: Any = null
      var i = 0
      while (i < nEntries) {
        val e = ifd.toInt + 2 + 12 * i
        if (e + 12 > n) return row(FmtTiff, null, null)
        val tag = r16(e)
        if (tag == 256 || tag == 257) {
          val typ = r16(e + 2)
          val v: Any =
            if (typ == 3) r16(e + 8)              // SHORT, inline
            else if (typ == 4) r32(e + 8).toInt   // LONG, inline
            else null
          if (tag == 256) width = v else height = v
        }
        i += 1
      }
      return row(FmtTiff, width, height)
    }
    row(FmtUnknown, null, null)
  }
}

/** The shape shared by the media header kernels ([[AudioMeta]],
  * [[ImageMeta]], [[VideoMeta]]): one `binary` input, checked at analysis
  * by Spark's [[ExpectsInputTypes]], and a codegen'd call into the
  * row-local kernel `parse` (`parseCall` is its static name for
  * generated code); null payload -> null struct. */
private[sql] trait MediaMeta extends UnaryExpression with ExpectsInputTypes {

  protected def parse(bytes: Array[Byte]): InternalRow

  protected def parseCall: String

  override def inputTypes: Seq[DataType] = Seq(BinaryType)

  override protected def nullSafeEval(b: Any): Any = parse(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"${ev.value} = $parseCall($b);")
}

/** `image_meta(binary)` -> struct(format string, width int, height int).
  * Codegen'd call into the row-local [[ImageMetaKernel]]; null payload ->
  * null struct. */
case class ImageMeta(child: Expression) extends MediaMeta {

  override protected def parse(bytes: Array[Byte]): InternalRow = ImageMetaKernel.parse(bytes)

  override protected def parseCall: String = "graft.sql.ImageMetaKernel.parse"

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  override def prettyName: String = "image_meta"

  override protected def withNewChildInternal(newChild: Expression): ImageMeta =
    copy(child = newChild)
}

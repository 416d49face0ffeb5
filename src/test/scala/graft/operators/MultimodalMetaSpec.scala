package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalMetaSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private def png(w: Int, h: Int): Array[Byte] =
    bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13) ++
      "IHDR".getBytes ++
      bytes(w >> 24, w >> 16, w >> 8, w, h >> 24, h >> 16, h >> 8, h) ++
      bytes(8, 2, 0, 0, 0)

  private def gif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes ++ bytes(w & 0xff, w >> 8, h & 0xff, h >> 8, 0, 0, 0)

  private def jpeg(w: Int, h: Int, comLen: Int): Array[Byte] = {
    val com = bytes(0xff, 0xfe, (comLen + 2) >> 8, (comLen + 2) & 0xff) ++
      Array.fill(comLen)(7.toByte)
    bytes(0xff, 0xd8) ++ com ++
      bytes(0xff, 0xc0, 0, 11, 8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 0x11)
  }

  test("image_meta parses PNG/GIF/JPEG headers and rejects junk") {
    val rows = Seq(
      (1L, png(640, 480)), (2L, gif(320, 200)), (3L, jpeg(800, 600, 9)),
      (4L, jpeg(123, 45, 0)), (5L, "not an image".getBytes),
      (6L, bytes(0xff, 0xd8, 0xff, 0xd9)) // JPEG with no frame header
    ).toDF("id", "payload")
    val got = Multimodal.imageMeta(rows, col("payload"))
      .select(col("id"), col("format"), col("width"), col("height"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3)))).toMap
    assert(got(1L) == (("png", 640, 480)))
    assert(got(2L) == (("gif", 320, 200)))
    assert(got(3L) == (("jpeg", 800, 600)))
    assert(got(4L) == (("jpeg", 123, 45)))
    assert(got(5L) == (("unknown", -1, -1)))
    assert(got(6L) == (("jpeg", -1, -1)))
  }

  private def tiffLe(w: Int, h: Int): Array[Byte] =
    bytes('I', 'I', 0x2a, 0x00, 8, 0, 0, 0, /* n=2 */ 2, 0) ++
      bytes(0x00, 0x01, 3, 0, 1, 0, 0, 0, w & 0xff, w >> 8, 0, 0) ++ // tag 256 SHORT
      bytes(0x01, 0x01, 3, 0, 1, 0, 0, 0, h & 0xff, h >> 8, 0, 0) ++ // tag 257 SHORT
      bytes(0, 0, 0, 0)

  private def tiffBe(w: Int, h: Int): Array[Byte] =
    bytes('M', 'M', 0x00, 0x2a, 0, 0, 0, 8, 0, 2) ++
      bytes(1, 0x00, 0, 4, 0, 0, 0, 1, w >> 24, w >> 16, w >> 8, w) ++ // 256 LONG
      bytes(1, 0x01, 0, 4, 0, 0, 0, 1, h >> 24, h >> 16, h >> 8, h) ++ // 257 LONG
      bytes(0, 0, 0, 0)

  test("image_meta walks TIFF IFDs in both byte orders; bad IFD offset -> nulls") {
    val rows = Seq(
      (1L, tiffLe(640, 480)),
      (2L, tiffBe(70000, 12345)), // LONG values past u16 range
      (3L, bytes('I', 'I', 0x2a, 0x00) ++ bytes(0x3f, 0x42, 0x0f, 0x00)) // IFD @999999
    ).toDF("id", "payload")
    val got = Multimodal.imageMeta(rows, col("payload"))
      .select(col("id"), col("format"), col("width"), col("height"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3)))).toMap
    assert(got(1L) == (("tiff", 640, 480)))
    assert(got(2L) == (("tiff", 70000, 12345)))
    assert(got(3L) == (("tiff", -1, -1)))
  }

  test("image_meta over the committed fixture blobs matches file-name formats") {
    val repo = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir"))
    val got = Multimodal.imageMeta(
        spark.read.format("binaryFile").load(s"$repo/fixtures/media"),
        col("content"))
      .select(
        regexp_extract(col("path"), "img_\\d+\\.(\\w+)", 1).as("ext"),
        col("format"), col("width"), col("height"))
      .collect()
    assert(got.length == 33)
    got.foreach { r =>
      val (ext, fmt) = (r.getString(0), r.getString(1))
      ext match {
        case "png" => assert(fmt == "png" && r.getInt(2) > 0 && r.getInt(3) > 0)
        case "gif" => assert(fmt == "gif" && r.getInt(2) > 0 && r.getInt(3) > 0)
        case "jpg" => assert(fmt == "jpeg" && r.getInt(2) > 0 && r.getInt(3) > 0)
        case "bmp" => assert(fmt == "bmp" && r.getInt(2) > 0 && r.getInt(3) > 0)
        case "tif" => assert(fmt == "tiff") // img_32's dims are null by design
        case "dat" => assert(fmt == "unknown" && r.isNullAt(2) && r.isNullAt(3))
      }
    }
  }
}

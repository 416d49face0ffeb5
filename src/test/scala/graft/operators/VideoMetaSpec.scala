package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VideoMetaSpec extends SparkSpec {
  import spark.implicits._

  private def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def be64(v: Long): Array[Byte] = be32(v >> 32) ++ be32(v & 0xffffffffL)
  private def le32(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    be32(8L + body.length) ++ typ.getBytes ++ body

  private def mvhd(ts: Int, dur: Long, v: Int): Array[Byte] = {
    val body =
      if (v == 0) Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(ts) ++ be32(dur)
      else Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
        be32(ts) ++ be64(dur)
    box("mvhd", body ++ Array.fill(80)(0.toByte))
  }

  private def tkhd(w: Int, h: Int, v: Int): Array[Byte] = {
    val pre =
      if (v == 0) Array[Byte](0, 0, 0, 7) ++ Array.fill(72)(0.toByte)
      else Array[Byte](1, 0, 0, 7) ++ Array.fill(84)(0.toByte)
    box("tkhd", pre ++ be32(w.toLong << 16) ++ be32(h.toLong << 16))
  }

  private def mp4(w: Int, h: Int, ts: Int, dur: Long, v: Int = 0,
      pre: Array[Byte] = Array.empty): Array[Byte] =
    box("ftyp", "isom".getBytes ++ Array.fill(8)(0.toByte)) ++ pre ++
      box("moov", mvhd(ts, dur, v) ++ box("trak", tkhd(w, h, v)))

  private def avi(w: Int, h: Int, usf: Long, frames: Long): Array[Byte] = {
    val avih = "avih".getBytes ++ le32(56) ++ le32(usf) ++
      Array.fill(12)(0.toByte) ++ le32(frames) ++ le32(0) ++ le32(1) ++
      le32(100000) ++ le32(w) ++ le32(h) ++ Array.fill(24)(0.toByte)
    val hdrl = "LIST".getBytes ++ le32(4L + avih.length) ++ "hdrl".getBytes ++ avih
    "RIFF".getBytes ++ le32(4L + hdrl.length) ++ "AVI ".getBytes ++ hdrl
  }

  test("video_meta parses MP4/AVI headers and rejects junk") {
    val largeMdat = be32(1) ++ "mdat".getBytes ++ be64(16 + 32) ++
      Array.fill(32)(5.toByte)
    val rows = Seq(
      (1L, mp4(640, 360, 1000, 10000)),
      (2L, mp4(1920, 1080, 90000, 90000L * 137, v = 1)),
      (3L, mp4(1280, 720, 25, 250, pre = largeMdat)), // 64-bit largesize walk
      (4L, box("ftyp", "isom".getBytes ++ Array.fill(8)(0.toByte))), // no moov
      (5L, avi(320, 240, 33333, 300)),
      (6L, "RIFF".getBytes ++ le32(4) ++ "AVI ".getBytes), // no hdrl
      (7L, "definitely not video".getBytes)
    ).toDF("id", "payload")
    val got = Multimodal.videoMeta(rows, col("payload"))
      .select(col("id"), col("format"), col("width"), col("height"),
        col("duration_ms"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got(1L) == (("mp4", 640, 360, 10000L)))
    assert(got(2L) == (("mp4", 1920, 1080, 137000L)))
    assert(got(3L) == (("mp4", 1280, 720, 10000L)))
    assert(got(4L) == (("mp4", -1, -1, -1L)))
    assert(got(5L) == (("avi", 320, 240, 9999L))) // 33333*300/1000 floor
    assert(got(6L) == (("avi", -1, -1, -1L)))
    assert(got(7L) == (("unknown", -1, -1, -1L)))
  }

  test("video_meta over the committed fixture blobs matches file-name formats") {
    val repo = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir"))
    val got = Multimodal.videoMeta(
        spark.read.format("binaryFile").load(s"$repo/fixtures/video"),
        col("content"))
      .select(
        regexp_extract(col("path"), "vid_\\d+\\.(\\w+)", 1).as("ext"),
        col("format"), col("width"), col("duration_ms"))
      .collect()
    assert(got.length == 10)
    got.foreach { r =>
      val (ext, fmt) = (r.getString(0), r.getString(1))
      ext match {
        case "mp4" => assert(fmt == "mp4")
        case "avi" => assert(fmt == "avi")
        case "dat" => assert(fmt == "unknown" && r.isNullAt(2) && r.isNullAt(3))
      }
    }
    // every non-truncated fixture decodes real dimensions + duration
    val decoded = got.filter(r => !r.isNullAt(2))
    assert(decoded.length == 6) // 4 mp4 + 2 avi
    decoded.foreach { r =>
      assert(r.getInt(2) >= 320 && r.getLong(3) > 0L)
    }
  }
}

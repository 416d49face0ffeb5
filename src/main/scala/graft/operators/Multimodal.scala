package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with per-partition decode/feature-extract stages.
  *
  * Header-level metadata extraction is REAL: [[imageMeta]] parses
  * PNG/GIF/BMP/JPEG/TIFF container headers (signature + dimensions,
  * including the JPEG segment walk to the SOF frame header and the TIFF
  * IFD tag scan in both byte orders) via the codegen'd
  * `image_meta` kernel — no image library needed. Only the pixel-level
  * stages (`decodeStub`/`resizeStub`) remain deterministic stand-ins for
  * a codec this container doesn't ship; swapping a real decoder in
  * changes only the function body, not the plumbing.
  */
object Multimodal {

  /** Real header parsing over a binary payload column: appends
    * (format, width, height) from the container header bytes — see
    * [[graft.sql.ImageMetaKernel]]. Row-local codegen'd projection;
    * scales as a scan. */
  def imageMeta(media: DataFrame, payload: Column): DataFrame = {
    val m = call_function("image_meta", payload)
    media
      .withColumn("format", m.getField("format"))
      .withColumn("width", m.getField("width"))
      .withColumn("height", m.getField("height"))
  }

  /** Real audio-header parsing over a binary payload column: appends
    * (format, channels, sample_rate, bits_per_sample) from the container
    * header bytes — WAV chunk walk, FLAC STREAMINFO bit unpacking, MP3
    * ID3v2-skip + frame-header decode; see [[graft.sql.AudioMetaKernel]].
    * Row-local codegen'd projection; scales as a scan. */
  def audioMeta(media: DataFrame, payload: Column): DataFrame = {
    val m = call_function("audio_meta", payload)
    media
      .withColumn("format", m.getField("format"))
      .withColumn("channels", m.getField("channels"))
      .withColumn("sample_rate", m.getField("sample_rate"))
      .withColumn("bits_per_sample", m.getField("bits_per_sample"))
  }

  /** Real video-header parsing over a binary payload column: appends
    * (format, width, height, duration_ms) from the container header
    * bytes — MP4 ISO-BMFF box walk (ftyp/moov/mvhd/tkhd, v0/v1 and
    * 64-bit largesize) and AVI RIFF `LIST hdrl`/`avih`; see
    * [[graft.sql.VideoMetaKernel]]. Row-local codegen'd projection;
    * scales as a scan. */
  def videoMeta(media: DataFrame, payload: Column): DataFrame = {
    val m = call_function("video_meta", payload)
    media
      .withColumn("format", m.getField("format"))
      .withColumn("width", m.getField("width"))
      .withColumn("height", m.getField("height"))
      .withColumn("duration_ms", m.getField("duration_ms"))
  }

  /** Wrap any id + string column as a media table: payload = UTF-8 bytes,
    * metadata struct computed column-natively. */
  def asMediaTable(df: DataFrame, id: String, content: String, mime: String): DataFrame =
    df.select(
      col(id).cast("long").as("media_id"),
      encode(col(content), "UTF-8").as("payload"))
      .withColumn("meta", struct(
        lit(mime).as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("checksum")))

  /** STUB decoder: a real implementation would decode the payload
    * (image/audio frame) per partition; here we emit a deterministic fake
    * 8-dim feature from the payload bytes so the distributed plumbing
    * (mapPartitions batching, schema, ordering independence) is testable.
    */
  def decodeStub(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields :+
      StructField("features", ArrayType(DoubleType, containsNull = false)))
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val feats: Array[Double] =
          if (payload == null) Array.fill(8)(0.0)
          else {
            val digest = java.security.MessageDigest.getInstance("MD5").digest(payload)
            (0 until 8).map(i => (digest(i) & 0xff) / 255.0).toArray
          }
        Row.fromSeq(r.toSeq :+ feats.toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** STUB resize: keep every `factor`-th payload byte — a deterministic
    * downsample standing in for image/audio resampling (a real codec
    * changes only the per-row body, not the partition-parallel plumbing).
    * Emits the resized payload; callers derive new metadata column-natively
    * (`octet_length`/`md5` on the resized column). */
  def resizeStub(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "resize factor must be >= 1")
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields :+
      StructField("resized", BinaryType, nullable = true))
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val p = r.getAs[Array[Byte]]("payload")
        val out =
          if (p == null) null
          else if (p.length == 0) Array.empty[Byte]
          else Array.tabulate((p.length + factor - 1) / factor)(i => p(i * factor))
        Row.fromSeq(r.toSeq :+ out)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame-sample stance for video-like payloads: deterministic stride
    * sampling of byte blocks, standing in for frame extraction. */
  def frameSampleStub(media: DataFrame, blockSize: Int, stride: Int): DataFrame =
    media.withColumn("frames",
      transform(
        sequence(lit(0),
          greatest(floor((octet_length(col("payload")) - 1) / (blockSize * stride))
            .cast("int"), lit(0))),
        i => col("payload").substr((i * blockSize * stride + 1).cast("int"), lit(blockSize))))

  /** ViT-style patchification bookkeeping: one row per (media, patch)
    * with grid position and pixel bounding box, edge patches clipped to
    * the image — the patch table a vision pipeline shuffles to encoders.
    * Pure integer column arithmetic (ceil-div via `(n + p - 1) / p`, no
    * floats), two bounded explodes; scales as a projection. */
  def patchGrid(
      media: DataFrame, id: Column, width: Column, height: Column,
      patch: Int): DataFrame = {
    val nx = floor((width + (patch - 1)) / patch).cast("int")
    val ny = floor((height + (patch - 1)) / patch).cast("int")
    media
      .select(id.cast("long").as("media_id"),
        width.cast("int").as("w"), height.cast("int").as("h"),
        nx.as("__nx"), ny.as("__ny"))
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("px", explode(sequence(lit(0), col("__nx") - 1)))
      .withColumn("py", explode(sequence(lit(0), col("__ny") - 1)))
      .select(col("media_id"), col("px"), col("py"),
        (col("px") * patch).as("x0"), (col("py") * patch).as("y0"),
        least(col("px") * patch + patch, col("w")).as("x1"),
        least(col("py") * patch + patch, col("h")).as("y1"))
      .withColumn("n_px", (col("x1") - col("x0")) * (col("y1") - col("y0")))
  }
}

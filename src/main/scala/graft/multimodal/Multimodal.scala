package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with
  * typed metadata, processed per-partition in batches.
  *
  * Images decode for real through `javax.imageio` (PNG/BMP/GIF/JPEG
  * readers ship with the JDK — no native codecs needed); payloads
  * that aren't parseable images, and the audio/video modalities (no
  * codecs in this container), fall back to [[MediaDecoder.decodeStub]]
  * — deterministic fake features from the bytes. Everything else —
  * the schema, the partition-batched `mapPartitions` shape (one
  * decoder instance per partition, streamed batches, no per-row setup
  * cost), partitioning by media type, and the metadata projection —
  * is the real cluster-scale plumbing a production codec drops into.
  */
object Multimodal {

  /** A media row: opaque payload + envelope metadata. */
  final case class MediaRow(
      media_id: Long,
      media_type: String, // "image" | "audio" | "video"
      payload: Array[Byte]
  )

  final case class MediaFeatures(
      media_id: Long,
      media_type: String,
      byte_len: Long,
      width: Int,     // stub-decoded
      height: Int,    // stub-decoded
      duration_ms: Long, // stub-decoded (audio/video)
      checksum: Long
  )

  /** Wrap any table into media rows by treating a string column as
    * the payload bytes (deterministic stand-in for real blobs).
    */
  def synthesize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")
      ).as("media_type"),
      col(textCol).cast("binary").as("payload"))

  /** Batched per-partition decode: real `javax.imageio` for image
    * payloads, deterministic stub for everything else. Audio/video
    * codecs would bind per partition here, exactly where the decoder
    * reference is taken.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition decoder setup happens once, here
      val decoder = MediaDecoder
      rows.grouped(64).flatMap { batch =>   // batch shape for vectorized codecs
        batch.iterator.map(decoder.decode)
      }
    }
  }

  /** Real audio decode over a corpus of WAV payloads, batched
    * per-partition like [[decodeFeatures]]: `media` is (media_id,
    * payload) rows; every payload is parsed by the JDK's actual WAV
    * reader ([[MediaDecoder.decodeAudio]]) — format facts, frame
    * count, duration, exact integer energy. Undecodable payloads fail
    * LOUDLY (a corpus decode that silently drops rows is how training
    * sets rot); filter upstream if skipping is intended.
    */
  def decodeAudioFeatures(spark: SparkSession,
                          media: DataFrame): Dataset[MediaDecoder.AudioFeatures] = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          MediaDecoder.decodeAudio(id, payload).getOrElse(
            throw new IllegalArgumentException(
              s"media_id=$id: payload is not decodable 16-bit PCM audio"))
        }
      }
  }

}

object MultimodalFrames {
  import Multimodal.MediaRow

  /** One sampled frame/clip from a media payload. */
  final case class FrameRow(
      media_id: Long,
      frame_idx: Int,
      offset_bytes: Long,
      frame: Array[Byte] // stub: raw byte window; real: decoded frame
  )

  /** Frame sampling: every `stride`-th fixed-size window of the
    * payload becomes a frame row. The explode shape (one media row →
    * many frame rows, flatMap inside mapPartitions) is exactly how a
    * real video decoder fans out; only the byte-window "decode" is
    * stubbed. Downstream ops (per-frame featurization, dedup,
    * similarity) consume `FrameRow` unchanged.
    */
  def sampleFrames(spark: SparkSession, media: DataFrame,
                   frameSize: Int = 64, stride: Int = 4): Dataset[FrameRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { m =>
        val n = math.max(m.payload.length / frameSize, 0)
        (0 until n by stride).iterator.map { i =>
          FrameRow(
            media_id = m.media_id,
            frame_idx = i,
            offset_bytes = i.toLong * frameSize,
            frame = java.util.Arrays.copyOfRange(
              m.payload, i * frameSize,
              math.min((i + 1) * frameSize, m.payload.length)))
        }
      }
    }
  }

}

/** Media decoder: genuine JDK image decode with a deterministic
  * stub fallback for non-image payloads (audio/video codecs are not
  * in this container; a javacv-style binding would slot in beside
  * [[decodeImageDims]]).
  */
object MediaDecoder {
  import Multimodal._

  // The JDK default `ImageIO.getUseCache() == true` backs every
  // InputStream read with a FileCacheImageInputStream — a temp file
  // CREATED AND DELETED in java.io.tmpdir per decode call. A corpus
  // decode is tens of thousands of those create/unlink syscalls per
  // partition wave, against a directory whose latency scales with
  // host filesystem churn rather than with the data — the round-16
  // adjudication measured the cache at +28–34% on the m1 decode arm
  // (AdjudicateM1, deleted in 8a94aaa; SCALE.md "Round 16: m1
  // adjudicated": cache-ON 0.244 s vs cache-OFF 0.190 s at sf0.1),
  // and at 100 TB it is also a per-executor /tmp contention point.
  // Memory-backed streams are strictly better for byte-array
  // payloads (the bytes are already in memory). Object-init runs
  // once per executor JVM, exactly where the decoder binds.
  javax.imageio.ImageIO.setUseCache(false)

  /** Real decode: parse the payload with `javax.imageio` and return
    * (width, height), or None if no installed reader recognizes it.
    */
  def decodeImageDims(payload: Array[Byte]): Option[(Int, Int)] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      .map(img => (img.getWidth, img.getHeight))
    catch { case _: java.io.IOException => None }

  /** Features for one media row: image payloads that parse get their
    * true dimensions (and a real checksum of the pixels' source
    * bytes); everything else falls back to [[decodeStub]].
    */
  def decode(row: MediaRow): MediaFeatures =
    if (row.media_type == "image") {
      decodeImageDims(row.payload) match {
        case Some((w, h)) =>
          MediaFeatures(
            media_id = row.media_id,
            media_type = row.media_type,
            byte_len = row.payload.length.toLong,
            width = w,
            height = h,
            duration_ms = 0L,
            checksum = byteSum(row.payload))
        case None => decodeStub(row)
      }
    } else decodeStub(row)

  /** Decoded audio facts + exact integer energy. `rms_raw` is the
    * unrounded root-mean-square over ALL samples (channels
    * interleaved) — callers quantize it for cross-engine compare.
    */
  final case class AudioFeatures(
      media_id: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Long,
      duration_ms: Long,
      sum_sq: Long,
      rms_raw: Double)

  /** A canonical 44-byte RIFF/WAVE container around 16-bit PCM mono
    * samples `s_i = ((seed·31 + i·7) mod 201 − 100) · 300` — REAL WAV
    * bytes (javax.sound parses them like any other file), with sample
    * values simple enough that a SQL oracle can replay every frame
    * arithmetically. The deterministic stand-in for a blob store of
    * recorded audio.
    */
  def synthesizeWav(seed: Long, nFrames: Int, sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = nFrames * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      bb.putShort((((seed * 31 + i.toLong * 7) % 201 - 100) * 300).toShort)
      i += 1
    }
    bb.array()
  }

  /** Real audio decode through the stock JDK (`javax.sound.sampled` —
    * WAV/AU/AIFF readers ship with it, no native codecs): parse the
    * container, read the PCM frames, return the format facts plus the
    * exact integer energy. None when no installed reader recognizes
    * the payload or the encoding isn't 16-bit signed PCM — the same
    * loud-refusal stance as [[decodeImageDims]]; compressed codecs
    * (MP3/AAC) would bind beside this, exactly here.
    */
  def decodeAudio(mediaId: Long, payload: Array[Byte]): Option[AudioFeatures] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val data = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var read = ais.read(buf)
          while (read > 0) { data.write(buf, 0, read); read = ais.read(buf) }
          val bytes = data.toByteArray
          val n = bytes.length / 2
          var sumSq = 0L
          var i = 0
          while (i < n) {
            val s =
              if (fmt.isBigEndian)
                ((bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)).toShort
              else
                ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)).toShort
            sumSq += s.toLong * s.toLong
            i += 1
          }
          val rate = fmt.getSampleRate.toInt
          val channels = fmt.getChannels
          val frames = n.toLong / channels
          Some(AudioFeatures(
            media_id = mediaId,
            sample_rate = rate,
            channels = channels,
            bits = 16,
            n_frames = frames,
            duration_ms = frames * 1000L / rate,
            sum_sq = sumSq,
            rms_raw = math.sqrt(sumSq.toDouble / math.max(n, 1))))
        }
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  private def byteSum(payload: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < payload.length) { s += (payload(i) & 0xff).toLong; i += 1 }
    s
  }

  def decodeStub(row: MediaRow): MediaFeatures = {
    val len = row.payload.length.toLong
    // deterministic pseudo-features, stable across runs and engines
    val sum = {
      var s = 0L
      var i = 0
      while (i < row.payload.length) { s += (row.payload(i) & 0xff).toLong; i += 1 }
      s
    }
    MediaFeatures(
      media_id = row.media_id,
      media_type = row.media_type,
      byte_len = len,
      width = (len % 640).toInt,
      height = ((len * 7) % 480).toInt,
      duration_ms = if (row.media_type == "image") 0L else (sum % 600000L),
      checksum = sum
    )
  }
}

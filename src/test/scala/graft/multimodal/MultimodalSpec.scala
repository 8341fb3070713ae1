package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkTestBase

final class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("synthesize + batched stub decode produce typed features") {
    val docs = Seq(
      (0L, "tiny"),
      (1L, "a somewhat longer payload body"),
      (2L, "x" * 1000)
    ).toDF("doc_id", "text")

    val media = Multimodal.synthesize(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")

    val feats = Multimodal.decodeFeatures(spark, media).collect()
    assert(feats.length == 3)
    val byId = feats.map(f => f.media_id -> f).toMap
    assert(byId(0L).media_type == "image" && byId(0L).duration_ms == 0L)
    assert(byId(1L).media_type == "audio")
    assert(byId(2L).media_type == "video")
    assert(byId(2L).byte_len == 1000L)
    assert(byId(2L).width == (1000 % 640) && byId(2L).height == ((1000 * 7) % 480))
    // checksum is the byte sum — deterministic across runs
    assert(byId(0L).checksum == "tiny".getBytes.map(_ & 0xff).sum.toLong)
  }

  test("frame sampling fans out deterministically") {
    val docs = Seq((1L, "x" * 1000), (2L, "tiny")).toDF("doc_id", "text")
    val media  = Multimodal.synthesize(docs, "doc_id", "text")
    val frames = MultimodalFrames.sampleFrames(spark, media, frameSize = 64, stride = 4)
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    // 1000/64 = 15 windows, stride 4 -> idx 0,4,8,12
    assert(frames.count(_.media_id == 1L) == 4)
    assert(frames.filter(_.media_id == 1L).map(_.frame_idx).toSeq == Seq(0, 4, 8, 12))
    assert(frames.forall(_.frame.length <= 64))
    assert(frames.count(_.media_id == 2L) == 0) // payload shorter than a frame
  }

  // a real PNG payload, rendered in-JVM
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("image payloads decode for real: true dimensions via imageio") {
    val media = Seq(
      Multimodal.MediaRow(1L, "image", pngBytes(23, 17)),
      Multimodal.MediaRow(2L, "image", pngBytes(8, 40)),
      Multimodal.MediaRow(3L, "image", "not an image at all".getBytes), // falls back to stub
      Multimodal.MediaRow(4L, "audio", pngBytes(5, 5))                  // wrong modality: stub
    ).toDF()

    val byId = Multimodal.decodeFeatures(spark, media).collect().map(f => f.media_id -> f).toMap
    assert(byId(1L).width == 23 && byId(1L).height == 17 && byId(1L).duration_ms == 0L)
    assert(byId(2L).width == 8 && byId(2L).height == 40)
    val stub3 = MediaDecoder.decodeStub(Multimodal.MediaRow(3L, "image", "not an image at all".getBytes))
    assert(byId(3L).width == stub3.width && byId(3L).height == stub3.height)
    assert(byId(4L).width == (byId(4L).byte_len % 640).toInt) // stub shape for audio
  }

  test("WAV audio decodes for real through javax.sound: format facts + exact energy") {
    // the synthesized container is genuine RIFF/PCM16 — prove it by
    // round-tripping it through the JDK's OWN writer: AudioSystem
    // re-encodes the parsed stream, and our decode of both byte
    // strings must agree fact for fact
    val wav = MediaDecoder.synthesizeWav(seed = 7L, nFrames = 320, sampleRate = 8000)
    val f = MediaDecoder.decodeAudio(7L, wav).get
    assert(f.sample_rate == 8000 && f.channels == 1 && f.bits == 16)
    assert(f.n_frames == 320L && f.duration_ms == 40L)
    // exact energy: replay the sample formula in plain Scala
    val expectSumSq = (0 until 320).map { i =>
      val s = ((7L * 31 + i.toLong * 7) % 201 - 100) * 300
      s * s
    }.sum
    assert(f.sum_sq == expectSumSq)
    assert(math.abs(f.rms_raw - math.sqrt(expectSumSq.toDouble / 320)) == 0.0)

    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val f2 = MediaDecoder.decodeAudio(7L, out.toByteArray).get
    assert(f2 == f, "JDK-rewritten WAV must decode to identical facts")

    // undecodable payloads refuse, not guess
    assert(MediaDecoder.decodeAudio(9L, "not audio".getBytes).isEmpty)
    assert(MediaDecoder.decodeAudio(9L, pngBytes(4, 4)).isEmpty)
    // and the corpus surface fails LOUDLY on them
    val bad = Seq((9L, "not audio".getBytes)).toDF("media_id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudioFeatures(spark, bad).collect()
    }
    assert(e.getMessage != null)
  }

  test("decode is stable under repartitioning (per-partition batching)") {
    val docs = (0L until 200L).map(i => (i, s"payload number $i with body " + ("y" * (i % 50).toInt)))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    val once  = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.media_id).toSeq
    val again = Multimodal.decodeFeatures(spark, media.repartition(7)).collect().sortBy(_.media_id).toSeq
    assert(once == again)
  }
}

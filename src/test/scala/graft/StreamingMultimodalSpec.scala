package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.streaming.IncrementalRunner

class StreamingMultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("incremental run-summary ingestion drains the directory with AvailableNow") {
    val root = graft.meertrap.FixtureGen.generate()
    val cp   = Files.createTempDirectory("graft_stream_cp").toString
    var batches = 0
    var parsed = 0L
    var corrupt = 0L
    val q = IncrementalRunner.runSummaries(spark, root.toString, cp,
      (r, _) => { batches += 1; parsed += r.parsed.count(); corrupt += r.corrupt.count() })
    q.awaitTermination(120000)
    // 6 json files in one micro-batch, parsed like the batch source: every
    // file accounted for (4 parsed, 1 duplicate collapsed, 1 quarantined)
    assert(batches === 1)
    assert(parsed === 4)
    assert(corrupt === 1)
  }

  test("windowed event aggregation (batch-mode check of the streaming plan)") {
    val ev = Tables(spark, sf("sf0.001"), "events")
    val agg = IncrementalRunner.windowedEventCounts(ev, "1 hour", "1 hour", "1 hour")
    val n = agg.agg(sum("n")).head().getLong(0)
    assert(n === ev.count())
  }

  test("multimodal: non-image payloads take the marked deterministic fallback") {
    val media = (1L to 10L).map(i =>
      Multimodal.MediaRecord(i, "audio", Array.fill(100 + i.toInt)(i.toByte), s"mem://$i"))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 10)
    assert(feats.forall(_.feature.length === 8))
    assert(feats.forall(f => f.width >= 64 && f.height >= 64))
    assert(feats.forall(!_.decoded))    // fallback rows are marked
    // determinism: same payload -> same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.sortBy(_.asset_id).map(_.sha_fingerprint).toSeq ===
      again.sortBy(_.asset_id).map(_.sha_fingerprint).toSeq)
  }

  test("multimodal: MP4/MP3 records carry REAL header metadata columns (decode stays the marked fake)") {
    import org.apache.spark.sql.functions._
    import java.nio.ByteBuffer
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def u32(v: Long) = ByteBuffer.allocate(4).putInt(v.toInt).array()
    def box(t: String, p: Array[Byte]*) = {
      val pay = p.flatten.toArray
      u32(pay.length + 8L) ++ t.getBytes(ISO_8859_1) ++ pay
    }
    val mp4 = box("ftyp", "isom".getBytes(ISO_8859_1), u32(0)) ++
      box("moov",
        box("mvhd", u32(0), u32(0), u32(0), u32(600), u32(1800)),
        box("trak", box("mdia", box("minf", box("stbl",
          box("stsd", u32(0), u32(1), u32(8), "avc1".getBytes(ISO_8859_1)))))))
    val mp3 = Array.fill(2)(
      Array(0xff.toByte, 0xfb.toByte, 0x90.toByte, 0.toByte) ++
        Array.fill(413)(0.toByte)).flatten
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", mp4, "mem://clip.mp4"),
      Multimodal.MediaRecord(2L, "audio", mp3, "mem://song.mp3")).toDS()
    // header metadata is REAL byte parsing (duration/codec/bitrate);
    // the feature path still takes the marked fake for these formats
    val meta = media.toDF()
      .select(col("asset_id"), col("media_type"),
        graft.functions.MediaHeaderExpr.mp4Meta(col("payload")).as("v"),
        graft.functions.MediaHeaderExpr.mp3Meta(col("payload")).as("a"))
      .select(col("asset_id"), col("media_type"),
        col("v.ok").as("mp4_ok"), col("v.duration_sec"), col("v.codecs"),
        col("a.ok").as("mp3_ok"), col("a.bitrate_kbps"), col("a.n_frames"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getBoolean(2) && meta(1L).getDouble(3) === 3.0 &&
      meta(1L).getString(4) === "avc1")
    assert(!meta(1L).getBoolean(5)) // an MP4 payload is not an MP3
    assert(meta(2L).getBoolean(5) && meta(2L).getInt(6) === 128 &&
      meta(2L).getInt(7) === 2)
    assert(!meta(2L).getBoolean(2))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.forall(!_.decoded)) // pixel/sample decode: still the marked fake
  }

  test("multimodal: real PNG decodes via ImageIO — true dims + pixel stats") {
    // 40x20 image: left half pure red, right half pure blue.
    val img = new java.awt.image.BufferedImage(40, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 40)
      img.setRGB(x, y, if (x < 20) 0xFF0000 else 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val media = Seq(Multimodal.MediaRecord(1L, "image", png, "mem://real.png")).toDS()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.decoded)
    assert(f.width === 40 && f.height === 20)
    // mean R and mean B each ~0.5 of max, mean G = 0; aspect ratio 2.0
    assert(math.abs(f.feature(0) - 0.5f) < 0.03f)
    assert(f.feature(1) === 0.0f)
    assert(math.abs(f.feature(2) - 0.5f) < 0.03f)
    assert(math.abs(f.feature(6) - 2.0f) < 1e-6f)
    // determinism of the real path
    val again = Multimodal.extractFeatures(media).collect().head
    assert(f.feature.toSeq === again.feature.toSeq)

    // corrupt tail: ImageIO rejects it -> falls back, marked
    val broken = Seq(Multimodal.MediaRecord(2L, "image",
      png.take(30) ++ Array.fill(10)(0.toByte), "mem://broken.png")).toDS()
    assert(!Multimodal.extractFeatures(broken).collect().head.decoded)
  }

  test("multimodal: real resize — bounding box honored, re-decodable PNG, fallback marked") {
    // 80x40 gradient image; resize into a 20px box -> 20x10 output.
    val img = new java.awt.image.BufferedImage(80, 40, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 40; x <- 0 until 80) img.setRGB(x, y, (x * 3) << 16 | (y * 6))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png, "mem://big.png"),
      Multimodal.MediaRecord(2L, "audio", Array.fill(100)(7.toByte), "mem://a.wav")
    ).toDS()
    val out = Multimodal.resizeImages(media, maxDim = 20).collect()
      .map(r => r.asset_id -> r).toMap
    val r1 = out(1L)
    assert(r1.resized && r1.width === 20 && r1.height === 10)
    // the payload is a REAL png of the new size — ImageIO round-trips it
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r1.payload))
    assert(back.getWidth === 20 && back.getHeight === 10)
    // non-image pass-through: byte-identical, marked
    val r2 = out(2L)
    assert(!r2.resized && r2.payload.toSeq === Array.fill(100)(7.toByte).toSeq)
    // already-inside-the-box images keep their original bytes
    val small = Multimodal.resizeImages(
      Seq(Multimodal.MediaRecord(3L, "image", png, "mem://same.png")).toDS(),
      maxDim = 500).collect().head
    assert(small.resized && small.width === 80 && small.payload.toSeq === png.toSeq)
  }

  test("multimodal: real WAV decodes via javax.sound — true rate/duration/RMS") {
    // 0.5s mono 8kHz sine at amplitude 0.5 -> RMS = 0.5/sqrt(2), peak ~0.5.
    def wav(rate: Float, seconds: Double, amp: Double, freq: Double): Array[Byte] = {
      val n = (rate * seconds).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toInt.toShort
        pcm(2 * i) = (s & 0xFF).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val good = wav(8000f, 0.5, 0.5, 440.0)
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", good, "mem://tone.wav"),
      Multimodal.MediaRecord(2L, "audio", good.take(20) ++ Array.fill(30)(9.toByte),
        "mem://broken.wav")).toDS()
    val out = Multimodal.extractAudioFeatures(media).collect()
      .map(f => f.asset_id -> f).toMap
    val f1 = out(1L)
    assert(f1.decoded)
    assert(f1.sample_rate === 8000 && f1.channels === 1)
    assert(f1.frames === 4000L)
    assert(math.abs(f1.duration_sec - 0.5) < 1e-9)
    assert(math.abs(f1.rms - 0.5 / math.sqrt(2)) < 0.01)
    assert(math.abs(f1.peak - 0.5) < 0.01)
    // corrupt payload: marked fallback, mirroring the image path
    assert(!out(2L).decoded)
    // determinism of the real path
    val again = Multimodal.extractAudioFeatures(media).collect()
      .map(f => f.asset_id -> f).toMap
    assert(f1.rms === again(1L).rms && f1.frames === again(1L).frames)
  }

  test("multimodal: real frame extraction from an animated GIF; frames feed the image path") {
    // build a 3-frame animated GIF in-JDK (distinct solid colors)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF)
    colors.foreach { c =>
      val img = new java.awt.image.BufferedImage(16, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16) img.setRGB(x, y, c)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray

    val media = Seq(
      Multimodal.MediaRecord(1L, "video", gif, "mem://anim.gif"),
      Multimodal.MediaRecord(2L, "video", Array.fill(64)(3.toByte), "mem://fake.mp4")
    ).toDS()
    val frames = Multimodal.sampleFrames(media, everyNth = 1).collect()
    val real = frames.filter(_.asset_id == 1L).sortBy(_.frame_idx)
    assert(real.length === 3 && real.forall(_.decoded))
    assert(real.forall(f => f.n_frames === 3 && f.width === 16 && f.height === 8))
    // the frames ARE images: the existing image codec decodes them with
    // the planted colors (frame 0 pure red -> mean R ~1, G/B 0)
    val asImages = real.zipWithIndex.map { case (f, i) =>
      Multimodal.MediaRecord(10L + i, "image", f.frame_png, s"mem://f$i.png") }
    val feats = Multimodal.extractFeatures(asImages.toSeq.toDS()).collect()
      .sortBy(_.asset_id)
    assert(feats.forall(_.decoded))
    assert(feats(0).feature(0) > 0.9f && feats(0).feature(1) < 0.1f) // red
    assert(feats(1).feature(1) > 0.9f)                               // green
    assert(feats(2).feature(2) > 0.9f)                               // blue
    // every-2nd sampling keeps frames 0 and 2
    assert(Multimodal.sampleFrames(media.filter(_.asset_id == 1L), everyNth = 2)
      .collect().map(_.frame_idx).sorted.toSeq === Seq(0, 2))
    // the undecodable payload takes ONE marked fallback row
    val fake = frames.filter(_.asset_id == 2L)
    assert(fake.length === 1 && !fake.head.decoded && fake.head.n_frames === 0)
  }

  test("multimodal: binaryFile dir scan -> typed records -> features, end to end") {
    val dir = Files.createTempDirectory("media")
    (1 to 5).foreach { i =>
      Files.write(dir.resolve(s"img_$i.png"), Array.fill(50 * i)(i.toByte))
    }
    Files.writeString(dir.resolve("notes.txt"), "not an image")
    val media = Multimodal.readMediaDir(spark, dir.toString, "*.png", "image")
    assert(media.count() === 5)                        // glob excluded the txt
    val feats = Multimodal.extractFeatures(media.as[Multimodal.MediaRecord]).collect()
    assert(feats.length === 5)
    assert(feats.map(_.byte_len).sorted.toSeq === Seq(50L, 100L, 150L, 200L, 250L))
    assert(feats.map(_.asset_id).distinct.length === 5)
  }

  test("multimodal: chunk sampling splits payloads distributively") {
    val media = Seq((1L, "video", Array.fill(1000)(7.toByte)))
      .toDF("asset_id", "media_type", "payload")
    val chunks = Multimodal.sampleChunks(media, chunkBytes = 256, everyNth = 1).collect()
    assert(chunks.length === 4)   // ceil(1000/256)
    assert(chunks.map(_.getAs[Array[Byte]]("chunk").length).toSeq === Seq(256, 256, 256, 232))
  }
}

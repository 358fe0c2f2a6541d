package graft

import org.apache.spark.sql.{functions => F}

import graft.operators._
import graft.streaming.Streams

/** Specs for the training-data-pipeline operators. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"), // near dup of 0
    (3L, "completely different content about spark engines"),
    (4L, "THE  Quick   Brown Fox jumps over the lazy dog") // normalized dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates") {
    val out = Dedup.exact(docs, "text", "doc_id").collect()
    val byFp = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byFp(0L) == 3L) // docs 0,1,4 share a fingerprint; keeper is min id
    assert(byFp(2L) == 1L)
    assert(byFp(3L) == 1L)
  }

  test("jaccard of identical sets is 1, disjoint is 0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d")))
      .toDF("x", "y", "z")
    val r = df.select(
      Dedup.jaccard(F.col("x"), F.col("y")),
      Dedup.jaccard(F.col("x"), F.col("z"))).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("minhash LSH finds near-duplicates without cross join") {
    // r=2 keeps band-collision probability high at the 0.5 threshold
    // (the sharper r=8 default is tuned for >=0.8 near-dups)
    val out = Dedup.minhashLsh(docs, "text", "doc_id",
      numBands = 8, rowsPerBand = 2, shingleN = 1, threshold = 0.5).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical docs always collide
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
  }

  test("spreadForCompute compares input splits with the cores, not the shuffle width") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def spreads(df: org.apache.spark.sql.DataFrame): Boolean =
      Dedup.spreadForCompute(df).queryExecution.sparkPlan.exists {
        case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    val corpus = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    corpus.repartition(4).write.parquet(s"$dir/four")
    corpus.coalesce(1).write.parquet(s"$dir/one")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      assert(spark.sparkContext.defaultParallelism == 4)
      val four = spark.read.parquet(s"$dir/four")
      assert(four.rdd.getNumPartitions == 4)
      assert(!spreads(four)) // as wide as the cores: read as split
      assert(spreads(spark.read.parquet(s"$dir/one")))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("reliable checkpointing yields identical LSH pairs and clusters") {
    // reliable = true swaps executor-local checkpoint blocks for real
    // checkpoint files under SparkContext.setCheckpointDir — the
    // fault-tolerant staging a multi-hour 100 TB job wants. Results must
    // be bit-identical to the local-checkpoint default on every path
    // (minhashLsh staging, clusters probe, distributed propagation).
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      def pairSet(reliable: Boolean) =
        Dedup.minhashLsh(docs, "text", "doc_id", numBands = 8,
            rowsPerBand = 2, shingleN = 1, threshold = 0.5, reliable = reliable)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet(reliable = true) == pairSet(reliable = false))

      val chain = {
        import spark.implicits._
        (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      }
      def labels(reliable: Boolean, localThreshold: Int) =
        Dedup.clusters(chain, localThreshold = localThreshold, reliable = reliable)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(reliable = true, localThreshold = 0) ==
        labels(reliable = false, localThreshold = 0))
      assert(labels(reliable = true, localThreshold = 2000000)
        .values.forall(_ == 0L))
      // the LOCAL and DISTRIBUTED paths must agree on the OUTPUT
      // SCHEMA regardless of the input id type: which path ran was
      // data-size-dependent, so a type that varies with edge count
      // breaks appends/unions downstream
      val intChain = {
        import spark.implicits._
        (0 until 5).map(i => (i, i + 1)).toDF("id_a", "id_b")
      }
      def schemaOf(localThreshold: Int) =
        Dedup.clusters(intChain, localThreshold = localThreshold)
          .schema.fields.map(f => f.name -> f.dataType.sql).toSeq
      assert(schemaOf(2000000) == schemaOf(0),
        "local and distributed clusters() must emit one schema")
      // an EMPTY pair set through the distributed path returns the
      // empty assignment (it NPE'd on the null sum of an empty round)
      val empty = {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      }
      assert(Dedup.clusters(empty, localThreshold = 0).count() == 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("audio decode is REAL for WAV bytes (javax.sound): rate/channels/duration/RMS") {
    import javax.sound.sampled._
    // 1 second of a 440 Hz sine at half amplitude, 8 kHz mono 16-bit PCM
    val rate = 8000
    val samples = Array.tabulate(rate) { i =>
      (math.sin(2 * math.Pi * 440 * i / rate) * 16384).toShort
    }
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val wav = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm.array()),
        fmt, samples.length.toLong),
      AudioFileFormat.Type.WAVE, wav)

    val Some((sr, ch, dur, rms)) = Multimodal.decodeAudio(wav.toByteArray)
    assert(sr == 8000 && ch == 1)
    assert(math.abs(dur - 1.0) < 1e-9)
    // RMS of a half-amplitude sine is 0.5/sqrt(2) ≈ 0.35355 of full scale
    assert(math.abs(rms - 0.5 / math.sqrt(2.0)) < 1e-3, s"rms=$rms")

    // non-audio bytes are not decodable → stub path in audioFeatures
    assert(Multimodal.decodeAudio("not audio".getBytes("UTF-8")).isEmpty)

    // end-to-end through the partition loop: a real WAV row decodes,
    // a text-bytes row falls back to the stub, both flagged correctly
    val media = Seq(
      (1L, "audio", wav.toByteArray, wav.size().toLong),
      (2L, "audio", "plain text".getBytes("UTF-8"), 10L),
      (3L, "image", "not audio either".getBytes("UTF-8"), 16L)
    ).toDF("media_id", "kind", "payload", "n_bytes")
    val out = Multimodal.audioFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L)) // audio rows only
    assert(out(1L).getBoolean(6) && out(1L).getInt(2) == 8000)
    assert(!out(2L).getBoolean(6) && out(2L).getInt(2) == 16000)
  }

  test("video container metadata: real ISO-BMFF box parse, v1 layout, fallbacks") {
    // round-trip: write a minimal mp4, parse dims + duration back
    val mp4 = Multimodal.synthesizeMp4(640, 480, durationUnits = 2500L)
    assert(Multimodal.looksLikeMp4(mp4))
    assert(Multimodal.decodeVideoMeta(mp4).contains((640, 480, 2.5)))
    // version-1 mvhd/tkhd (64-bit times): patch versions + re-lay fields
    // by hand — mvhd v1 body is 12 bytes longer before timescale, tkhd
    // v1 is 12 longer before width
    val v1 = {
      val buf = java.nio.ByteBuffer.allocate(24 + 8 + 120 + 8 + 104)
      def box(size: Int, tag: String): Unit = {
        buf.putInt(size); buf.put(tag.getBytes("US-ASCII"))
      }
      box(24, "ftyp")
      buf.put("isom".getBytes("US-ASCII")).putInt(0x200)
        .put("isom".getBytes("US-ASCII")).put("mp42".getBytes("US-ASCII"))
      box(8 + 120 + 8 + 104, "moov")
      box(120, "mvhd")
      buf.putInt(0x01000000)           // version 1
        .putLong(0L).putLong(0L)       // 64-bit ctime/mtime
        .putInt(90000)                 // timescale
        .putLong(45000L)               // 64-bit duration → 0.5 s
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0).putLong(0L)
      buf.putInt(0x00010000).putInt(0).putInt(0)
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000)
      (0 until 6).foreach(_ => buf.putInt(0))
      buf.putInt(2)
      box(8 + 104, "trak")
      box(104, "tkhd")
      buf.putInt(0x01000007)           // version 1, enabled flags
        .putLong(0L).putLong(0L)       // 64-bit ctime/mtime
        .putInt(1).putInt(0)
        .putLong(45000L)               // 64-bit duration
        .putLong(0L).putShort(0).putShort(0).putShort(0).putShort(0)
      buf.putInt(0x00010000).putInt(0).putInt(0)
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000)
      buf.putInt(1920 << 16).putInt(1080 << 16)
      buf.array()
    }
    assert(Multimodal.decodeVideoMeta(v1).contains((1920, 1080, 0.5)))
    // non-container bytes → None; truncated container → None, no throw
    assert(Multimodal.decodeVideoMeta("plain text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeVideoMeta(mp4.take(40)).isEmpty)
    // dispatch: real parse for real containers, stub for synthetic bytes
    assert(Multimodal.decodePayload("video", mp4) == ((640, 480, 2.5)))
    val textBytes = "synthetic".getBytes("UTF-8")
    assert(Multimodal.decodePayload("video", textBytes) ==
      Multimodal.fakeDecode(textBytes))
    // distributed plumbing: synthesizeVideo → decode recovers the
    // id-derived metadata for every row
    val ids = Seq(0L, 7L, 599L, 1234L).toDF("doc_id")
    val dec = Multimodal.decode(Multimodal.synthesizeVideo(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(3), r.getInt(4), r.getDouble(5)))).toMap
    for (id <- Seq(0L, 7L, 599L, 1234L))
      assert(dec(id) == ((320 + (id % 16) * 16).toInt,
        (240 + (id % 9) * 16).toInt,
        (1000L + (id % 600) * 100L).toDouble / 1000L), s"id=$id")
  }

  test("animated-GIF frame walk: real multi-frame decode via ImageIO") {
    // the fixture writes N frames through the JDK's GIF sequence
    // writer; the walk must recover the exact geometry and frame count
    val gif = Multimodal.gifBytes(40, 24, nFrames = 4)
    assert(Multimodal.decodeGifFrames(gif).contains((40, 24, 4)))
    // single-frame GIFs (the static-image common case) count 1
    assert(Multimodal.decodeGifFrames(Multimodal.gifBytes(8, 8, 1))
      .contains((8, 8, 1)))
    // non-GIF and truncated bytes → None, never a throw
    assert(Multimodal.decodeGifFrames("nope".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeGifFrames(
      Multimodal.jpegBytes(16, 16)).isEmpty)
    assert(Multimodal.decodeGifFrames(gif.take(20)).isEmpty)
    // distributed plumbing: per-id geometry recovered for every row
    val ids = Seq(0L, 7L, 33L).toDF("doc_id")
    val out = Multimodal.decodeGifFrameStats(
        Multimodal.synthesizeGifs(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    for (id <- Seq(0L, 7L, 33L))
      assert(out(id) == ((8 + (id % 5) * 8).toInt,
        (8 + ((id * 7) % 3) * 8).toInt, (1 + id % 5).toInt), s"id=$id")
  }

  test("MJPEG frame decode: real JPEG samples out of a real sample table") {
    // the fixture writes N real JDK-encoded JPEGs into mdat plus the
    // full stsd/stts/stsc/stsz/stco table; the decoder must walk the
    // table to sample 0 and recover the EXACT encoded geometry
    val mjpeg = Multimodal.synthesizeMjpeg(48, 32, nFrames = 3)
    assert(Multimodal.decodeMjpegFrame(mjpeg).contains((48, 32, 3, "jpeg")))
    // container metadata decodes from the same bytes (tkhd/mvhd intact):
    // 3 frames x 40 units at timescale 1000 = 0.12 s
    assert(Multimodal.decodeVideoMeta(mjpeg).contains((48, 32, 0.12)))
    // a container WITHOUT a sample table (metadata-only skeleton) stays
    // with the stub path — no table, no frame claim
    val bare = Multimodal.synthesizeMp4(640, 480, durationUnits = 2500L)
    assert(Multimodal.decodeMjpegFrame(bare).isEmpty)
    // non-container and truncated bytes → None, never a throw
    assert(Multimodal.decodeMjpegFrame("nope".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeMjpegFrame(mjpeg.take(60)).isEmpty)
    // distributed plumbing: per-id dims/frames recovered for every row
    val ids = Seq(0L, 5L, 42L).toDF("doc_id")
    val out = Multimodal.decodeFrames(Multimodal.synthesizeMjpegVideo(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    for (id <- Seq(0L, 5L, 42L))
      assert(out(id) == (((16 + (id % 4) * 16).toInt,
        (16 + ((id * 3) % 5) * 16).toInt, (1 + id % 4).toInt, "jpeg")),
        s"id=$id")
  }

  test("H.264 SPS geometry: crop round-trip, padded container fields ignored") {
    // the classic 1080p case: 1920x1080 needs a bottom crop of 8 px
    // (68 map units * 16 = 1088) — the shape every real camera SPS has
    val sps1080 = Multimodal.spsBytes(1920, 1080, levelIdc = 40)
    assert(Multimodal.parseSpsGeometry(sps1080).contains((1920, 1080, 66, 40)))
    // uncropped and doubly-cropped shapes round-trip too
    assert(Multimodal.parseSpsGeometry(Multimodal.spsBytes(64, 32))
      .contains((64, 32, 66, 30)))
    assert(Multimodal.parseSpsGeometry(Multimodal.spsBytes(10, 10))
      .contains((10, 10, 66, 30)))
    // emulation prevention: geometry whose ue() run emits 00 00 0x must
    // survive the escape/unescape round trip (widths near 2^k produce
    // long zero runs in exp-Golomb)
    for (w <- Seq(16, 256, 4096, 2050); h <- Seq(16, 1024, 2, 34))
      assert(Multimodal.parseSpsGeometry(Multimodal.spsBytes(w, h))
        .contains((w, h, 66, 30)), s"${w}x$h")
    // non-SPS NAL types and truncated bytes -> None, never a throw
    assert(Multimodal.parseSpsGeometry(Array[Byte](0x68, 0xCE.toByte)).isEmpty)
    assert(Multimodal.parseSpsGeometry(sps1080.take(3)).isEmpty)
    // container walk: the fixture's tkhd/sample-entry fields carry the
    // PADDED size, so matching the display size proves the SPS parse
    val mp4 = Multimodal.synthesizeAvcMp4(150, 70, nFrames = 3, levelIdc = 31)
    assert(Multimodal.decodeAvcMeta(mp4).contains((150, 70, 66, 31, 3)))
    // ...while the tkhd-based metadata walk sees 160x80 (the padding)
    assert(Multimodal.decodeVideoMeta(mp4).map(m => (m._1, m._2))
      .contains((160, 80)))
    // the video dispatch prefers the SPS ground truth for AVC payloads
    assert(Multimodal.decodePayload("video", mp4)._1 == 150)
    // an MJPEG container has no avcC -> None; AVC walk skips it
    assert(Multimodal.decodeAvcMeta(
      Multimodal.synthesizeMjpeg(64, 48, 2)).isEmpty)
    assert(Multimodal.decodeAvcMeta("notmp4".getBytes("UTF-8")).isEmpty)
    // distributed plumbing: per-id stats, geometry = fixture arithmetic
    val ids = Seq(0L, 7L, 42L).toDF("doc_id")
    val out = Multimodal.decodeAvcStats(
        Multimodal.synthesizeAvcVideos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(5), r.getInt(6)))).toMap
    for (id <- Seq(0L, 7L, 42L))
      assert(out(id) == ((
        (16 * (1 + id % 4) - 2 * ((id * 7) % 4)).toInt,
        (16 * (1 + (id * 3) % 5) - 2 * ((id * 11) % 4)).toInt,
        (10 + (id % 5) * 10).toInt, (1 + id % 4).toInt)), s"id=$id")
  }

  test("HEVC SPS geometry: conformance window round-trip, hvcC NAL-array walk") {
    // 1080p in HEVC: luma 1920x1080 is already /8-aligned — no window
    assert(Multimodal.parseHevcSpsGeometry(
      Multimodal.hevcSpsBytes(1920, 1080, levelIdc = 120))
      .contains((1920, 1080, 1, 120)))
    // windowed shapes and emulation-prevention-prone sizes round-trip
    for (w <- Seq(16, 100, 256, 4096, 1282); h <- Seq(16, 70, 1024, 2))
      assert(Multimodal.parseHevcSpsGeometry(Multimodal.hevcSpsBytes(w, h))
        .contains((w, h, 1, 93)), s"${w}x$h")
    // non-SPS NAL types / truncated bytes -> None
    assert(Multimodal.parseHevcSpsGeometry(
      Array[Byte](0x40, 0x01, 0x0C)).isEmpty) // type 32 = VPS
    assert(Multimodal.parseHevcSpsGeometry(
      Multimodal.hevcSpsBytes(64, 64).take(4)).isEmpty)
    // container walk: padded tkhd/sample-entry fields (=104x40), display
    // size only recoverable via the conformance window
    val mp4 = Multimodal.synthesizeHevcMp4(100, 38, nFrames = 2, levelIdc = 90)
    assert(Multimodal.decodeHevcMeta(mp4).contains((100, 38, 1, 90, 2)))
    assert(Multimodal.decodeVideoMeta(mp4).map(m => (m._1, m._2))
      .contains((104, 40)))
    assert(Multimodal.decodePayload("video", mp4)._1 == 100)
    // cross-codec: the AVC walk skips hvc1 entries and vice versa
    assert(Multimodal.decodeAvcMeta(mp4).isEmpty)
    assert(Multimodal.decodeHevcMeta(
      Multimodal.synthesizeAvcMp4(64, 48, 1)).isEmpty)
    // distributed plumbing matches the fixture arithmetic
    val ids = Seq(1L, 9L, 30L).toDF("doc_id")
    val out = Multimodal.decodeHevcStats(
        Multimodal.synthesizeHevcVideos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(5), r.getInt(6)))).toMap
    for (id <- Seq(1L, 9L, 30L))
      assert(out(id) == ((
        (8 * (2 + id % 6) - 2 * ((id * 5) % 4)).toInt,
        (8 * (2 + (id * 7) % 5) - 2 * ((id * 3) % 4)).toInt,
        (60 + (id % 4) * 30).toInt, (1 + id % 3).toInt)), s"id=$id")
  }

  test("SRT cue explode: times, multi-line text, junk cues dropped") {
    val srt = "WEBVTT-like banner junk\n\n" + // no timecode: dropped
      "1\n00:00:01,500 --> 00:00:04,000\nHello there\n\n" +
      "2\n01:02:03,250 --> 01:02:05,000\nline one\nline two\n\n" +
      "trailing junk"
    val out = Multimodal.explodeSrtCues(
        Seq((7L, srt)).toDF("doc_id", "srt"), "srt")
      .select("cue_index", "start_ms", "end_ms", "cue_text")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(out.toSeq == Seq(
      (1, 1500L, 4000L, "Hello there"),
      (2, 3723250L, 3725000L, "line one line two")))
    // CRLF line endings parse identically
    val crlf = srt.replace("\n", "\r\n")
    assert(Multimodal.explodeSrtCues(
      Seq((7L, crlf)).toDF("doc_id", "srt"), "srt").count() == 2)
  }

  test("compressed-audio metadata: FLAC STREAMINFO, MP3 frame walk") {
    // FLAC round trip incl. a >32-bit total-samples value
    assert(Multimodal.decodeFlacMeta(
      Multimodal.flacBytes(44100, 2, 16, 5000000000L))
      .contains((44100, 2, 16, 5000000000L)))
    assert(Multimodal.decodeFlacMeta(
      Multimodal.flacBytes(8000, 1, 24, 0L)).contains((8000, 1, 24, 0L)))
    assert(Multimodal.decodeFlacMeta("fLaX nope".getBytes("UTF-8")).isEmpty)
    // MP3: first-frame params + exact frame count through the walk
    val m = Multimodal.mp3Bytes(bitrateIdx = 9, rateIdx = 0, mono = true,
      nFrames = 7)
    assert(Multimodal.decodeMp3Meta(m).contains((44100, 1, 128, 7)))
    // stereo + different rate, no ID3 tag
    val st = Multimodal.mp3Bytes(2, 1, mono = false, nFrames = 3, id3Size = 0)
    assert(Multimodal.decodeMp3Meta(st).contains((48000, 2, 40, 3)))
    // a truncated tail salvages the complete-frame prefix count
    assert(Multimodal.decodeMp3Meta(m.take(m.length - 10))
      .contains((44100, 1, 128, 6)))
    assert(Multimodal.decodeMp3Meta("not mp3".getBytes("UTF-8")).isEmpty)
    // distributed stats match the fixture arithmetic for both codecs
    val ids = Seq(2L, 7L, 24L).toDF("doc_id")
    val out = Multimodal.decodeAudioMetaStats(
        Multimodal.synthesizeCompressedAudio(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    val flacRates = Array(44100, 48000, 32000, 22050, 16000)
    assert(out(2L) == (("flac", flacRates(2), 2,
      (1000 + 2 * 37) * 1000L / flacRates(2))))
    assert(out(24L) == (("flac", flacRates(4), 1,
      (1000 + 24 * 37) * 1000L / flacRates(4))))
    assert(out(7L) == (("mp3", 48000, 2, (3 + 7 % 5) * 1152 * 1000L / 48000)))
  }

  test("EXIF orientation: APP1 walk, rotation swap, EXIF-less default") {
    // every orientation round-trips through the spliced APP1 segment,
    // and the JPEG still decodes (the splice must not corrupt markers)
    for (o <- 1 to 8) {
      val p = Multimodal.jpegBytesWithExif(64, 32, o)
      assert(Multimodal.exifOrientation(p).contains(o), s"o=$o")
      assert(Multimodal.decodeImage(p).contains((64, 32)), s"o=$o decode")
    }
    // a plain encoder JPEG has no EXIF -> None (callers default to 1)
    assert(Multimodal.exifOrientation(Multimodal.jpegBytes(32, 32)).isEmpty)
    // big-endian TIFF (MM) parses too: flip the fixture's byte order
    val le = Multimodal.jpegBytesWithExif(32, 32, 6)
    val exifAt = {
      val needle = "Exif".getBytes("US-ASCII")
      (0 until le.length - 4).find(i =>
        needle.indices.forall(j => le(i + j) == needle(j))).get
    }
    val tiff = exifAt + 6
    val be = le.clone()
    // II,42le,8le / 1 entry / tag,type,count,value all byte-swapped
    def swap16(o: Int): Unit = { val t = be(o); be(o) = be(o + 1); be(o + 1) = t }
    def swap32(o: Int): Unit = {
      val a = be(o); val b2 = be(o + 1)
      be(o) = be(o + 3); be(o + 1) = be(o + 2); be(o + 2) = b2; be(o + 3) = a
    }
    be(tiff) = 'M'.toByte; be(tiff + 1) = 'M'.toByte
    swap16(tiff + 2); swap32(tiff + 4)      // 42, ifd0 offset
    swap16(tiff + 8)                        // entry count
    swap16(tiff + 10); swap16(tiff + 12)    // tag, type
    swap32(tiff + 14); swap16(tiff + 18)    // count, SHORT value
    swap32(tiff + 22)                       // next-IFD offset
    assert(Multimodal.exifOrientation(be).contains(6))
    // truncated/garbage bytes -> None, never a throw
    assert(Multimodal.exifOrientation(le.take(8)).isEmpty)
    assert(Multimodal.exifOrientation("nope".getBytes("UTF-8")).isEmpty)
    // distributed stats: rotated orientations swap display dims
    val ids = Seq(0L, 4L, 7L).toDF("doc_id") // orientations 1, 5, 8
    val out = Multimodal.decodeExifStats(
        Multimodal.synthesizeExifImages(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    for (id <- Seq(0L, 4L, 7L)) {
      val w = (16 + (id % 4) * 16).toInt
      val h = (16 + ((id * 3) % 5) * 16).toInt
      val o = (1 + id % 8).toInt
      assert(out(id) == ((o, if (o >= 5) h else w, if (o >= 5) w else h)),
        s"id=$id")
    }
  }

  test("orientation normalization: all 8 transforms recover the displayed pixels") {
    // asymmetric 4x2 pattern; for each orientation, store the pattern
    // pre-transformed with the INVERSE transform and check that
    // normalizeOrientation recovers it exactly
    val w = 4; val h = 2
    val base = Array(Array(10, 20, 30, 40), Array(50, 60, 70, 80))
    def img(px: (Int, Int) => Int, iw: Int, ih: Int) = {
      val im = new java.awt.image.BufferedImage(iw, ih,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until ih; x <- 0 until iw)
        im.getRaster.setSample(x, y, 0, px(x, y))
      im
    }
    val displayed = img((x, y) => base(y)(x), w, h)
    // stored-pixel functions per orientation (the camera's transform)
    val stored: Map[Int, java.awt.image.BufferedImage] = Map(
      1 -> displayed,
      2 -> img((x, y) => base(y)(w - 1 - x), w, h),
      3 -> img((x, y) => base(h - 1 - y)(w - 1 - x), w, h),
      4 -> img((x, y) => base(h - 1 - y)(x), w, h),
      5 -> img((x, y) => base(x)(y), h, w),          // transpose
      6 -> img((x, y) => base(x)(w - 1 - y), h, w),  // displayed rot CCW
      7 -> img((x, y) => base(h - 1 - x)(w - 1 - y), h, w),
      8 -> img((x, y) => base(h - 1 - x)(y), h, w))  // displayed rot CW
    for (o <- 1 to 8) {
      val out = Multimodal.normalizeOrientation(stored(o), o)
      assert(out.getWidth == w && out.getHeight == h, s"o=$o dims")
      for (y <- 0 until h; x <- 0 until w)
        assert(out.getRaster.getSample(x, y, 0) == base(y)(x),
          s"o=$o pixel ($x,$y)")
    }
    // the rotated-pair fixture: plain hashes differ, oriented agree
    val media = Multimodal.synthesizeRotatedPairs(Seq(5L).toDF("doc_id"), "doc_id")
    val plain = Multimodal.imageAHashes(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    val orient = Multimodal.imageAHashesOriented(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(plain(10L) != plain(11L))
    assert(orient(10L) == orient(11L))
  }

  test("AV1 sequence header: OBU round-trip, tier branch, lying container fields") {
    // arbitrary (uncropped) geometry round-trips through the explicit
    // bit-width encoding, including powers of two and tiny sizes
    for ((w, h) <- Seq((1920, 1080), (17, 23), (256, 2), (4096, 1), (100, 77)))
      assert(Multimodal.parseAv1SequenceHeader(
        Multimodal.av1SequenceHeaderObu(w, h)).contains((w, h, 0, 8)),
        s"${w}x$h")
    // profile and level (tier branch fires above 7) carry through
    assert(Multimodal.parseAv1SequenceHeader(
      Multimodal.av1SequenceHeaderObu(640, 360, profile = 2, levelIdx = 5))
      .contains((640, 360, 2, 5)))
    assert(Multimodal.parseAv1SequenceHeader(
      Multimodal.av1SequenceHeaderObu(640, 360, profile = 1, levelIdx = 12))
      .contains((640, 360, 1, 12)))
    // non-sequence-header OBU types and truncated bytes -> None
    assert(Multimodal.parseAv1SequenceHeader(
      Array(0x32.toByte, 0x01.toByte, 0x00.toByte)).isEmpty) // type 6
    assert(Multimodal.parseAv1SequenceHeader(
      Multimodal.av1SequenceHeaderObu(640, 360).take(2)).isEmpty)
    // container walk: tkhd/sample-entry fields lie by +16, the OBU wins
    val mp4 = Multimodal.synthesizeAv1Mp4(200, 113, nFrames = 2,
      profile = 1, levelIdx = 9)
    assert(Multimodal.decodeAv1Meta(mp4).contains((200, 113, 1, 9, 2)))
    assert(Multimodal.decodeVideoMeta(mp4).map(m => (m._1, m._2))
      .contains((216, 129)))
    assert(Multimodal.decodePayload("video", mp4)._1 == 200)
    // cross-codec: the AVC/HEVC walks skip av01 and vice versa
    assert(Multimodal.decodeAvcMeta(mp4).isEmpty)
    assert(Multimodal.decodeAv1Meta(
      Multimodal.synthesizeAvcMp4(64, 48, 1)).isEmpty)
    // distributed plumbing matches the fixture arithmetic
    val ids = Seq(2L, 11L, 47L).toDF("doc_id")
    val out = Multimodal.decodeAv1Stats(
        Multimodal.synthesizeAv1Videos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    for (id <- Seq(2L, 11L, 47L))
      assert(out(id) == ((
        (17 + (id % 50) * 3).toInt, (23 + ((id * 7) % 40) * 2).toInt,
        (id % 3).toInt, (id % 12).toInt)), s"id=$id")
  }

  test("WebM EBML walk: geometry, codec, duration; malformed bytes safe") {
    val vp9 = Multimodal.synthesizeWebm(640, 360, "V_VP9", 2500.0)
    assert(Multimodal.decodeWebmMeta(vp9).contains((640, 360, "V_VP9", 2.5)))
    val av1 = Multimodal.synthesizeWebm(1920, 1080, "V_AV1", 500.0)
    assert(Multimodal.decodeWebmMeta(av1).contains((1920, 1080, "V_AV1", 0.5)))
    // an UNKNOWN-SIZE Segment (streamed/live muxing: all size bits set)
    // must still walk — patch the Segment's size varint to 0x01FF...FF
    val streamed = vp9.clone()
    val segIdx = {
      val needle = Array(0x18, 0x53, 0x80, 0x67).map(_.toByte)
      (0 until streamed.length - 4).find(i =>
        needle.indices.forall(j => streamed(i + j) == needle(j))).get
    }
    // original size varint is 1 byte (0x80|n); an 8-byte unknown-size
    // varint needs the bytes after it shifted — rebuild instead
    val body = java.util.Arrays.copyOfRange(streamed, segIdx + 5, streamed.length)
    val unknown = java.util.Arrays.copyOfRange(streamed, 0, segIdx + 4) ++
      Array(0x01.toByte) ++ Array.fill(7)(0xFF.toByte) ++ body
    assert(Multimodal.decodeWebmMeta(unknown).contains((640, 360, "V_VP9", 2.5)))
    // malformed/truncated/non-EBML bytes -> None, never a throw
    assert(Multimodal.decodeWebmMeta(vp9.take(20)).isEmpty)
    assert(Multimodal.decodeWebmMeta("not webm at all".getBytes("UTF-8")).isEmpty)
    // the video dispatch picks the EBML path up for webm payloads
    assert(Multimodal.decodePayload("video", vp9) == ((640, 360, 2.5)))
    // distributed plumbing matches the fixture arithmetic
    val ids = Seq(0L, 3L, 25L).toDF("doc_id")
    val out = Multimodal.decodeWebmStats(
        Multimodal.synthesizeWebmVideos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    for (id <- Seq(0L, 3L, 25L))
      assert(out(id) == ((
        if (id % 2 == 0) "V_VP9" else "V_AV1",
        (32 + (id % 7) * 16).toInt, (24 + ((id * 3) % 6) * 16).toInt,
        (1000 + (id % 10) * 500) / 1000.0)), s"id=$id")
  }

  test("VP9 uncompressed-header geometry: all four profiles round-trip, " +
       "container lies are overruled, non-keyframes and garbage are safe") {
    // header round-trip across every profile branch (3's reserved bit,
    // >=2's bit-depth bit, 1/3's subsampling bits)
    for (prof <- 0 to 3) {
      val hdr = Multimodal.vp9KeyframeHeader(1921, 1083, prof)
      assert(Multimodal.parseVp9KeyframeHeader(hdr)
        .contains((1921, 1083, prof)), s"profile $prof")
    }
    // the WebM fixture's container claims +16 px; the cluster walk must
    // land the bitstream's truth
    val webm = Multimodal.synthesizeVp9Webm(631, 353, 1500.0, profile = 2)
    assert(Multimodal.decodeVp9Meta(webm).contains((631, 353, 2)))
    assert(Multimodal.decodeWebmMeta(webm)
      .contains((631 + 16, 353 + 16, "V_VP9", 1.5)), "container still lies")
    // header-only WebM (no cluster) has no bitstream to parse
    val bare = Multimodal.synthesizeWebm(640, 360, "V_VP9", 1000.0)
    assert(Multimodal.decodeVp9Meta(bare).isEmpty)
    // an inter frame (frame_type=1) carries no frame_size -> None
    val inter = {
      val k = Multimodal.vp9KeyframeHeader(64, 64, 0)
      // profile-0 byte 0 is marker(2) low(1) high(1) show_existing(1)
      // frame_type(1) show(1) err(1) -> frame_type is mask 0x04
      k(0) = (k(0) ^ 0x04).toByte
      k
    }
    assert(Multimodal.parseVp9KeyframeHeader(inter).isEmpty)
    assert(Multimodal.parseVp9KeyframeHeader(Array[Byte](0x12, 0x34)).isEmpty)
    assert(Multimodal.decodeVp9Meta("junk".getBytes("UTF-8")).isEmpty)
    // distributed plumbing matches the fixture arithmetic
    val ids = Seq(0L, 7L, 42L).toDF("doc_id")
    val out = Multimodal.decodeVp9Stats(
        Multimodal.synthesizeVp9Videos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    for (id <- Seq(0L, 7L, 42L))
      assert(out(id) == ((
        (17 + (id % 50) * 3).toInt, (23 + ((id * 7) % 40) * 2).toInt,
        (id % 4).toInt)), s"id=$id")
  }

  test("AVI first-frame decode: MJPEG and raw BI_RGB fourcc paths") {
    // MJPEG-in-AVI: real JPEG chunks; decoded geometry must be the
    // encoder's (a header-only read could not distinguish a lying strf)
    val mj = Multimodal.aviBytes(64, 48, nFrames = 3, mjpeg = true)
    assert(Multimodal.decodeAviFrame(mj)
      .contains((64, 48, 3, "MJPG", -1.0, 3.0 / 25)))
    // raw BI_RGB: dims from BITMAPINFOHEADER; the first frame is filled
    // with byte 200, so the exact mean is 200.0
    val raw = Multimodal.aviBytes(32, 16, nFrames = 2, mjpeg = false, fill = 200)
    assert(Multimodal.decodeAviFrame(raw)
      .contains((32, 16, 2, "DIB ", 200.0, 2.0 / 25)))
    // an audio strl with an ODD declared LIST size (pad byte outside
    // the size — legal RIFF) precedes the video strl: the walker must
    // pad-align when stepping over it, or the decodable track is lost
    val oddAudio = Multimodal.aviBytes(32, 16, nFrames = 2, mjpeg = false,
      fill = 200, oddAudioStrl = true)
    assert(Multimodal.decodeAviFrame(oddAudio)
      .contains((32, 16, 2, "DIB ", 200.0, 2.0 / 25)))
    // a codec the JDK cannot decode -> None (the stub's honest domain):
    // flip the compression fourcc + handler of a raw file to 'cvid'
    val alien = raw.clone()
    def put(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (b, i) => alien(off + i) = b }
    val strfIdx = {
      // locate 'strf' and overwrite biCompression (strf data + 16)
      val needle = "strf".getBytes("US-ASCII")
      (0 until alien.length - 4).find(i => needle.indices.forall(j => alien(i + j) == needle(j))).get
    }
    put(strfIdx + 8 + 16, "cvid")
    val strhIdx = {
      val needle = "strh".getBytes("US-ASCII")
      (0 until alien.length - 4).find(i => needle.indices.forall(j => alien(i + j) == needle(j))).get
    }
    put(strhIdx + 8 + 4, "cvid")
    assert(Multimodal.decodeAviFrame(alien).isEmpty)
    // ...but decodePayload still yields a row for it via the stub
    assert(Multimodal.decodePayload("video", alien) ==
      Multimodal.fakeDecode(alien))
    // non-AVI / truncated bytes -> None, never a throw
    assert(Multimodal.decodeAviFrame("RIFFnope".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAviFrame(mj.take(40)).isEmpty)
    // decodePayload's video dispatch covers BOTH container families
    assert(Multimodal.decodePayload("video", mj) == ((64, 48, 3.0 / 25)))
    // distributed plumbing: per-id stats for a mixed MJPEG/raw corpus
    val ids = Seq(2L, 5L, 40L).toDF("doc_id")
    val out = Multimodal.decodeAviFrameStats(
        Multimodal.synthesizeAviVideos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getDouble(5)))).toMap
    for (id <- Seq(2L, 5L, 40L)) {
      val exp = ((if (id % 2 == 0) "MJPG" else "DIB"),
        (16 + (id % 4) * 16).toInt, (16 + ((id * 3) % 5) * 16).toInt,
        (1 + id % 4).toInt,
        if (id % 2 == 0) -1.0 else ((id * 13) % 251).toDouble)
      assert(out(id) == exp, s"id=$id")
    }
  }

  test("classifier quality: integer logit equals hand-derived embedding dot") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "gamma")).toDF("doc_id", "text")
    // weights = e_0 selector: logit must equal the micro-unit value of
    // embedding component 0 (plus exactness: empty text → 0, keep=false)
    val w = Seq.tabulate(32)(i => if (i == 0) 1L else 0L)
    val out = TextAnalysis.classifierQuality(docs, "text", "doc_id", w)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val emb = docs.select(F.col("doc_id"),
        TextAnalysis.hashEmbedding(F.col("text"), 32).as("e"))
      .collect().map(r => r.getLong(0) ->
        math.round(r.getSeq[Double](1).head * 1e6)).toMap
    for (id <- Seq(1L, 3L))
      assert(out(id) == ((emb(id), emb(id) > 0L)), s"id=$id")
    assert(out(2L) == ((0L, false))) // empty text: zero vector, dropped
    // negated weights flip every keep decision — pure sign arithmetic
    val outNeg = TextAnalysis.classifierQuality(docs, "text", "doc_id",
      w.map(-_)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- Seq(1L, 2L, 3L)) assert(outNeg(id) == -out(id)._1)
  }

  test("classifier training: centroid model separates a separable " +
    "corpus and the score arithmetic matches a hand-derived model") {
    // two disjoint vocabularies — the centroids differ in exactly the
    // buckets each vocabulary hashes to, so the learned model must
    // classify its own training set perfectly
    val docs = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "alpha beta alpha gamma", 1L)
      else (i, "delta epsilon zeta", -1L)
    }.toDF("doc_id", "text", "y")
    val (w, t) = TextAnalysis.classifierTrain(docs, "text", "y", dim = 16)
    assert(w.length == 16)
    val out = TextAnalysis.classifierScore(docs, "text", "doc_id", "y",
      w.toSeq, t).collect()
    assert(out.length == 40)
    assert(out.forall(r => r.getBoolean(3) == (r.getLong(1) == 1L)),
      "a separable two-vocabulary corpus must classify perfectly")
    // hand-derive: every even doc is identical, every odd doc is
    // identical, so each class mean IS its document vector and the
    // midpoint score is symmetric: score(pos doc) = -score(neg doc)
    val s = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s(0L) == -s(1L))
    assert(s(0L) > 0 && s(1L) < 0)
    // one-class corpora have no boundary: loud error, not garbage
    val oneClass = Seq((1L, "alpha", 1L)).toDF("doc_id", "text", "y")
    intercept[IllegalArgumentException](
      TextAnalysis.classifierTrain(oneClass, "text", "y", dim = 16))
  }

  test("classifier training: learns the length-quality label on the " +
    "documents fixture (the q321 construction)") {
    assume(new java.io.File(
      "/root/testdata/sf0.01/documents.parquet").exists())
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .withColumn("y", F.when(
        TextAnalysis.tokenCount(F.col("text")) >= 60, 1L).otherwise(-1L))
    val (w, t) = TextAnalysis.classifierTrain(docs, "text", "y", dim = 32)
    val out = TextAnalysis.classifierScore(docs, "text", "doc_id", "y",
      w.toSeq, t)
    val (hits, n) = out.select(
        F.sum(F.when(F.col("pred") === (F.col("label") === 1L), 1L)
          .otherwise(0L)), F.count(F.lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(n > 0)
    assert(hits.toDouble / n > 0.9,
      s"centroid model should distill the length heuristic: $hits/$n")
  }

  test("duplicated n-gram removal: hand-computed coverage, rebuild, pass-through") {
    // docs 1 and 2 share the 3-gram "a b c" (and its overlapping
    // shifts); doc 3 is untouched; doc 4 is shorter than n
    val docs = Seq(
      (1L, "x a b c y"),
      (2L, "a b c z w"),
      (3L, "p q r s t"),
      (4L, "u v")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedNgrams(docs, "text", "doc_id",
      n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // shared gram "a b c": doc 1 covers positions 1-3, doc 2 positions 0-2
    assert(out(1L) == (("x y", 3L)))
    assert(out(2L) == (("z w", 3L)))
    assert(out(3L) == (("p q r s t", 0L)))  // no shared grams
    assert(out(4L) == (("u v", 0L)))        // shorter than n: pass-through
    // a gram repeated WITHIN one doc only does not count as duplicated
    val solo = Seq((1L, "a b c d a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val soloOut = Dedup.removeDuplicatedNgrams(solo, "text", "doc_id",
      n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(soloOut == Map(1L -> 0L, 2L -> 0L))
  }

  test("duplicated n-gram removal: a null-id doc casts no vote at any minDocs") {
    // docs 1 and 2 share "a b c" with the null-id doc: only 2 non-null
    // docs hold it. Doc 3 shares "q r s" with the null-id doc alone.
    val withNull = Seq(
      (Some(1L), "a b c x"),
      (Some(2L), "y a b c"),
      (Some(3L), "q r s t"),
      (None, "a b c q r s")
    ).toDF("doc_id", "text")
    val nonNull = withNull.filter(F.col("doc_id").isNotNull)
    def removals(df: org.apache.spark.sql.DataFrame, minDocs: Int) =
      Dedup.removeDuplicatedNgrams(df, "text", "doc_id", n = 3, minDocs = minDocs)
        .collect().map(r => (Option(r.get(0)), r.getString(1), r.getLong(2))).toSet
    Seq(2, 3).foreach { minDocs =>
      val got = removals(withNull, minDocs)
      assert(got.filter(_._1.nonEmpty) == removals(nonNull, minDocs),
        s"minDocs = $minDocs")
      // the null-id doc itself passes through untouched
      assert(got.filter(_._1.isEmpty) == Set((None, "a b c q r s", 0L)))
    }
    // "a b c" is in 2 non-null docs: removed at minDocs = 2 only
    assert(removals(nonNull, 2).map(r => r._1 -> r._3).toMap ==
      Map(Some(1L) -> 3L, Some(2L) -> 3L, Some(3L) -> 0L))
    assert(removals(nonNull, 3).forall(_._3 == 0L))
  }

  /** The composable reference form of [[Dedup.removeDuplicatedNgrams]]:
    * marked starts collected per id and joined back, then a per-row
    * lambda rebuild over the token array (`flatten∘transform∘sequence`,
    * `array_except`, `transform(element_at)`, `concat_ws`). The native
    * `drop_ngrams`/`drop_spans` plans must equal it on unique ids. */
  private def dupNgramsComposable(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, n: Int,
      minDocs: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    val base = df.select(F.col(idCol).as("id"),
      TextAnalysis.tokens(F.coalesce(F.col(textCol), F.lit(""))).as("toks"))
    val grams = base
      .filter(F.col("id").isNotNull && F.size(F.col("toks")) >= n)
      .select(F.col("id"), F.posexplode(F.call_function("gram_pos_hashes",
        F.col("toks"), F.lit(n))).as(Seq("pos", "gram")))
    val dup = grams.select("gram", "id").distinct()
      .groupBy("gram").agg(F.count(F.lit(1)).as("_nd"))
      .filter(F.col("_nd") >= minDocs)
      .select("gram")
    val starts = grams.join(dup, "gram")
      .groupBy("id").agg(F.collect_list("pos").as("starts"))
    base.join(starts, Seq("id"), "left")
      .select(F.col("id"), F.col("toks"),
        F.coalesce(F.col("starts"), F.array().cast("array<int>")).as("st"))
      .select(F.col("id").as(idCol), F.col("toks"),
        F.flatten(F.transform(F.col("st"),
          (s: Column) => F.sequence(s, s + n - 1))).as("cov"))
      .select(F.col(idCol), F.col("toks"),
        F.when(F.size(F.col("toks")) > 0,
          F.transform(
            F.array_except(
              F.sequence(F.lit(0), F.size(F.col("toks")) - 1), F.col("cov")),
            (i: Column) => F.element_at(F.col("toks"), i + 1)))
          .otherwise(F.array().cast("array<string>")).as("kept"))
      .select(F.col(idCol),
        F.concat_ws(" ", F.col("kept")).as("clean_text"),
        (F.size(F.col("toks")) - F.size(F.col("kept")))
          .cast("long").as("n_removed"))
  }

  private def dupNgramRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      r.getString(1), r.getLong(2))).toSeq
      .sortBy { case (id, t, k) => (id.getOrElse(Long.MinValue), t, k) }

  /** Offline generated documents: tokens from a small vocabulary (ASCII,
    * mixed case, multi-byte unicode) copied in runs from three shared
    * base texts, so grams repeat across documents at every n; joined by
    * runs of spaces, tabs, newlines, `\x0B`, `\f` and `\r`. Null and
    * empty texts, short docs and null ids are all drawn. */
  private lazy val generatedDocs = {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Seq("a", "b", "Ab", "cc", "ünï", "cöde", "日本", "語", "🙂", "x")
    val rnd = new scala.util.Random(7L)
    val bases = Seq.fill(3)(Seq.fill(24)(vocab(rnd.nextInt(vocab.length))))
    val sep = Gen.oneOf(" ", " ", " ", "  ", "\t", "\n", "\u000B", "\t\t\n",
      " \u000B ", "\f", "\r\n")
    val words = Gen.oneOf(
      Gen.choose(0, 2).flatMap(b => Gen.choose(0, 14).flatMap(from =>
        Gen.choose(1, 10).map(len => bases(b).slice(from, from + len)))),
      Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, Gen.oneOf(vocab))))
    val text: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None), 1 -> Gen.const(Some("")),
      1 -> Gen.oneOf(" ", "\t\n", "\u000B").map(Some(_)),
      12 -> (for {
        parts <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, words))
        toks = parts.flatten
        seps <- Gen.listOfN(toks.length + 1, sep)
        lead <- Gen.oneOf(true, false)
        trail <- Gen.oneOf(true, false)
      } yield Some((if (lead) seps.last else "") + toks.zip(seps).map {
        case (t, s) => t + s }.mkString.dropRight(if (trail) 0 else 1))))
    // plus docs of unique tokens, single non-space separators and
    // nothing to drop: their rebuild still rewrites every separator
    val fixed = Seq("q1\tq2\nq3", "q4\u000Bq5 日本\t語q", "a\tb", "\t\t\n\u000B")
    ((1 to 80).map { i =>
      val t = text.pureApply(Gen.Parameters.default, Seed(42L + i))
      (if (i % 11 == 0) None else Some(i.toLong), t.orNull)
    } ++ fixed.zipWithIndex.map { case (t, j) => (Some(81L + j), t) })
      .toDF("doc_id", "text")
  }

  test("duplicated n-gram removal: the native rewrite and the shuffled " +
    "plan equal the composable reference row by row") {
    val docs = generatedDocs
    assert(docs.filter(F.col("doc_id").isNull).count() > 0)
    for (n <- Seq(1, 2, 3, 8); minDocs <- Seq(2, 3)) {
      val ref = dupNgramRows(dupNgramsComposable(docs, "text", "doc_id", n, minDocs))
      assert(ref.exists(_._3 > 0) && ref.exists(r => r._1.nonEmpty && r._3 == 0),
        s"n=$n minDocs=$minDocs: the inputs must both drop and keep")
      assert(dupNgramRows(Dedup.removeDuplicatedNgrams(docs, "text", "doc_id",
        n = n, minDocs = minDocs)) == ref, s"native, n=$n minDocs=$minDocs")
      assert(dupNgramRows(Dedup.removeDuplicatedNgramsShuffled(docs, "text",
        "doc_id", n, minDocs)) == ref, s"shuffled, n=$n minDocs=$minDocs")
    }
  }

  test("duplicated n-gram removal: two docs sharing an id each lose only " +
    "their own spans") {
    // "a b c" is held by ids 1 and 2. Both id-1 docs keep their own
    // text's positions: the second one holds no "a b c" and loses nothing
    val docs = Seq((1L, "a b c x"), (1L, "y z w v"), (2L, "q a b c"))
      .toDF("doc_id", "text")
    val want = Seq((Some(1L), "x", 3L), (Some(1L), "y z w v", 0L),
      (Some(2L), "q", 3L)).sortBy { case (id, t, k) => (id.get, t, k) }
    assert(dupNgramRows(Dedup.removeDuplicatedNgrams(docs, "text", "doc_id",
      n = 3)) == want)
    assert(dupNgramRows(Dedup.removeDuplicatedNgramsShuffled(docs, "text",
      "doc_id", 3, 2)) == want)
  }

  test("duplicated n-gram removal: at most 4 jobs, the vote labelled, " +
    "nothing left persisted") {
    val docs = generatedDocs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var rows = Seq.empty[(Option[Long], String, Long)]
    val jobs = jobsOf {
      rows = dupNgramRows(Dedup.removeDuplicatedNgrams(docs, "text", "doc_id", n = 3))
    }
    assert(rows.exists(_._3 > 0))
    assert(jobs.length <= 4, s"jobs: ${jobs.mkString(", ")}")
    assert(jobs.count(_ == "DEDUP: n-gram vote") >= 1, s"jobs: ${jobs.mkString(", ")}")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("image aHash: hand-computed bits on an 8x8 image; visual near-dups found") {
    // 8x8 image → 1x1 blocks, cells ARE the pixels: gradient 0..63,
    // mean = 31, bits set exactly where pixel > 31 (indices 32..63)
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 8)
      img.getRaster.setSample(x, y, 0, y * 8 + x)
    val h = Multimodal.aHash64(img)
    assert(h == (0xFFFFFFFFL << 32)) // top 32 bits set, bottom clear
    // the PNG fixtures are REAL images: magic bytes + ImageIO round-trip
    val fx = Multimodal.synthesizePatternPngs(
      Seq(0L, 40L, 1L).toDF("doc_id"), "doc_id", distinctPatterns = 40)
    val rows0 = fx.collect().map(r =>
      r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(Multimodal.looksLikeImage(rows0(0L)))
    assert(Multimodal.decodeImage(rows0(0L)).contains((16, 16)))
    // ids 0 and 40 share a pattern key: byte-identical PNGs, and the
    // near-dup pipeline pairs them at Hamming 0; id 1 differs
    assert(java.util.Arrays.equals(rows0(0L), rows0(40L)))
    val sigs = Multimodal.imageAHashes(fx)
      .select($"media_id", (F.shiftleft($"ahash_hi", 32)
        .bitwiseOR($"ahash_lo")).as("sig"))
    val pairs = Dedup.hammingPairs(sigs, "sig", "media_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((0L, 40L, 0)))
  }

  test("image dHash: hand-computed gradient bits; cross-check confirms true dups") {
    // 8x8 row-gradient image: cells are the pixels y*8+x, so within a
    // row the next cell is strictly brighter EXCEPT at the wraparound
    // column i=7 (cell(0,j) < cell(7,j)) → bits 0..6 set per row
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 8)
      img.getRaster.setSample(x, y, 0, y * 8 + x)
    val h = Multimodal.dHash64(img)
    val perRow = 0x7FL // bits 0..6
    val expected = (0 until 8).map(j => perRow << (j * 8)).reduce(_ | _)
    assert(h == expected)
    // a uniform brightness shift (no clipping) leaves dHash unchanged
    val img2 = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 8)
      img2.getRaster.setSample(x, y, 0, y * 8 + x + 100)
    assert(Multimodal.dHash64(img2) == h)
    // cross-check on fixtures: byte-identical pattern twins (0, 40)
    // survive BOTH hash families at Hamming 0
    val fx = Multimodal.synthesizePatternPngs(
      Seq(0L, 40L, 1L).toDF("doc_id"), "doc_id", distinctPatterns = 40)
    def sig(df: org.apache.spark.sql.DataFrame, hi: String, lo: String) =
      df.select($"media_id",
        F.shiftleft(F.col(hi), 32).bitwiseOR(F.col(lo)).as("sig"))
    val aP = Dedup.hammingPairs(
      sig(Multimodal.imageAHashes(fx), "ahash_hi", "ahash_lo"),
      "sig", "media_id", maxHamming = 0)
      .select($"id_a", $"id_b")
    val dP = Dedup.hammingPairs(
      sig(Multimodal.imageDHashes(fx), "dhash_hi", "dhash_lo"),
      "sig", "media_id", maxHamming = 0)
      .select($"id_a", $"id_b")
    val both = aP.join(dP, Seq("id_a", "id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both == Set((0L, 40L)))
  }

  test("audio fingerprint: hand-computed bits; real WAV round trip; near-dups") {
    // 128 samples = 64 windows of 2, alternating loud/quiet: energies
    // alternate 20000/0, mean 10000 → bits set on even windows
    val samples = Array.tabulate(128)(t => if ((t / 2) % 2 == 0) 100 else 0)
    assert(Multimodal.pcmFingerprint64(samples) == 0x5555555555555555L)
    // fixtures are REAL WAVs: decode recovers the exact formula samples
    val fx = Multimodal.synthesizePatternWavs(
      Seq(0L, 40L, 1L).toDF("doc_id"), "doc_id", distinctPatterns = 40)
    val rows0 = fx.collect().map(r =>
      r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val pcm0 = Multimodal.readPcm16(rows0(0L)).get
    assert(pcm0.length == 2048)
    assert(pcm0.take(4).toSeq ==
      (0 until 4).map(t => ((0 * 31 + t * 7) % 256 - 128) * 64))
    // ids 0 and 40 share a waveform: identical bytes, Hamming-0 pair
    assert(java.util.Arrays.equals(rows0(0L), rows0(40L)))
    val sigs = Multimodal.audioFingerprints(fx)
      .select($"media_id", (F.shiftleft($"afp_hi", 32)
        .bitwiseOR($"afp_lo")).as("sig"))
    val pairs = Dedup.hammingPairs(sigs, "sig", "media_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((0L, 40L, 0)))
  }

  test("heavy hitters: sketch+confirm equals brute force on skewed data") {
    // skewed corpus: two dominant tokens + a 200-word noise tail, spread
    // over 8 partitions so partial sketches really merge (and, with
    // k = 4 counters against 202 distinct tokens, really decrement)
    val docs = (
      Seq.fill(300)("aaa") ++ Seq.fill(220)("bbb") ++
        (0 until 200).flatMap(i => Seq.fill(2)(s"noise$i"))
      ).zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val df = docs.toDF("id", "text").repartition(8)
    val k = 4
    val out = Scale.heavyHitterTokens(df, "text", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // brute force: n = 920, threshold n/(k+1) = 184 → exactly aaa, bbb
    assert(out == Map("aaa" -> 300L, "bbb" -> 220L))
    // below-threshold k: the true answer is empty and the sketch's
    // candidates must not survive the exact confirm (no fabrication)
    val uniform = (0 until 100).map(i => (i.toLong, s"w${i % 50}"))
      .toDF("id", "text").repartition(8)
    assert(Scale.heavyHitterTokens(uniform, "text", 3).count() == 0)
    // stored shard sketches: the candidate UNION (pigeonhole superset)
    // + exact confirm lands the identical answer
    val path = java.nio.file.Files
      .createTempDirectory("graft-hh").toString + "/sk"
    val sharded = df.withColumn("shard", ($"id" % 3).cast("string"))
    Scale.writeHeavyHitterSketches(sharded, "text", "shard", k, path)
    val merged = Scale.mergedHeavyHitters(sharded, "text", spark, path, k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == out)
  }

  test("funnel: chain order and window cutoff; cohort retention counts") {
    import graft.operators.EventAnalytics
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L) // minutes → ms
    val W = 60L * 60 * 1000000 // 1h in µs
    val ev = Seq(
      // user 1 completes A→B→C in order, in window
      (1L, "A", ts(0)), (1L, "B", ts(10)), (1L, "C", ts(20)),
      // user 2: B BEFORE the A anchor — chain must not count it; the
      // later B is in order, no C
      (2L, "B", ts(0)), (2L, "A", ts(5)), (2L, "B", ts(30)),
      // user 3: B lands outside the 1h window from the anchor
      (3L, "A", ts(0)), (3L, "B", ts(90)),
      // user 4: never enters the funnel (no A)
      (4L, "B", ts(0)), (4L, "C", ts(1))
    ).toDF("user_id", "event_type", "ts")
    val stages = EventAnalytics.funnelStages(ev, "user_id", "event_type",
      "ts", Seq("A", "B", "C"), W)
    def users(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id").collect().map(_.getLong(0)).toSet
    assert(users(stages(0)) == Set(1L, 2L, 3L))
    assert(users(stages(1)) == Set(1L, 2L)) // user 3's B is out of window
    assert(users(stages(2)) == Set(1L))
    val counts = EventAnalytics.funnelCounts(ev, "user_id", "event_type",
      "ts", Seq("A", "B", "C"), W)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(counts == Set((1, "A", 3L), (2, "B", 2L), (3, "C", 1L)))
    // retention: user 1 active day 0 + day 1; user 2 day 0 only —
    // cohort day 1970-01-01, day_k 0 → 2 users, day_k 1 → 1 user
    val ev2 = Seq(
      (1L, "x", ts(0)), (1L, "x", ts(10)), (1L, "x", ts(60 * 25)),
      (2L, "x", ts(5))).toDF("user_id", "event_type", "ts")
    val ret = EventAnalytics.cohortRetention(ev2, "user_id", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ret == Set(("1970-01-01", 0L, 2L), ("1970-01-01", 1L, 1L)))
  }

  test("pivotCounts: explicit values, zero fill, unlisted values ignored") {
    import graft.operators.EventAnalytics
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "b"), (2L, "zzz"))
      .toDF("k", "t")
    val out = EventAnalytics.pivotCounts(df, "k", "t", Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 2 has no 'a' → zero-filled; 'zzz' is not a column
    assert(out == Set((1L, 2L, 1L), (2L, 0L, 1L)))
    assert(EventAnalytics.pivotCounts(df, "k", "t", Seq("a", "b"))
      .columns.toSeq == Seq("k", "n_a", "n_b"))
  }

  test("text normalization: NFC composition, whitespace collapse, idempotence") {
    val decomposed = "Cafe\u0301"   // e + combining acute (NFD)
    val composed = "Caf\u00e9"      // precomposed \u00e9 (NFC)
    val messy = s"\t $decomposed  du\nmonde  "
    val out = Seq((1L, messy), (2L, composed), (3L, ""))
      .toDF("id", "text")
      .select($"id", TextAnalysis.normalizeText($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"$composed du monde") // NFC composed + collapsed + trimmed
    assert(out(2L) == composed)
    assert(out(3L) == "")
    // canonicalization goal: byte-different spellings now hash alike
    assert(out(1L).startsWith(out(2L)))
    // idempotent: normalizing a normalized string is the identity
    val twice = Seq(Tuple1(out(1L))).toDF("text")
      .select(TextAnalysis.normalizeText($"text")).head.getString(0)
    assert(twice == out(1L))
  }

  test("markup stripping: blocks with content, tags, entity order, whitespace") {
    val page = "<html><head><style>p {color: red}</style></head>" +
      "<body><!-- note\nmultiline --><h1 class=\"t\">A &amp;amp; B</h1>" +
      "<p>x&lt;y&gt;z &quot;q&#39;s&quot;&nbsp;end</p>" +
      "<SCRIPT type=\"text/javascript\">if (1 < 2) alert('hi')</script>" +
      "tail</body></html>"
    val out = Seq(Tuple1(page)).toDF("html")
      .select(TextAnalysis.stripMarkup($"html")).head.getString(0)
    // style+script content gone (incl. the `<` inside the script),
    // comment gone, tags gone, &amp; decoded LAST so `&amp;amp;` is
    // the literal `&amp;`, quotes/apostrophe/nbsp decoded, collapsed
    assert(out == "A &amp; B x<y>z \"q's\" end tail")
    // plain text with no markup passes through modulo collapse
    val plain = Seq(Tuple1("no  tags\there")).toDF("html")
      .select(TextAnalysis.stripMarkup($"html")).head.getString(0)
    assert(plain == "no tags here")
    // the dialect surface compiles to the same expression
    val viaSql = Seq((1L, page)).toDF("id", "html")
    val d = java.nio.file.Files.createTempDirectory("graft-markup").toString
    viaSql.write.mode("overwrite").parquet(s"$d/pages.parquet")
    val sqlOut = graft.Engine(spark, d)
      .sql("SELECT strip_markup(html) AS clean FROM pages")
      .df.head.getString(0)
    assert(sqlOut == out)
  }

  test("HTML text extraction: script/style/comment drop, entities, edge cases") {
    def clean(html: String): String = {
      Seq(html).toDF("h")
        .select(Web.htmlToText(F.col("h")).as("t")).head().getString(0)
    }
    // the happy path: tags gone, entities decoded, whitespace collapsed
    assert(clean("<html><body><h1>Hi</h1>\n\n<p>a &amp; b</p></body></html>")
      == "Hi a & b")
    // script/style content NEVER leaks into text, even with attributes,
    // mixed case, or angle brackets inside the code
    assert(clean("<SCRIPT type=\"x\">if (1 < 2) { alert('&'); }</ScRiPt>ok")
      == "ok")
    assert(clean("<style media=screen>p > a { color: red }</style>ok") == "ok")
    // comments drop, including multi-line ones hiding tags
    assert(clean("a<!-- <p>hidden</p>\nstill hidden -->b") == "a b")
    // double-escaped entities decode ONE level (amp is applied last):
    // the author wrote the literal text "&lt;" and must get it back
    assert(clean("<p>&amp;lt; and &amp;amp;</p>") == "&lt; and &amp;")
    // the six entities
    assert(clean("&lt;x&gt; &quot;q&quot; &#39;s&#39;&nbsp;end")
      == "<x> \"q\" 's' end")
    // numeric references pass through (documented non-goal)
    assert(clean("a &#65; b") == "a &#65; b")
    // tag-free text is just whitespace-normalized
    assert(clean("  plain\t\ttext\n ") == "plain text")
    assert(clean("") == "")
  }

  test("URL normalization: ports, tracking params, www, domains, idempotence") {
    import graft.operators.Web
    def norm(u: String): String = Seq(Tuple1(u)).toDF("u")
      .select(Web.normalizeUrl($"u")).head.getString(0)
    // every rule at once: case, www, default port, tracking, fragment
    assert(norm("HTTP://WWW.Example.COM:80/A/b?utm_source=x&id=7&utm_c=y#top")
      == "http://example.com/A/b?id=7")
    // param list empties → dangling '?' trimmed; non-default port kept
    assert(norm("https://Host.org:8080/p?fbclid=z") == "https://host.org:8080/p")
    // https default port strips; path case preserved (RFC 3986)
    assert(norm("HTTPS://a.b.NET:443/CaseSensitive") == "https://a.b.net/CaseSensitive")
    // no scheme → untouched (not a URL the crawler emitted)
    assert(norm("not a url?utm_source=x") == "not a url?utm_source=x")
    // idempotent
    assert(norm(norm("HTTP://WWW.E.COM:80/x?utm_a=1&q=2#f")) ==
      norm("HTTP://WWW.E.COM:80/x?utm_a=1&q=2#f"))
    // domains: 2-label default, 3-label public-suffix pairs, dot-less host
    def dom(h: String): String = Seq(Tuple1(h)).toDF("h")
      .select(Web.registrableDomain($"h")).head.getString(0)
    assert(dom("deep.sub.example.com") == "example.com")
    assert(dom("www.bbc.co.uk") == "bbc.co.uk")
    assert(dom("localhost") == "localhost")
    // blocklist filter: anti-join on derived domain, no collected set
    val docs = Seq(
      (1L, "http://spam.example.com/a"), (2L, "https://keep.org/b"),
      (3L, "http://sub.spam-two.net/c")).toDF("id", "url")
    val bl = Seq("example.com", "spam-two.net").toDF("domain")
    val kept = Web.filterBlockedDomains(docs, "url", bl)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    assert(Web.filterBlockedDomains(docs, "url", bl).columns.toSeq ==
      Seq("id", "url")) // helper column dropped
  }

  test("boilerplate line removal: per-source vote, blank lines kept, rewrite") {
    // "FOOTER" appears in 3 docs of source s1 (boilerplate at minDocs=3);
    // "menu" in only 2 of s1 (below threshold); "FOOTER" also in one doc
    // of s2 — votes are PER SOURCE, so s2's copy survives
    val docs = Seq(
      (1L, "body one\nFOOTER", "s1"),
      (2L, "menu\nbody two\n\nFOOTER", "s1"),
      (3L, "menu\nFOOTER\nbody three", "s1"),
      (4L, "FOOTER\nother", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.removeBoilerplateLines(docs, "text", "doc_id", "source",
        minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("body one", 1L)))
    assert(out(2L) == (("menu\nbody two\n", 1L))) // blank line preserved
    assert(out(3L) == (("menu\nbody three", 1L)))
    assert(out(4L) == (("FOOTER\nother", 0L)))    // different source: kept
    // a doc repeating the line internally votes ONCE but loses every copy
    val rep = Seq(
      (1L, "FOOTER\nx\nFOOTER", "s"), (2L, "FOOTER\ny", "s"),
      (3L, "FOOTER\nz", "s")
    ).toDF("doc_id", "text", "source")
    val repOut = Dedup.removeBoilerplateLines(rep, "text", "doc_id", "source",
        minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(repOut(1L) == (("x", 2L)))
  }

  test("repeated-line removal: first occurrence kept, narrow plan") {
    val docs = Seq(
      (1L, "header\nbody\nheader\n\ntail\nbody"),
      (2L, "only\nlines"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedLines(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("header\nbody\n\ntail", 2L)))
    assert(out(2L) == (("only\nlines", 0L)))
    assert(out(3L) == (("", 0L)))
    // the operator is a pure narrow rewrite: no exchange in the plan
    val plan = Dedup.removeRepeatedLines(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected narrow plan, got:\n$plan")
  }

  test("simhash of identical docs is identical; near dups are close") {
    val sigs = docs.select(F.col("doc_id"), Dedup.simhash64(F.col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 16)
  }

  test("ngram jaccard pairs within a block") {
    val blocked = docs.withColumn("b", F.lit(1))
    val out = Dedup.ngramJaccardPairs(blocked, "text", "doc_id",
      F.col("b"), shingleN = 1, threshold = 0.7)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
  }

  test("ANN join: IVF-pruned per-probe top-k, brute parity at nprobe=all") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val emb = Seq(
      (0L, Seq(1.0f, 0.1f)), (1L, Seq(0.9f, 0.2f)), (2L, Seq(0.2f, 1.0f)),
      (3L, Seq(0.1f, 0.9f)), (4L, Seq(0.7f, 0.6f))
    ).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id".isin(0L, 2L))
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    // nprobe = all cells prunes nothing — must equal the brute ANN join
    val allCells = Similarity.topKPerProbeIvf(emb, "embedding", "vec_id",
      probes, "probe_vec", "probe_id", cents, k = 3, nprobe = 2)
    val brute = Similarity.topKPerProbe(emb, "embedding", "vec_id",
      probes, "probe_vec", "probe_id", k = 3)
    assert(key(allCells) == key(brute))
    // nprobe = 1: each probe scores only its own cell's members; every
    // returned neighbor shares the probe's bucket
    val pruned = Similarity.topKPerProbeIvf(emb, "embedding", "vec_id",
        probes, "probe_vec", "probe_id", cents, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe 0 (cell 0) reaches {0,1,4}; probe 2 (cell 1) reaches {2,3}
    assert(pruned == Set((0L, 0L), (0L, 1L), (0L, 4L), (2L, 2L), (2L, 3L)))
  }

  test("embedding outliers: low-affinity vectors flagged at the exact quantile") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),  // best dot 1.0 (c0)
      (1L, Seq(0.9f, 0.1f)),  // 0.9 (c0)
      (2L, Seq(0.0f, 1.0f)),  // 1.0 (c1)
      (3L, Seq(-1.0f, -1.0f)) // -1.0 — the off-manifold vector
    ).toDF("vec_id", "embedding")
    // q=0.3 over sorted [-1, 0.9, 1, 1]: rank 0.9 → cut at -1 + 0.9·1.9
    // = 0.71; only vec 3 is below
    val out = Similarity.embeddingOutliers(emb, "embedding", "vec_id",
        cents, quantile = 0.3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(3L))
    assert(out(3L)._2 == -1.0)
    // assignment tie (equal dots to both centroids) goes to the HIGHER
    // index — the ivfBucket struct-argmax rule the oracles replay
    assert(out(3L)._1 == 1)
    // empty input fails loudly instead of NPE-ing on a null quantile
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingOutliers(emb.limit(0), "embedding", "vec_id", cents)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("cosine topK is exact and deterministically ordered") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.topKByCosine(emb, "embedding", "vec_id", Seq(1.0, 0.0), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(0L, 3L, 1L)) // ties (0,3) broken by id
  }

  test("truncated-dim prefilter: brute parity at pool=all, bounded pool otherwise") {
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat / 11f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
      .head().getSeq[Float](1).map(_.toDouble)
    // pool = corpus size → the exact re-rank sees everything: must
    // equal brute-force cosine top-k exactly (scores and order)
    val brute = Similarity.topKByCosine(vecs, "embedding", "vec_id", q, 5)
      .select($"vec_id", F.round($"score", 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val refined = Similarity.topKTruncatedRefine(vecs, "embedding", "vec_id",
      q, k = 5, dPrefix = 2, pool = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined == brute)
    // a tight pool returns k rows drawn from the pool only
    val tight = Similarity.topKTruncatedRefine(vecs, "embedding", "vec_id",
      q, k = 5, dPrefix = 2, pool = 5)
    assert(tight.count() == 5)
    // invalid configs are loud
    assertThrows[IllegalArgumentException](Similarity.topKTruncatedRefine(
      vecs, "embedding", "vec_id", q, k = 5, dPrefix = 0, pool = 10))
    assertThrows[IllegalArgumentException](Similarity.topKTruncatedRefine(
      vecs, "embedding", "vec_id", q, k = 5, dPrefix = 2, pool = 3))
  }

  test("IVF-PQ refine: exact re-rank over the bounded candidate pool") {
    // 8 clustered vectors; PQ compression distorts within-cluster order,
    // the refine stage must restore the EXACT squared-L2 ranking
    val emb = (0L until 8L).map { i =>
      val base = if (i < 4) 0.0f else 1.0f
      (i, Seq(base + i * 0.01f, base - i * 0.01f))
    }.toDF("vec_id", "embedding")
    val cents = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val cbs = Seq(
      Seq(Seq(0.0), Seq(0.5), Seq(1.0), Seq(1.5)),
      Seq(Seq(0.0), Seq(0.5), Seq(1.0), Seq(1.5)))
    val query = Seq(0.02, 0.0)
    val out = Similarity.pqTopKIvfRefine(emb, "embedding", "vec_id", query,
        cents, cbs, k = 3, nprobe = 1, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // exact distances within the probed (origin) cell, ids 0-3
    def d(v: Seq[Double]) =
      v.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
    val exact = (0L until 4L).map { i =>
      val base = 0.0
      i -> d(Seq(base + i * 0.01f, base - i * 0.01f).map(_.toDouble))
    }.sortBy { case (id, dist) => (dist, id) }.take(3)
    assert(out.map(_._1) == exact.map(_._1))
    out.zip(exact).foreach { case ((_, got), (_, want)) =>
      assert(math.abs(got - want) < 1e-12) }
    // rerank must bound-check against k
    assertThrows[IllegalArgumentException](
      Similarity.pqTopKIvfRefine(emb, "embedding", "vec_id", query,
        cents, cbs, k = 5, nprobe = 1, rerank = 3))
  }

  test("scalar quantization: hand-computed codes and exact integer-dot ranking") {
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(0.5f, 1.0f))
    ).toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.sqMinMax(emb, "embedding")
    assert(mins == Seq(0.0, 0.0) && maxs == Seq(1.0, 1.0))
    val codes = emb.select(F.col("vec_id"),
        Similarity.sqCodes(F.col("embedding"), mins, maxs).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // 0.5 → round(127.5) = 128 (HALF_UP); extremes hit the grid ends
    assert(codes(0L) == Seq(0, 0))
    assert(codes(1L) == Seq(255, 255))
    assert(codes(2L) == Seq(128, 255))
    val top = Similarity.sqTopKInt(emb, "embedding", "vec_id",
        query = Seq(1.0, 1.0), mins, maxs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // integer dots: v1 = 255*255*2 = 130050, v2 = 128*255 + 255*255
    assert(top == Seq((1L, 130050L), (2L, 128L * 255 + 255L * 255)))
    // a constant dimension codes to 0 instead of dividing by zero
    val const = Seq((0L, Seq(3.0f, 0.0f)), (1L, Seq(3.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val (m2, x2) = Similarity.sqMinMax(const, "embedding")
    val c2 = const.select(Similarity.sqCodes(F.col("embedding"), m2, x2).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(c2.forall(_.head == 0))
  }

  test("stored SQ codes layout: equals in-flight SQ on the probed buckets, vector-free pruned scan") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(-1.0f, 0.0f)), (3L, Seq(0.8f, 0.2f))
    ).toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))
    val (mins, maxs) = Similarity.sqMinMax(emb, "embedding")
    val query = Seq(1.0, 0.0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfsq").toString + "/codes"
    Similarity.writeIvfSqCodes(emb, "embedding", "vec_id", centroids,
      mins, maxs, path)
    val fromCodes = Similarity.sqTopKFromCodes(spark, path, "vec_id", query,
      centroids, mins, maxs, k = 3, nprobe = 1)
    // contract: the in-flight integer-dot ranking restricted to the
    // probed bucket's members (vec 2 lives in the other bucket)
    val probed = Similarity.probeBuckets(query, centroids, nprobe = 1)
    val inflight = Similarity.sqTopKInt(
      emb.filter(Similarity.ivfBucket(F.col("embedding"), centroids)
        .isin(probed: _*)),
      "embedding", "vec_id", query, mins, maxs, k = 3)
    assert(fromCodes.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      inflight.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(!fromCodes.collect().map(_.getLong(0)).contains(2L))
    // partition-level pruning AND a vector-free read schema
    val plan = fromCodes.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    assert(!plan.contains("embedding"), s"codes scan must not read vectors:\n$plan")
  }

  test("recall@k: exact overlap count, perfect and degraded cases") {
    def ids(xs: Long*) = xs.toDF("vec_id")
    def recall(a: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame, k: Int) = {
      val r = Similarity.recallAtK(a, e, "vec_id", k).head()
      (r.getLong(0), r.getDouble(1))
    }
    assert(recall(ids(1, 2, 3, 4), ids(1, 2, 3, 4), 4) == ((4L, 1.0)))
    assert(recall(ids(1, 2, 9, 8), ids(1, 2, 3, 4), 4) == ((2L, 0.5)))
    assert(recall(ids(7, 8, 9, 6), ids(1, 2, 3, 4), 4) == ((0L, 0.0)))
  }

  test("IVF pruning keeps the true neighbor when it shares the probed bucket") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.95f, 0.05f)), (2L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))
    val out = Similarity.topKIvf(emb, "embedding", "vec_id",
      Seq(1.0, 0.0), centroids, k = 2, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(0L, 1L)) // opposite-bucket vec 2 pruned
  }

  test("native vec_cosine_f32 expression matches the composable route bit-for-bit") {
    val emb = Seq(
      (0L, Seq(0.3f, -0.7f, 0.64f), Seq(0.1f, 0.2f, -0.9f)),
      (1L, Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 2.0f, 3.0f))
    ).toDF("id", "a", "b")
    val r = emb.select(
      Similarity.cosine(F.col("a"), F.col("b")).as("composable"),
      Similarity.cosineNative(F.col("a"), F.col("b")).as("native"),
      Similarity.dot(F.col("a"), F.col("b")).as("dc"),
      Similarity.dotNative(F.col("a"), F.col("b")).as("dn")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(1)) // exact, not approx
      assert(row.getDouble(2) == row.getDouble(3))
    }
    // zero vector → 0, both routes
    assert(r(1).getDouble(0) == 0.0 && r(1).getDouble(1) == 0.0)
    // also callable from SQL via the injected function
    emb.createOrReplaceTempView("vt")
    val viaSql = spark.sql("SELECT vec_cosine_f32(a, b) FROM vt WHERE id = 0").head()
    assert(viaSql.getDouble(0) == r(0).getDouble(0))
  }

  test("native f64 dot/cosine match the composable double-precision fold bit-for-bit") {
    // float column against a double literal array — the embedding-LSH
    // shape, where keeping double precision end to end is what makes the
    // native route oracle-equivalent
    val emb = Seq((0L, Seq(0.3f, -0.7f, 0.64f)), (1L, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("id", "a")
    val plane = F.array(F.lit(0.123456789012345), F.lit(-0.987654321098765), F.lit(0.5))
    val r = emb.select(
      Similarity.dot(F.col("a"), plane).as("dc"),
      F.call_function("vec_dot_f64", F.col("a"), plane).as("dn"),
      Similarity.cosine(F.col("a"), plane).as("cc"),
      F.call_function("vec_cosine_f64", F.col("a"), plane).as("cn")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(1))
      assert(row.getDouble(2) == row.getDouble(3))
    }
  }

  test("native text_stats matches the composable text analysis exactly") {
    val cases = docs.union(Seq(
      (10L, ""), (11L, "   "), (12L, "one"), (13L, "a.b,c!d?e;f:g"),
      (14L, "  The  AND of IS  mixed Case\twith\ttabs\nand newlines  ")
    ).toDF("doc_id", "text"))
    val st = F.call_function("text_stats", F.col("text"))
    val both = cases.select(
      TextAnalysis.tokenCount(F.col("text")).as("t1"),
      st.getField("n_tokens").as("t2"),
      TextAnalysis.subwordCount(F.col("text")).as("s1"),
      st.getField("n_subwords").as("s2"),
      TextAnalysis.punctCount(F.col("text")).as("p1"),
      st.getField("n_punct").as("p2"),
      TextAnalysis.stopwordCount(F.col("text")).as("w1"),
      st.getField("n_stopwords").as("w2")).collect()
    both.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"tokens: $r")
      assert(r.getInt(2) == r.getInt(3), s"subwords: $r")
      assert(r.getInt(4) == r.getInt(5), s"punct: $r")
      assert(r.getInt(6) == r.getInt(7), s"stopwords: $r")
    }
  }

  test("text analysis: tokens, stopwords, language, fingerprint") {
    val r = docs.filter("doc_id = 0").select(
      TextAnalysis.tokenCount(F.col("text")),
      TextAnalysis.stopwordCount(F.col("text")),
      TextAnalysis.langId(F.col("text")),
      TextAnalysis.fingerprint(F.col("text"))).head()
    assert(r.getInt(0) == 9)
    assert(r.getInt(1) == 2) // 'the' twice; 'over' is not in the stopword list
    assert(r.getString(2) == "en")
    assert(r.getString(3).length == 32)
  }

  test("docSignals matches stand-alone qualityScore + langId exactly") {
    val cases = docs.union(Seq(
      (10L, ""), (11L, "   "), (12L, "der der und ist die"),
      (13L, "le le les et est"), (14L, "el la los es es"),
      (15L, "a.b,c!d?e;f:g punctuation! heavy,,,")
    ).toDF("doc_id", "text"))
    val sig = TextAnalysis.docSignals(F.col("text"))
    val cmp = cases.select(
      TextAnalysis.qualityScore(F.col("text")).as("q1"),
      sig.getField("quality").as("q2"),
      TextAnalysis.langId(F.col("text")).as("l1"),
      sig.getField("lang_guess").as("l2")).collect()
    cmp.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"quality: $r")
      assert(r.getString(2) == r.getString(3), s"lang: $r")
    }
  }

  test("fingerprint normalizes case and whitespace") {
    val fps = docs.select(TextAnalysis.fingerprint(F.col("text")))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(4))
    assert(fps(0) != fps(3))
  }

  test("winnowing fingerprints detect shared token runs") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (2L, "prefix words alpha beta gamma delta epsilon zeta eta theta"), // contains 0
      (3L, "totally unrelated content with different words entirely here")
    ).toDF("id", "text")
    val fps = df.select(F.col("id"),
        TextAnalysis.winnowingFingerprint(F.col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(0L) == fps(1L))
    assert((fps(0L) & fps(2L)).nonEmpty) // shared run -> shared fingerprint
    assert((fps(0L) & fps(3L)).isEmpty)
  }

  test("rolling hash is deterministic and content-sensitive") {
    val r = docs.select(TextAnalysis.rollingHash(F.col("text"))).collect()
      .map(_.getLong(0))
    assert(r(0) == r(1) && r(0) != r(3))
  }

  test("multimodal: synthesize → decode → frames plumbing") {
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val decoded = Multimodal.decode(media)
    val r = decoded.filter("media_id = 0").head()
    val n = "the quick brown fox jumps over the lazy dog".length
    assert(r.getAs[Long]("n_bytes") == n.toLong)
    assert(r.getAs[Int]("width") == 64 + n % 1024)
    val frames = Multimodal.sampleFrames(decoded, stride = 1)
    assert(frames.filter("media_id = 2").count() >= 1) // doc 2 is 'video'
  }

  test("decode reads REAL PNG/BMP dimensions via javax.imageio (fake only for non-images)") {
    // build real image bytes in-process — no external fixtures or codecs
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = imageBytes(37, 21, "png")
    val bmp = imageBytes(5, 9, "bmp")
    val textBytes = "not an image at all".getBytes("UTF-8")
    assert(Multimodal.decodeImage(png).contains((37, 21)))
    assert(Multimodal.decodeImage(bmp).contains((5, 9)))
    assert(Multimodal.decodeImage(textBytes).isEmpty)

    // through the full partition-batched Spark path: real dims for the
    // real image, deterministic fake for the text payload
    val media = Seq(
      (0L, "image", png, png.length.toLong),
      (3L, "image", textBytes, textBytes.length.toLong),
      (1L, "audio", textBytes, textBytes.length.toLong)
    ).toDF("media_id", "kind", "payload", "n_bytes")
    val out = Multimodal.decode(media).collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height")))).toMap
    assert(out(0L) == ((37, 21)))
    val n = textBytes.length
    assert(out(3L) == ((64 + n % 1024, 64 + (n * 7) % 1024))) // stub path
    assert(out(1L) == ((64 + n % 1024, 64 + (n * 7) % 1024))) // audio: stub
  }

  test("driver smoke: SparkEntry.entry returns rows on sf0.001") {
    assume(new java.io.File("/root/testdata/sf0.001/lineitem.parquet").exists())
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.columns.contains("sum_qty") && out.columns.contains("count_order"))
  }

  test("q43 HLL sketch stays within its documented error bound of exact (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val exact = orders.groupBy("o_orderstatus")
      .agg(F.countDistinct("o_custkey").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = orders.groupBy("o_orderstatus")
      .agg(F.approx_count_distinct("o_custkey").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    // default rsd = 0.05 is a STANDARD DEVIATION, not a hard bound (the
    // sf0.01 'O' group sits at 1.13σ), so gate at 3σ; HLL is
    // deterministic for fixed data, so this is a stable (non-flaky)
    // accuracy gate
    exact.foreach { case (k, ex) =>
      val err = math.abs(approx(k) - ex).toDouble / ex
      assert(err <= 3 * 0.05, s"group $k: approx=${approx(k)} exact=$ex err=$err")
    }
    // the gated q43 output: exact distinct + the in-query 3σ validation
    // of the sketch (what the DuckDB oracle replays as TRUE)
    val gated = SparkEntry.queries("q43_approx_distinct")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(gated.keySet == exact.keySet)
    gated.foreach { case (k, (ex, ok)) =>
      assert(ex == exact(k) && ok, s"group $k: exact=$ex approx_ok=$ok")
    }
  }

  test("as-of join picks the latest right row at or before the left timestamp") {
    val clicks = Seq((100L, 1L, 50L), (101L, 1L, 5L), (102L, 2L, 70L))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq((1L, 10L, 1.0), (1L, 50L, 2.0), (1L, 60L, 3.0))
      .toDF("user_id", "ts", "value")
    val out = AsofJoin.backward(clicks, purchases, "user_id", "ts", "ts",
        rightPrefix = "p_").collect()
      .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(out(100L).contains(2.0)) // ts 50 matches purchase at 50 (inclusive)
    assert(out(101L).isEmpty)       // ts 5 predates all purchases -> null
    assert(out(102L).isEmpty)       // user 2 has no purchases -> null
  }

  test("forward as-of join picks the earliest right row at or after the left timestamp") {
    val clicks = Seq((100L, 1L, 50L), (101L, 1L, 65L), (102L, 2L, 70L))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq((1L, 10L, 1.0), (1L, 50L, 2.0), (1L, 60L, 3.0))
      .toDF("user_id", "ts", "value")
    val out = AsofJoin.forward(clicks, purchases, "user_id", "ts", "ts",
        rightPrefix = "p_").collect()
      .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(out(100L).contains(2.0)) // ts 50 matches purchase at 50 (inclusive)
    assert(out(101L).isEmpty)       // ts 65 is after the last purchase -> null
    assert(out(102L).isEmpty)       // user 2 has no purchases -> null
  }

  test("nearest as-of join picks the closer side, ties backward, tolerance-bounded") {
    val clicks = Seq((100L, 1L, 50L), (101L, 1L, 56L), (102L, 1L, 55L),
      (103L, 1L, 300L), (104L, 2L, 70L))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq((1L, 10L, 1.0), (1L, 50L, 2.0), (1L, 60L, 3.0))
      .toDF("user_id", "ts", "value")
    val out = AsofJoin.nearest(clicks, purchases, "user_id", "ts", "ts",
        rightPrefix = "p_", tolerance = 100L).collect()
      .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(out(100L).contains(2.0)) // exact hit at 50 (distance 0, backward)
    assert(out(101L).contains(3.0)) // 56: fwd 60 (d=4) beats bwd 50 (d=6)
    assert(out(102L).contains(2.0)) // 55: tie d=5 both sides -> backward
    assert(out(103L).isEmpty)       // 300: nearest 60 is 240 > tolerance
    assert(out(104L).isEmpty)       // user 2 has no purchases
  }

  test("multi-table embedding LSH equals the union of its single-table runs") {
    // deterministic pseudo-random vectors; two plane sets catch different
    // pair subsets, the multi run must be exactly their union
    val vecs = (0L until 60L).map { i =>
      val x = ((i * 2654435761L) % 997).toFloat / 997f - 0.5f
      val y = ((i * 40503L) % 991).toFloat / 991f - 0.5f
      val z = ((i * 69069L) % 983).toFloat / 983f - 0.5f
      (i, Seq(x, y, z))
    }.toDF("vec_id", "embedding")
    val sets = Seq(Dedup.hyperplanes(4, 3, seed = 7L), Dedup.hyperplanes(4, 3, seed = 8L))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = sets.map(pl => pairSet(
      Dedup.embeddingNearDup(vecs, "embedding", "vec_id", pl, threshold = 0.8)))
    val multi = pairSet(Dedup.embeddingNearDupMulti(
      vecs, "embedding", "vec_id", sets, threshold = 0.8))
    assert(multi == single(0).union(single(1)))
    assert(single(0) != single(1), "fixture should differentiate the two tables")
  }

  test("approx_count_distinct is within tolerance of exact") {
    val df = (1 to 1000).map(i => i % 137).toDF("v")
    val approx = df.agg(F.approx_count_distinct("v")).head().getLong(0)
    assert(math.abs(approx - 137) <= 14) // default rsd 5%
  }

  test("windowed event counts (streaming batch twin)") {
    val events = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:50:00", "click", 2.0),
      ("2024-01-01 01:10:00", "click", 4.0)
    ).toDF("s", "event_type", "value")
      .select(F.col("s").cast("timestamp").as("ts"), F.col("event_type"), F.col("value"))
    val out = Streams.windowedCounts(events, "1 hour").collect()
    assert(out.length == 2)
    val h0 = out.find(_.getAs[Long]("n_events") == 2).get
    assert(h0.getAs[Double]("sum_value") == 3.0)
  }

  test("gopher stats: duplicate lines, word length, symbols, bullets") {
    val doc = Seq((0L, "same line\nsame line\nother line\n- bullet one\n* bullet two"))
      .toDF("doc_id", "text")
    val g = TextAnalysis.gopherStats(F.col("text"))
    val r = doc.select(
      g.getField("frac_dup_lines"), g.getField("mean_word_len"),
      g.getField("symbol_ratio"), g.getField("bullet_ratio")).head()
    assert(r.getDouble(0) == 1.0 - 4.0 / 5.0) // 5 lines, 4 distinct
    assert(r.getDouble(1) == 45.0 / 12.0)     // 12 tokens, 45 non-ws chars
    assert(r.getDouble(2) == 1.0 / 56.0)      // one '*' symbol char, 56 chars
    assert(r.getDouble(3) == 2.0 / 5.0)
    // empty text: all ratios zero, no division blowups
    val e = Seq((1L, "")).toDF("doc_id", "text")
      .select(TextAnalysis.gopherStats(F.col("text")).as("g")).head()
    assert(e.getStruct(0).toSeq == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("cluster labels propagate transitively to the smallest reachable id") {
    val pairs = Seq(
      (2L, 3L), (3L, 4L), (4L, 5L), // a chain: all should label 2
      (10L, 11L),                   // separate cluster
      (7L, 20L), (7L, 21L)          // a star: 20/21 connect through 7
    ).toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(2L, 3L, 4L, 5L).forall(out(_) == 2L))
    assert(out(10L) == 10L && out(11L) == 10L)
    assert(Seq(7L, 20L, 21L).forall(out(_) == 7L))
    assert(out.size == 9) // only ids appearing in pairs
  }

  test("trainCentroids learns separated cluster means in-engine (distributed Lloyd's)") {
    val a = (0L until 20L).map(i => (i, Seq(1.0f, 0.01f * (i % 5))))
    val b = (100L until 120L).map(i => (i, Seq(-1.0f - 0.01f * (i % 5), 0.2f)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, "embedding", "vec_id", k = 2, iters = 4)
    assert(cents.length == 2)
    // one centroid converges to each cluster's mean
    assert(cents.exists(c => math.abs(c(0) - 1.0) < 0.02 && math.abs(c(1) - 0.02) < 0.02))
    assert(cents.exists(c => math.abs(c(0) + 1.02) < 0.02 && math.abs(c(1) - 0.2) < 0.02))
    // and the trained centroids drive IVF to the brute-force answer
    val q = Seq(1.0, 0.0)
    val ivf = Similarity.topKIvf(emb, "embedding", "vec_id", q, cents,
      k = 5, nprobe = 1).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topKByCosine(emb, "embedding", "vec_id", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == brute)
  }

  test("bucketed IVF layout prunes partitions and matches the in-flight variant") {
    val emb = (0L until 40L)
      .map(i => (i, Seq((i % 5).toFloat - 2f, (i % 3).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0), Seq(0.0, -1.0, 0.0))
    val query = Seq(1.0, 0.5, 0.5)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/corpus"
    Similarity.writeIvfBucketed(emb, "embedding", centroids, path)

    val bucketed = Similarity.topKIvfBucketed(spark, path, "embedding", "vec_id",
      query, centroids, k = 5, nprobe = 2)
    val inflight = Similarity.topKIvf(emb, "embedding", "vec_id",
      query, centroids, k = 5, nprobe = 2)
    assert(bucketed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      inflight.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)

    // the bucket predicate must prune at the PARTITION level — directory
    // listing, not a post-scan filter
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
  }

  test("PQ codes layout: partition-pruned, vector-free scan, result-transparent") {
    val emb = (0L until 40L)
      .map(i => (i, Seq((i % 5).toFloat - 2f, (i % 3).toFloat, 1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0))
    val cbs: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(-2.0, 0.0), Seq(0.0, 1.0), Seq(2.0, 2.0)),
      Seq(Seq(1.0, 0.5), Seq(0.0, 0.0), Seq(-1.0, 1.0)))
    val query = Seq(1.0, 0.5, 0.5, 0.5)
    val path = java.nio.file.Files.createTempDirectory("graft-pqlay").toString + "/codes"
    Similarity.writeIvfPqCodes(emb, "embedding", "vec_id", centroids, cbs, path)
    val fromCodes = Similarity.pqTopKFromCodes(spark, path, "vec_id", query,
      centroids, cbs, k = 5, nprobe = 1)
    val inflight = Similarity.pqTopKIvf(emb, "embedding", "vec_id", query,
      centroids, cbs, k = 5, nprobe = 1)
    assert(fromCodes.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      inflight.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // native pq_adc over the STORED codes ≡ the composable LUT-lookup sum,
    // bit-for-bit, on every row of every bucket
    val adc = spark.read.parquet(path).select(
      adcNative(F.col("codes"), adcLut(query, cbs)).as("n"),
      adcComposable(F.col("codes"), adcLut(query, cbs)).as("c")).collect()
    assert(adc.length == 40)
    adc.foreach(r => assert(r.getDouble(0) == r.getDouble(1), s"adc: $r"))
    // partition-level pruning AND a vector-free read schema: the scan
    // reads codes, never embeddings
    val plan = fromCodes.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    assert(!plan.contains("embedding"), s"codes scan must not read vectors:\n$plan")
    // the stored-candidates + exact-re-rank composition lands the exact
    // in-flight refine result (the transparency contract, refine stage
    // included), and the pool bound still checks
    val storedRefine = Similarity.pqTopKFromCodesRefine(spark, path, emb,
      "embedding", "vec_id", query, centroids, cbs, k = 3, nprobe = 1,
      rerank = 6)
    val inflightRefine = Similarity.pqTopKIvfRefine(emb, "embedding",
      "vec_id", query, centroids, cbs, k = 3, nprobe = 1, rerank = 6)
    assert(storedRefine.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == inflightRefine.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assertThrows[IllegalArgumentException](
      Similarity.pqTopKFromCodesRefine(spark, path, emb, "embedding",
        "vec_id", query, centroids, cbs, k = 5, nprobe = 1, rerank = 3))
  }

  test("native simhash64 matches the composable route bit-for-bit (both hash modes)") {
    val tricky = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "  leading and trailing spaces  "),
      (2L, "\tleading tab makes an empty first token"),
      (3L, "MiXeD Case TEXT, with. punctuation!"),
      (4L, "single"),
      (5L, "multi   internal    runs"),
      (6L, "")
    ).toDF("id", "text")
    // the declarative twin only tokenizes non-empty text the same way the
    // native walk does; compare on all rows (empty text -> sig 0 native,
    // and the aggregate over an empty token array -> 0 declaratively)
    val cmp = tricky.select(
      F.col("id"),
      F.call_function("simhash64", F.col("text"), F.lit(false)).as("native_xx"),
      Dedup.simhash64(F.col("text")).as("decl_xx"),
      F.call_function("simhash64", F.col("text"), F.lit(true)).as("native_md5"),
      Dedup.simhash64(F.col("text"),
        (t: org.apache.spark.sql.Column) => Dedup.md5Hash60(t)).as("decl_md5"))
      .collect()
    cmp.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"xxhash mode diverged for id ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4), s"md5 mode diverged for id ${r.getLong(0)}")
    }
  }

  /** The composable band-key fold, the reference for the native
    * `minhash_bands`: `Dedup.shingles` → md5-60 base hash mod P → affine
    * minima folded in ONE `aggregate`/`zip_with` pass → per-band
    * comma-joined keys. */
  private def minhashBandKeys(text: org.apache.spark.sql.Column, numBands: Int,
                              rowsPerBand: Int, shingleN: Int) = {
    import org.apache.spark.sql.Column
    import graft.functions.ExprUtils.let
    val numHashes = numBands * rowsPerBand
    val paramArr = F.array(Dedup.minhashAffineParams(numHashes).map { case (a, b) =>
      F.struct(F.lit(a).as("a"), F.lit(b).as("b"))
    }: _*)
    let(F.transform(Dedup.shingles(text, shingleN),
        (s: Column) => Dedup.md5Hash60(s) % Dedup.MinhashP)) { hs =>
      F.aggregate(hs, F.array_repeat(F.lit(Dedup.MinhashP), numHashes),
        (acc: Column, h: Column) =>
          F.zip_with(acc, paramArr, (m: Column, pr: Column) =>
            F.least(m, (pr.getField("a") * h + pr.getField("b")) % Dedup.MinhashP)),
        (sig: Column) => F.array((0 until numBands).map { b =>
          F.concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand).map(i =>
            F.element_at(sig, i + 1).cast("string")): _*)
        }: _*))
    }
  }

  test("native minhash_bands matches the composable band keys exactly") {
    val tricky = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog"),
      (1001L, "the the the repeated tokens collapse in the minima"),
      (1002L, "  spaced   out   tokens  "),
      (1003L, "MiXeD Case normalizes"),
      (1004L, "single"),
      (1005L, "two words"),
      (1006L, ""),
      (1007L, " \t\n\u000B "),
      (1008L, "ünïcode Tökens écht ünïcode Tökens 日本 語 🙂"),
      (1009L, "a a a a a a a a")
    ).toDF("doc_id", "text")
    val docs = generatedDocs.select(F.col("doc_id"), F.col("text")).union(tricky)
    for (n <- Seq(1, 2, 3, 5)) {
      val cmp = docs.select(F.col("text"),
        F.size(graft.operators.TextAnalysis.tokens(F.col("text"))).as("t"),
        F.call_function("minhash_bands", F.col("text"), F.lit(4), F.lit(8),
          F.lit(n)).as("native"),
        minhashBandKeys(F.col("text"), 4, 8, n).as("composable")).collect()
      assert(cmp.exists(r => r.getInt(1) == 0 && !r.isNullAt(0)), s"n=$n: no T = 0 input")
      assert(cmp.exists(r => r.getInt(1) > 0 && r.getInt(1) < n) || n == 1,
        s"n=$n: no 0 < T < n input")
      cmp.foreach { r =>
        // null text: null keys at every width (the fold's size(null) = -1
        // reads a null text as one null shingle at widths above 1)
        if (r.isNullAt(0)) assert(r.isNullAt(2), s"n=$n: null text gave keys")
        else assert(r.getSeq[String](2) == r.getSeq[String](3),
          s"n=$n: band keys diverged for ${r.getString(0)}")
      }
    }
    // the three-argument form is width 1
    assert(tricky.select(
      F.call_function("minhash_bands", F.col("text"), F.lit(4), F.lit(8)),
      F.call_function("minhash_bands", F.col("text"), F.lit(4), F.lit(8), F.lit(1)))
      .collect().forall(r => r.getSeq[String](0) == r.getSeq[String](1)))
    // and the md5_hash60 native base hash equals the conv-route value
    val h = tricky.select(
      F.call_function("md5_hash60", F.col("text")).as("n"),
      Dedup.md5Hash60(F.col("text")).as("c")).collect()
    h.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("candidate→verify operators: jobs before the action and result pairs") {
    // jobs each operator runs while it is built (the eager feature stage,
    // which also fills the lazy pair stage; the incremental prep stage),
    // counted on the staging as it stood before the shared verify; the
    // same counts hold with this test run alone in a fresh JVM
    // only jobs this thread starts count: each build runs under its own
    // job description, so a job another thread starts is not counted
    val counted = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def run(df: => org.apache.spark.sql.DataFrame, jobs: Int) = {
      val sc = spark.sparkContext
      val tag = java.util.UUID.randomUUID().toString
      var out: org.apache.spark.sql.DataFrame = null
      sc.setJobDescription(tag)
      val started = try jobsOf { out = df } finally sc.setJobDescription(null)
      counted += ((started.count(_ == tag), jobs))
      out.collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
    }
    def ids(ps: Set[(Long, Long, BigDecimal)]) = ps.map(p => (p._1, p._2))
    assert(ids(run(Dedup.minhashLsh(docs, "text", "doc_id", numBands = 8,
      rowsPerBand = 2, shingleN = 1, threshold = 0.5), 4)) ==
      Set((0L, 1L), (0L, 2L), (0L, 4L), (1L, 2L), (1L, 4L), (2L, 4L)))
    assert(ids(run(Dedup.minhashLsh(docs, "text", "doc_id", numBands = 8,
      rowsPerBand = 2, shingleN = 3, threshold = 0.5), 4)) ==
      Set((0L, 1L), (0L, 4L), (1L, 4L)))

    val all = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about spark engines here"),
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "unrelated new document about large corpora and dedup"),
      (12L, "unrelated new document about large corpora and dedup")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-mh-jobs").toString + "/idx"
    Dedup.writeMinhashIndex(all.filter(F.col("doc_id") < 10), "text", "doc_id",
      path, numBands = 4, rowsPerBand = 8, shingleN = 3)
    assert(ids(run(Dedup.minhashLshIncremental(all.filter(F.col("doc_id") >= 10),
      "text", "doc_id", path, numBands = 4, rowsPerBand = 8, shingleN = 3,
      threshold = 0.5, maxBucket = 64), 6)) == Set((0L, 10L), (11L, 12L)))

    val xs = all.filter(F.col("doc_id") =!= 12L)
      .union(Seq((13L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"))
    assert(ids(run(Dedup.minhashLshCross(xs.filter(F.col("doc_id") >= 10),
      "text", "doc_id", xs.filter(F.col("doc_id") < 10), "text", "doc_id",
      numBands = 4, rowsPerBand = 8, shingleN = 3, threshold = 0.5,
      maxBucket = 64), 5)) == Set((10L, 0L), (13L, 0L)))

    val vecs = (0L until 60L).map { i =>
      val x = ((i * 2654435761L) % 997).toFloat / 997f - 0.5f
      val y = ((i * 40503L) % 991).toFloat / 991f - 0.5f
      val z = ((i * 69069L) % 983).toFloat / 983f - 0.5f
      (i, Seq(x, y, z))
    }.toDF("vec_id", "embedding")
    val sets = Seq(Dedup.hyperplanes(4, 3, seed = 7L), Dedup.hyperplanes(4, 3, seed = 8L))
    // (pair count, sum of 100 * id_a + id_b) of the pair sets
    def digest(ps: Set[(Long, Long, BigDecimal)]) =
      (ps.size, ps.toSeq.map(p => 100 * p._1 + p._2).sum)
    val single = run(Dedup.embeddingNearDup(vecs, "embedding", "vec_id",
      sets.head, threshold = 0.8), 4)
    assert(digest(single) == ((96, 170655L)))
    assert(single.forall(_._3 >= 0.8))
    assert(digest(run(Dedup.embeddingNearDupMulti(vecs, "embedding", "vec_id",
      sets, threshold = 0.8), 4)) == ((137, 252690L)))
    assert(counted.map(_._1) == counted.map(_._2), s"jobs (built, expected): $counted")
  }

  test("native gram_hashes matches the composable distinct-gram hashes exactly") {
    import graft.functions.ExprUtils.let
    val tricky = Seq(
      (0L, "the quick brown fox jumps over the quick brown fox"),
      (1L, "a b a b a b a b"),                  // heavy gram repetition
      (2L, "  spaced \t OUT \n tokens  "),      // mixed whitespace + case
      (3L, "single"),                           // shorter than k
      (4L, "ünïcode Tökens écht ünïcode Tökens"), // multi-byte lowercase
      (5L, "x"),
      (6L, "a b c d e f g h i j k l m n o p")
    ).toDF("id", "text")
    def composable(k: Int) =
      let(TextAnalysis.tokens(F.lower(F.col("text")))) { toks =>
        F.array_distinct(F.transform(
          F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
          (i: org.apache.spark.sql.Column) => Dedup.md5Hash60(
            F.array_join(F.slice(toks, i + 1, F.lit(k)), " "))))
      }
    Seq(1, 2, 3, 8).foreach { k =>
      val cmp = tricky.select(F.col("id"),
        F.call_function("gram_hashes", F.col("text"), F.lit(k)).as("n"),
        composable(k).as("c")).collect()
      cmp.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"gram_hashes diverged for id ${r.getLong(0)} at k=$k")
      }
    }
  }

  /** A PQ query's exact sub-distance table, lut(s)(c) =
    * ‖q_sub(s) − codebook(s)(c)‖², summed in element order. */
  private def adcLut(query: Seq[Double],
                     cbs: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] = {
    val subdim = cbs.head.head.length
    cbs.zipWithIndex.map { case (cb, s) =>
      cb.map(code => (0 until subdim).foldLeft(0.0) { (acc, j) =>
        val d = query(s * subdim + j) - code(j); acc + d * d
      })
    }
  }

  private def lutLit(lut: Seq[Seq[Double]]) =
    F.array(lut.map(row => F.array(row.map(F.lit): _*)): _*)

  private def adcNative(codes: org.apache.spark.sql.Column,
                        lut: Seq[Seq[Double]]) =
    F.call_function("pq_adc", codes, lutLit(lut))

  /** The composable ADC reference: m LUT lookups summed in subspace order. */
  private def adcComposable(codes: org.apache.spark.sql.Column,
                            lut: Seq[Seq[Double]]) =
    lut.indices.map { s =>
      F.element_at(F.element_at(lutLit(lut), s + 1), F.element_at(codes, s + 1) + 1)
    }.reduce(_ + _)

  test("native gram_pos_hashes matches the composable positional hashes exactly") {
    val docs = Seq(
      (0L, Seq("a", "b", "a", "b", "c")),
      (1L, Seq("the", "the", "the")),
      (2L, Seq("x", "y")),
      (3L, Seq("ünï", "cöde", "ünï", "cöde")),
      // null elements: skipped in the join, exactly as concat_ws skips them
      (4L, Seq("a", null, "b", "c")),
      (5L, Seq(null, null, "x", null))
    ).toDF("id", "toks")
    Seq(1, 2, 3).foreach { n =>
      val cmp = docs.filter(F.size(F.col("toks")) >= n).select(F.col("id"),
        F.call_function("gram_pos_hashes", F.col("toks"), F.lit(n)).as("na"),
        F.transform(
          F.sequence(F.lit(0), F.size(F.col("toks")) - n),
          (i: org.apache.spark.sql.Column) => Dedup.md5Hash60(F.concat_ws(" ",
            F.slice(F.col("toks"), i + 1, F.lit(n))))).as("co")).collect()
      cmp.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"gram_pos_hashes diverged for id ${r.getLong(0)} at n=$n")
      }
      // and below-n token arrays return an empty array (the operator
      // filters them out; the expression must still be total)
      val short = docs.filter(F.size(F.col("toks")) < n).select(
        F.call_function("gram_pos_hashes", F.col("toks"), F.lit(n)).as("na"))
        .collect()
      short.foreach(r => assert(r.getSeq[Long](0).isEmpty))
    }
  }

  test("topKPerProbe bounded heap matches a full sort and never windows the corpus") {
    val emb = (0L until 60L)
      .map(i => (i, Seq((i % 7).toFloat + 0.1f, (i % 3).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val probes = emb.filter(F.col("vec_id") < 2L)
      .select(F.col("vec_id").as("probe_id"), F.col("embedding").as("probe_vec"))
    val out = Similarity.topKPerProbe(emb, "embedding", "vec_id",
      probes, "probe_vec", "probe_id", k = 5)

    // expected: exact top-5 per probe by (score desc, id asc), computed
    // from a brute-force driver-side sort of all scores
    val all = emb.crossJoin(F.broadcast(probes))
      .select(F.col("probe_id"), F.col("vec_id").as("id"),
        Similarity.cosine(F.col("embedding"), F.col("probe_vec")).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = all.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy { case (_, id, s) => (-s, id) }.take(5).toSeq
    }.toSet
    val got = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)

    // scale shape: partial ObjectHashAggregate heap, no window/sort over
    // the scored corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.contains("Window"))
  }

  test("top n-gram fraction: hand-computed repetition, short-doc floor") {
    val d = Seq((0L, "a b a b c"), (1L, "x"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
    val out = d.select(F.col("doc_id"),
      TextAnalysis.topNgramFrac(F.col("text"), 2).as("f2"),
      TextAnalysis.topNgramFrac(F.col("text"), 3).as("f3"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // grams of doc 0: 2-grams [a b, b a, a b, b c] → max 2 of 4;
    // 3-grams [a b a, b a b, a b c] → max 1 of 3
    assert(out(0L) == ((0.5, 1.0 / 3.0)))
    assert(out(1L) == ((0.0, 0.0))) // shorter than n → 0.0, not NaN
    assert(out(2L) == ((0.0, 0.0)))
    assert(out(3L) == ((0.0, 0.0))) // NULL text → 0.0, not 1.0 (null gram
    // must not null-safe-match the fold seed)
  }

  test("tf-idf top terms: hand-computed scores, rounded-score tie-break") {
    val d = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(d, "text", "doc_id", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4)))
    val byDoc = out.groupBy(_._1).view
      .mapValues(_.sortBy(t => (-t._5, t._2)).toSeq).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=3; df: a→1 b→2 c→2 d→1
    assert(byDoc(1L).map(t => (t._2, t._5)) ==
      Seq(("a", r6(2 * math.log(3.0))), ("b", r6(math.log(1.5)))))
    // doc 2: b and c tie at 1·ln(1.5) — token ascending keeps both, b first
    assert(byDoc(2L).map(_._2) == Seq("b", "c"))
    // doc 3: c = 3·ln(1.5) beats d = ln(3)
    assert(byDoc(3L).map(t => (t._2, t._5)) ==
      Seq(("c", r6(3 * math.log(1.5))), ("d", r6(math.log(3.0)))))
  }

  test("unigram log-prob: hand-computed add-one-smoothed NLL") {
    val d = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // model: a→2 b→1 c→1; N=4, |V|=3 → p = (cnt+1)/7
    val nllA = r(-math.log(3.0 / 7.0), 9)
    val nllB = r(-math.log(2.0 / 7.0), 9)
    val nllC = r(-math.log(2.0 / 7.0), 9)
    assert(out(1L) == r((2 * nllA + nllB) / 3.0, 6))
    assert(out(2L) == r(nllC, 6))
  }

  test("language mixing: code-switched halves flagged, monolingual docs clean") {
    val docs = Seq(
      // 8 EN tokens then 8 DE tokens: with window=8 exactly two chunks,
      // one per language; the doc-level vote ties 6-6 and resolves EN
      // (strict-greater switching, like the oracle's CASE)
      (1L, "the cat is of the dog and is der hund ist die katze und der ist"),
      (2L, "the cat and the dog is of the mat and it is the end of all"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageMix(docs, "text", "doc_id", window = 8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == (("en", 2L, 1L, 0.5)))
    assert(out(2L)._1 == "en" && out(2L)._3 == 0L && out(2L)._4 == 0.0)
    assert(!out.contains(3L)) // empty doc has no chunks
  }

  test("bigram log-prob: hand-computed add-one NLL; sub-2-token docs excluded") {
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // bigram model: (a,b)→3 (b,a)→1; contexts a→3 b→1; V = |{a,b}| = 2
    val nllAB = r(-math.log(4.0 / 5.0), 9) // (3+1)/(3+2)
    val nllBA = r(-math.log(2.0 / 3.0), 9) // (1+1)/(1+2)
    assert(out.keySet == Set(1L, 2L)) // "x" has no bigrams
    assert(out(1L) == r((2 * nllAB + nllBA) / 3.0, 6))
    assert(out(2L) == r(nllAB, 6))
    // ordering sensitivity — the reason this exists next to the unigram
    // model: same tokens, different order, different score
    val shuffled = Seq((1L, "a a b b"), (2L, "a b a b")).toDF("doc_id", "text")
    val s2 = TextAnalysis.bigramLogProb(shuffled, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s2(1L) != s2(2L))
  }

  test("hash embedding: unit-norm, deterministic, count-proportional") {
    val d = Seq((1L, "a a b"), (2L, "a a b"), (3L, "")).toDF("doc_id", "text")
    val out = d.select(F.col("doc_id"),
        TextAnalysis.hashEmbedding(F.col("text"), 32).as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.values.forall(_.size == 32))
    val norm1 = math.sqrt(out(1L).map(x => x * x).sum)
    assert(math.abs(norm1 - 1.0) < 1e-5) // unit L2 norm (up to rounding)
    assert(out(1L) == out(2L)) // same text → identical vector
    assert(out(3L).forall(_ == 0.0)) // empty doc → zero vector, no NaN
    // components ∝ bucket counts: "a" twice, "b" once → 2/√5 and 1/√5
    val nonZero = out(1L).filter(_ != 0.0).sorted
    val r6 = (x: Double) =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(nonZero == Seq(r6(1.0 / math.sqrt(5.0)), r6(2.0 / math.sqrt(5.0))))
  }

  test("inverted index: sorted capped postings via the bounded heap") {
    val d = Seq((3L, "x y"), (1L, "x z x"), (2L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(d, "text", "doc_id", maxPostings = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // "x" appears in all three docs (dedup within doc 1): df 3, postings
    // capped to the two SMALLEST ids, ascending
    assert(out("x") == ((3L, Seq(1L, 2L))))
    assert(out("y") == ((1L, Seq(3L))))
    assert(out("z") == ((1L, Seq(1L))))
    // the heap path is active in this session (extensions registered)
    assert(spark.catalog.functionExists("topk_pairs"))
  }

  test("BM25 top-k: exact single-doc score, ranking, k bound, id tie-break") {
    // one doc, one term: score = idf = ln(1 + 0.5/1.5); the tf/length
    // normalization cancels (len = avgLen = 1 → denom = tf + k1)
    val one = Seq((7L, "a")).toDF("doc_id", "text")
    val s1 = TextAnalysis.bm25TopK(one, "text", "doc_id", "a", k = 5).collect()
    assert(s1.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((7L, BigDecimal(math.log(1.0 + 0.5 / 1.5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    val corpus = Seq(
      (1L, "spark window join spark"),   // both terms, high tf
      (2L, "spark table scan"),          // one term
      (3L, "filter sort order"),         // no terms → absent
      (4L, "window spark"),              // both terms, shorter doc
      (5L, "spark table scan")           // tie with 2 → id order
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(corpus, "text", "doc_id", "spark window", k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.length == 3) // k bound
    assert(!out.map(_._1).contains(3L)) // non-matching doc never scored
    // two-term docs outrank the one-term docs; scores descend
    assert(out.map(_._1).take(2).toSet == Set(1L, 4L))
    assert(out.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    // the tied one-term docs (2, 5) resolve by ascending id
    assert(out(2)._1 == 2L)
  }

  test("batch BM25 equals the single-query operator per query; no-hit queries absent") {
    val corpus = Seq(
      (1L, "spark window join spark"),
      (2L, "spark table scan"),
      (3L, "filter sort order"),
      (4L, "window spark"),
      (5L, "spark table scan")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark window"), (200L, "scan"), (300L, "zzz"))
      .toDF("query_id", "qtext")
    val batch = TextAnalysis.bm25TopKBatch(corpus, "text", "doc_id",
        queries, "query_id", "qtext", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    for ((qid, text) <- Seq(100L -> "spark window", 200L -> "scan")) {
      val single = TextAnalysis.bm25TopK(corpus, "text", "doc_id", text, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"query $qid")
    }
    assert(!batch.contains(300L)) // no matching token → absent, not zeros
  }

  test("BM25 serving index: identical result to the per-query path, pruned scan") {
    val corpus = Seq(
      (1L, "spark window join spark"),
      (2L, "spark table scan"),
      (3L, "filter sort order"),
      (4L, "window spark"),
      (5L, "spark table scan"),
      (6L, "")                         // empty doc counts toward N only
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-bm25-idx").toString + "/idx"
    TextAnalysis.writeBm25Index(corpus, "text", "doc_id", path, numBuckets = 4)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (q <- Seq("spark window", "SPARK", "window join scan")) {
      assert(scores(TextAnalysis.bm25TopKIndexed(spark, path, q, k = 3)) ==
        scores(TextAnalysis.bm25TopK(corpus, "text", "doc_id", q, k = 3)),
        s"query=$q")
    }
    // the layout contract: the query scan partition-prunes to the query
    // terms' token buckets — never a full postings scan
    val plan = TextAnalysis.bm25TopKIndexed(spark, path, "spark", k = 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tbucket".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    // INCREMENTAL append: index on a prefix + appended suffix must equal
    // both the full-rebuild index and the per-query path on everything
    val incPath = java.nio.file.Files
      .createTempDirectory("graft-bm25-inc").toString + "/idx"
    TextAnalysis.writeBm25Index(corpus.filter(F.col("doc_id") <= 3),
      "text", "doc_id", incPath, numBuckets = 4)
    TextAnalysis.appendBm25Index(corpus.filter(F.col("doc_id") > 3),
      "text", "doc_id", incPath)
    for (q <- Seq("spark window", "scan")) {
      assert(scores(TextAnalysis.bm25TopKIndexed(spark, incPath, q, k = 3)) ==
        scores(TextAnalysis.bm25TopK(corpus, "text", "doc_id", q, k = 3)),
        s"incremental query=$q")
    }
    // id-column contract violations fail loudly
    assertThrows[IllegalArgumentException](
      TextAnalysis.appendBm25Index(corpus, "text", "other_id", incPath))
  }

  test("BM25 index generations: appends commit atomically, readers see snapshots") {
    val corpus = Seq(
      (1L, "spark window join spark"), (2L, "spark table scan"),
      (3L, "filter sort order"), (4L, "window spark"),
      (5L, "spark table scan")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-bm25-gen").toString + "/idx"
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    TextAnalysis.writeBm25Index(corpus.filter(F.col("doc_id") <= 3),
      "text", "doc_id", path, numBuckets = 4)
    val preAppend =
      scores(TextAnalysis.bm25TopKIndexed(spark, path, "spark scan", k = 5))
    // a reader constructed NOW pins the current generation (manifest
    // resolved at plan time; segments are immutable)
    val pinned = TextAnalysis.bm25TopKIndexed(spark, path, "spark scan", k = 5)
    TextAnalysis.appendBm25Index(corpus.filter(F.col("doc_id") > 3),
      "text", "doc_id", path)
    // the concurrent reader never observes the half-appended state: it
    // still answers from its own committed generation...
    assert(scores(pinned) == preAppend)
    // ...while a post-commit resolution sees the combined corpus exactly
    assert(scores(TextAnalysis.bm25TopKIndexed(spark, path, "spark scan", k = 5))
      == scores(TextAnalysis.bm25TopK(corpus, "text", "doc_id", "spark scan", k = 5)))
    // the in-between state itself — a segment written but not committed —
    // is invisible: an unreferenced segment directory changes nothing
    val stray = corpus.limit(2).select(
      F.lit("spark").as("token"), F.lit(0).as("tbucket"),
      F.col("doc_id"), F.lit(99L).as("tf"), F.lit(99L).as("len"))
    stray.write.partitionBy("tbucket").mode("overwrite")
      .parquet(s"$path/segments/seg-uncommitted/postings")
    assert(scores(TextAnalysis.bm25TopKIndexed(spark, path, "spark scan", k = 5))
      == scores(TextAnalysis.bm25TopK(corpus, "text", "doc_id", "spark scan", k = 5)))
    // two committed generations on disk — the history the swap leaves
    val gens = new java.io.File(s"$path/manifest").list().toSeq
      .filter(_.startsWith("gen-"))
    assert(gens.size == 2, gens.toString)
  }

  test("PQ codes and ADC top-k: hand-computed codes, distances, tie-break") {
    // 2 subspaces × 1 dim, 2 codes each: everything computable by hand
    val cbs: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(0.0), Seq(1.0)), Seq(Seq(0.0), Seq(2.0)))
    val vecs = Seq(
      (1L, Seq(0.9f, 1.9f)), // codes (1,1): nearest 1.0 then 2.0
      (2L, Seq(0.1f, 0.1f)), // codes (0,0)
      (3L, Seq(0.5f, 0.9f))  // sub0 tie (0.25 vs 0.25) → lowest index 0; sub1 → 0
    ).toDF("vec_id", "embedding")
    val codes = vecs
      .select(F.col("vec_id"), Similarity.pqCodes(F.col("embedding"), cbs).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == Map(1L -> Seq(1, 1), 2L -> Seq(0, 0), 3L -> Seq(0, 0)))
    val top = Similarity.pqTopKAdc(vecs, "embedding", "vec_id",
      query = Seq(1.0, 2.0), cbs, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // ADC: lut = [[1, 0], [4, 0]]
    //   id 1 codes (1,1) → 0 + 0 = 0
    //   id 2 codes (0,0) → 1 + 4 = 5
    //   id 3 codes (0,0) → 1 + 4 = 5 (tie with 2 → id ascending)
    assert(top.toSeq == Seq((1L, 0.0), (2L, 5.0), (3L, 5.0)))
    // IVF-PQ probing EVERY cell is plain PQ (pruning is transparent)
    val cents = Seq(Seq(0.0, 0.0), Seq(1.0, 2.0))
    val pruned = Similarity.pqTopKIvf(vecs, "embedding", "vec_id",
      query = Seq(1.0, 2.0), cents, cbs, k = 3, nprobe = cents.length)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pruned.toSeq == top.toSeq)
    // native tight-loop encoder ≡ composable tree, bit-for-bit
    val both = vecs.select(
        Similarity.pqCodes(F.col("embedding"), cbs).as("n"),
        Similarity.pqCodesComposable(F.col("embedding"), cbs).as("c"))
      .collect()
    assert(both.forall(r => r.getSeq[Int](0) == r.getSeq[Int](1)))
    // native pq_adc ≡ the composable LUT-lookup sum over the composable
    // codes, row by row (the distances the top-k above ranks)
    val lut = adcLut(Seq(1.0, 2.0), cbs)
    val adc = vecs.select(F.col("vec_id"),
        adcNative(Similarity.pqCodes(F.col("embedding"), cbs), lut).as("n"),
        adcComposable(Similarity.pqCodesComposable(F.col("embedding"), cbs), lut)
          .as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(adc == Map(1L -> ((0.0, 0.0)), 2L -> ((5.0, 5.0)), 3L -> ((5.0, 5.0))))
    // a null vector FAILS the native path loudly (a null distance would
    // rank first in ascending top-k — never silently)
    val withNull = Seq((9L, null: Seq[Float])).toDF("vec_id", "embedding")
      .union(vecs)
    val err = intercept[Exception] {
      Similarity.pqTopKAdc(withNull, "embedding", "vec_id",
        query = Seq(1.0, 2.0), cbs, k = 3).collect()
    }
    assert(err.getMessage != null)
  }

  test("incremental minhash against an index equals the batch run filtered to new pairs") {
    val all = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog today"),  // near-dup of 0
      (2L, "completely different content about spark engines here"),
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // new: dup of 0
      (11L, "unrelated new document about large corpora and dedup"),
      (12L, "unrelated new document about large corpora and dedup") // exact dup of 11
    ).toDF("doc_id", "text")
    val old = all.filter(F.col("doc_id") < 10)
    val fresh = all.filter(F.col("doc_id") >= 10)
    val path = java.nio.file.Files.createTempDirectory("graft-mh-idx").toString + "/idx"
    Dedup.writeMinhashIndex(old, "text", "doc_id", path,
      numBands = 4, rowsPerBand = 8, shingleN = 3)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    val incremental = pairs(Dedup.minhashLshIncremental(fresh, "text", "doc_id",
      path, numBands = 4, rowsPerBand = 8, shingleN = 3,
      threshold = 0.5, maxBucket = 64))
    val batch = pairs(Dedup.minhashLsh(all, "text", "doc_id",
      numBands = 4, rowsPerBand = 8, shingleN = 3,
      threshold = 0.5, maxBucket = 64)
      .filter(F.col("id_a") >= 10 || F.col("id_b") >= 10))
    assert(incremental == batch)
    assert(incremental.exists(p => p._1 == 0L && p._2 == 10L))  // new-vs-indexed
    assert(incremental.exists(p => p._1 == 11L && p._2 == 12L)) // new-vs-new
    assert(!incremental.exists(p => p._1 < 10L && p._2 < 10L))  // never old-vs-old
    // reliable = true (real checkpoints instead of executor-local blocks)
    // must not change the pair set — the incremental twin of the batch
    // reliable spec above
    val reliableRun = pairs(Dedup.minhashLshIncremental(fresh, "text", "doc_id",
      path, numBands = 4, rowsPerBand = 8, shingleN = 3,
      threshold = 0.5, maxBucket = 64, reliable = true))
    assert(reliableRun == incremental)
    // a re-ingested id (present in BOTH index and batch) must not emit a
    // degenerate self-pair (id_a == id_b, jaccard 1.0)
    val reIngested = all.filter(F.col("doc_id") === 0L)
      .unionByName(fresh)
    val withDup = Dedup.minhashLshIncremental(reIngested, "text", "doc_id",
      path, numBands = 4, rowsPerBand = 8, shingleN = 3,
      threshold = 0.5, maxBucket = 64).collect()
    assert(withDup.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("containment pairs catch subset duplication that Jaccard scores low") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // fully contained in 2
      (2L, "alpha beta gamma delta " +
        (1 to 40).map(i => s"filler$i").mkString(" ")),
      (3L, "totally unrelated words here nothing shared")
    ).toDF("doc_id", "text")
    val block = F.lit(1) // one block: the scoring is under test
    val cont = Dedup.containmentPairs(docs, "text", "doc_id", block,
        shingleN = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the subset pair scores containment 1.0 (all 4 tokens of doc 1
    // appear in doc 2); nothing else clears 0.9
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // ...while Jaccard on the same pair is 4/44 — invisible to q28's op
    val jac = Dedup.ngramJaccardPairs(docs, "text", "doc_id", block,
        shingleN = 1, threshold = 0.5)
      .collect()
    assert(jac.isEmpty)
  }

  test("cross-table fuzzy decontamination equals batch minhash filtered to cross pairs") {
    val all = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),   // eval
      (1L, "completely unrelated benchmark question about physics"), // eval
      (10L, "the quick brown fox jumps over the lazy dog tonight"),  // dup of 0
      (11L, "the quick brown fox jumps over the lazy dog today"),    // near-dup of 0
      (12L, "totally different corpus document about spark engines"),
      (13L, "the quick brown fox jumps over the lazy dog tonight")   // dup of 0 AND 10
    ).toDF("doc_id", "text")
    val eval_ = all.filter(F.col("doc_id") < 10)
    val corpus = all.filter(F.col("doc_id") >= 10)
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    val cross = norm(Dedup.minhashLshCross(corpus, "text", "doc_id",
      eval_, "text", "doc_id", numBands = 4, rowsPerBand = 8, shingleN = 3,
      threshold = 0.5, maxBucket = 64).collect())
    // contract: equals the batch run over the union, restricted to
    // (corpus, eval) pairs and remapped to (corpus_id, eval_id)
    val batch = norm(Dedup.minhashLsh(all, "text", "doc_id", numBands = 4,
      rowsPerBand = 8, shingleN = 3, threshold = 0.5, maxBucket = 64)
      .filter((F.col("id_a") < 10) =!= (F.col("id_b") < 10))
      .select(
        F.when(F.col("id_a") < 10, F.col("id_b")).otherwise(F.col("id_a")),
        F.when(F.col("id_a") < 10, F.col("id_a")).otherwise(F.col("id_b")),
        F.col("jaccard")).collect())
    assert(cross == batch)
    // identical text → identical signature → guaranteed band collision
    // (near-dups below 1.0 only collide probabilistically — the
    // cross == batch contract above is the exhaustive check)
    assert(cross.exists(p => p._1 == 10L && p._2 == 0L)) // exact dup found
    assert(cross.exists(p => p._1 == 13L && p._2 == 0L)) // second copy too
    assert(!cross.exists(p => p._1 >= 10L && p._2 >= 10L)) // never corpus-corpus
    assert(!cross.exists(p => p._1 < 10L))                 // never eval-eval
    // a shared id across sides is dropped, never a degenerate self-pair
    val shared = Dedup.minhashLshCross(corpus, "text", "doc_id",
      all.filter(F.col("doc_id") === 10L), "text", "doc_id",
      numBands = 4, rowsPerBand = 8, shingleN = 3, threshold = 0.5,
      maxBucket = 64).collect()
    assert(shared.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("corpus diff classifies added/removed/changed/unchanged; normalization-invariant") {
    val oldV = Seq(
      (1L, "alpha beta"),
      (2L, "gamma delta"),
      (3L, "kept  EXACTLY"),   // whitespace/case-normalized match below
      (4L, "soon gone")
    ).toDF("doc_id", "text")
    val newV = Seq(
      (1L, "alpha beta"),       // unchanged
      (2L, "gamma delta EDITED"), // changed
      (3L, "Kept exactly"),     // unchanged under fingerprint normalization
      (5L, "brand new")         // added; 4 removed
    ).toDF("doc_id", "text")
    val out = Dedup.corpusDiff(oldV, newV, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "removed", 5L -> "added"))
  }

  test("stored decontamination index equals the in-flight pipeline") {
    val corpus = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "alpha beta gamma unrelated words here"),
      (22L, "totally different text about spark engines"),
      (23L, "")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("graft-deconidx").toString
    Dedup.writeDeconIndex(eval, "text", s"$d/idx", k = 3,
      expectedGrams = 1000L, numBits = 65536L)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (minShared <- Seq(1, 2)) {
      val indexed = collect(Dedup.decontaminateIndexed(spark, s"$d/idx",
        corpus, "text", "doc_id", minShared = minShared))
      val inflight = collect(Dedup.decontaminate(
        corpus, "text", "doc_id", eval, "text", k = 3, minShared = minShared))
      assert(indexed == inflight, s"minShared=$minShared")
    }
    // k travels WITH the artifact: a probe never re-specifies it
    assert(spark.read.parquet(s"$d/idx/sketch").head().getInt(0) == 3)
    // empty eval set → empty grams + empty sketch → nothing flagged
    Dedup.writeDeconIndex(eval.filter(F.col("doc_id") < 0), "text",
      s"$d/empty", k = 3)
    assert(Dedup.decontaminateIndexed(spark, s"$d/empty", corpus, "text",
      "doc_id").count() == 0)
    // CONDITIONAL BROADCAST (round-16 advice fix): a small on-disk
    // grams index (far under graft.decon.broadcastMaxBytes' 64 MB
    // default) must take the broadcast
    // confirm join even above spark.sql.autoBroadcastJoinThreshold —
    // the plan carries the hint, visible as a broadcast join node
    val plan = Dedup.decontaminateIndexed(spark, s"$d/idx", corpus,
      "text", "doc_id").queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"small gram index must broadcast its confirm join:\n$plan")
  }

  test("bloom decontamination: construction runs only the sketch " +
    "build's jobs, output unchanged") {
    val corpus = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "alpha beta gamma unrelated words here"),
      (22L, "totally different text about spark engines")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota")
    ).toDF("doc_id", "text")
    var out: org.apache.spark.sql.DataFrame = null
    val built = jobsOf {
      out = Dedup.decontaminateBloom(corpus, "text", "doc_id", eval, "text",
        k = 3, minShared = 1, expectedGrams = 1000L, numBits = 65536L)
    }
    // the eval grams' distinct shuffle (which staging runs under AQE)
    // and the sketch aggregate's two jobs; an eager stage of the eval
    // grams adds a count job
    assert(built.length <= 3, s"construction jobs: ${built.length}")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collect(out) == collect(Dedup.decontaminate(
      corpus, "text", "doc_id", eval, "text", k = 3, minShared = 1)))
  }

  test("bloom decontamination equals the exact broadcast pipeline") {
    val corpus = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "alpha beta gamma unrelated words here"),
      (22L, "totally different text about spark engines"),
      (23L, "delta epsilon zeta eta theta iota"),
      (24L, "")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota")
    ).toDF("doc_id", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (minShared <- Seq(1, 2)) {
      val exact = collect(Dedup.decontaminate(
        corpus, "text", "doc_id", eval, "text", k = 3, minShared = minShared))
      val bloom = collect(Dedup.decontaminateBloom(
        corpus, "text", "doc_id", eval, "text", k = 3, minShared = minShared,
        expectedGrams = 1000L, numBits = 65536L))
      assert(bloom == exact, s"minShared=$minShared")
      assert(exact.contains(20L) && exact.contains(23L)) // real overlap found
      assert(!exact.contains(22L) && !exact.contains(24L))
    }
    // empty eval set → null sketch → nothing flagged (and no crash)
    val none = Dedup.decontaminateBloom(
      corpus, "text", "doc_id", eval.filter(F.col("doc_id") < 0), "text")
    assert(none.count() == 0)
    // parameters ABOVE the session's runtime-filter caps (default 4M
    // items / 64 Mbit) still work and stay exact — the conf raise is
    // what makes the 10^8-gram sizing story real
    val big = collect(Dedup.decontaminateBloom(
      corpus, "text", "doc_id", eval, "text", k = 3, minShared = 1,
      expectedGrams = 8000000L, numBits = 80000000L))
    assert(big == collect(Dedup.decontaminate(
      corpus, "text", "doc_id", eval, "text", k = 3, minShared = 1)))
    // the native pair is registered in this session
    assert(spark.catalog.functionExists("bloom_agg"))
    assert(spark.catalog.functionExists("bloom_might_contain"))
    // the above-caps build must not leak raised runtime-filter caps into
    // the CALLER's session (the sketch is built on a scratch session)
    for (key <- Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
                    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"))
      assert(spark.conf.getOption(key).forall(_.toLong <= 67108864L),
        s"$key leaked into the calling session")
    // and no build-scoped global temp view remains
    assert(spark.catalog.listTables("global_temp").collect()
      .forall(!_.name.startsWith("graft_bloom_grams")))
  }

  test("BPE: trainer on the textbook corpus, overlap semantics, " +
       "greedy encoder equals sequential merge application") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}

    // Sennrich's canonical shape: 'lo' dominates, then builds up 'low'
    val docs = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest", "low lower").toDF("text")
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 6)
    assert(merges.length == 6)
    // first merge must be the most frequent pair: 'e','s' and 's','t'
    // tie at 8 (newest x6, widest x2) with ('l','o') at 8 too
    // (low x7, lower x3 -> 10 actually) — just pin determinism and
    // the build-up property instead of hand-counting: re-training is
    // byte-identical, and every merged token's parts were previously
    // adjacent symbols
    assert(TextAnalysis.bpeTrain(docs, "text", numMerges = 6) == merges)

    // overlap: one left-to-right pass, non-overlapping
    assert(TextAnalysis.bpeApplyMerge(Array("a", "a", "a"), "a", "a")
      .toSeq == Seq("aa", "a"))
    assert(TextAnalysis.bpeApplyMerge(Array("a", "a", "a", "a"), "a", "a")
      .toSeq == Seq("aa", "aa"))

    // greedy-by-rank native encoder == sequential application of the
    // merges in training order (the classic equivalence), checked over
    // a corpus with overlap-heavy words
    val tricky = Seq("aaaa abab bbbb abba baab", "low lowest newest wide",
      "aab baa aba bab", "").toDF("text")
    val trickyMerges = TextAnalysis.bpeTrain(
      tricky.union(docs), "text", numMerges = 10)
    def sequential(text: String): Seq[String] = {
      val words = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      words.toSeq.flatMap { w =>
        var syms = w.toCharArray.map(String.valueOf)
        trickyMerges.foreach { case (a, b) =>
          syms = TextAnalysis.bpeApplyMerge(syms, a, b)
        }
        syms
      }
    }
    val got = tricky.union(docs)
      .select(F.col("text"),
        TextAnalysis.bpeEncode(F.col("text"), trickyMerges).as("toks"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == sequential(r.getString(0)),
        s"greedy != sequential for '${r.getString(0)}'")
    }

    // FORWARD-REFERENCING hand-built table (round-16 review finding):
    // ('ab','c') listed BEFORE ('a','b') must still fire once (a,b)
    // merges — greedy-by-rank takes ('ab','c') (rank 0) as soon as
    // 'ab' exists, so "abc" encodes to ONE token, and the rank-0 win
    // over a later duplicate path is preserved
    val fwd = Seq("abc").toDF("text")
      .select(TextAnalysis.bpeEncode(F.col("text"),
        Seq(("ab", "c"), ("a", "b"))).as("toks")).head().getSeq[String](0)
    assert(fwd == Seq("abc"), s"forward-referenced merge must fire: $fwd")

    // NULL text -> NULL tokens; no merges -> pure characters
    val nulled = Seq[(java.lang.Long, String)]((1L, null), (2L, "ab"))
      .toDF("id", "text")
      .select(TextAnalysis.bpeEncode(F.col("text"),
        Seq(("x", "y"))).as("toks")).collect()
    assert(nulled.exists(_.isNullAt(0)))
    assert(nulled.exists(r => !r.isNullAt(0) &&
      r.getSeq[String](0) == Seq("a", "b")))

    // maxWords bounds the driver table: training on only the single
    // most frequent word can never learn pairs absent from it
    val capped = TextAnalysis.bpeTrain(docs, "text", numMerges = 2,
      maxWords = 1)
    val lowPairs = Set(("l", "o"), ("lo", "w"), ("o", "w"), ("l", "ow"))
    assert(capped.forall(lowPairs.contains),
      s"maxWords=1 should train only on 'low': $capped")

    // the INCREMENTAL trainer (pair-delta bookkeeping + lazy heap) must
    // equal a brute-force full-recount reference, merge for merge —
    // including on overlap-heavy and tie-heavy corpora
    def bruteTrain(freqs: Seq[(String, Long)], n: Int): Seq[(String, String)] = {
      var ws = freqs.map { case (w, c) => (w.toCharArray.map(String.valueOf), c) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (out.length < n && !done) {
        val cnt = scala.collection.mutable.HashMap
          .empty[(String, String), Long].withDefaultValue(0L)
        ws.foreach { case (syms, c) =>
          syms.sliding(2).foreach {
            case Array(a, b) => cnt((a, b)) += c
            case _ => ()
          }
        }
        if (cnt.isEmpty) done = true
        else {
          val (p, _) = cnt.minBy { case ((a, b), c) => (-c, a, b) }
          out += p
          ws = ws.map { case (s, c) =>
            (TextAnalysis.bpeApplyMerge(s, p._1, p._2), c)
          }
        }
      }
      out.toSeq
    }
    val corpora = Seq(
      tricky.union(docs),
      Seq("aa aa aa ab ab ba ba bb bb bb").toDF("text"),   // heavy ties
      Seq("xyxyxyxy yxyxyx xxxxxx yyyy").toDF("text"))     // overlaps
    corpora.foreach { c =>
      val freqs = TextAnalysis.bpeWordFreqs(c, "text").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy { case (w, n) => (-n, w) }
      val inc = TextAnalysis.bpeTrain(c, "text", numMerges = 12)
      val brute = bruteTrain(freqs, 12)
      assert(inc == brute, s"incremental $inc != brute $brute")
    }
  }
}

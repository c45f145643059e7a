package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.IndexFamily

/** Multimodal plumbing: binary payload column, partition-batched stub
  * decode (schema + determinism), frame sampling shapes.
  */
class MultimodalSuite extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1, "hello world"), (2, "x" * 700)).toDF("doc_id", "text")

  test("withBinaryPayload adds a binary column of the UTF-8 bytes") {
    val out = Multimodal.withBinaryPayload(docs, "text")
    assert(out.schema("payload").dataType.typeName == "binary")
    val row = out.filter($"doc_id" === 1).select("payload").collect()(0)
    assert(new String(row.getAs[Array[Byte]](0), "UTF-8") == "hello world")
  }

  test("decodeMeta emits keep-columns plus the metadata schema, deterministically") {
    val out = Multimodal.decodeMeta(
      Multimodal.withBinaryPayload(docs, "text"), "payload", keepCols = Seq("doc_id"))
    assert(out.columns.toSeq == Seq("doc_id", "width", "height", "format", "byte_len"))
    val m = out.collect().map(r => r.getInt(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))).toMap
    assert(m(1) == (12, 1, "raw", 11L))      // len 11: w=11%640+1, h=(0%480)+1
    assert(m(2) == (61, 2, "raw", 700L))     // len 700: w=60+1, h=1+1
    // stable across runs
    val again = Multimodal.decodeMeta(
      Multimodal.withBinaryPayload(docs, "text"), "payload", keepCols = Seq("doc_id"))
    assert(rowSet(out) == rowSet(again))
  }

  test("png magic byte is sniffed") {
    val bytes = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47)
    val row = Multimodal.decodeImageStub(bytes)
    assert(row.getString(2) == "png")
  }

  /** Render a real `w`×`h` image and encode it with ImageIO. */
  private def realImage(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, buf)
    buf.toByteArray
  }

  test("decodeImage reads TRUE dimensions and format from real PNG and JPEG bytes") {
    val png = Multimodal.decodeImage(realImage(37, 21, "png"))
    assert((png.getInt(0), png.getInt(1), png.getString(2)) == (37, 21, "png"))
    val jpg = Multimodal.decodeImage(realImage(64, 48, "jpg"))
    assert((jpg.getInt(0), jpg.getInt(1)) == (64, 48))
    assert(jpg.getString(2).startsWith("jp")) // "jpeg" / "jpg" per plugin
  }

  test("decodeMeta on a mixed corpus: real metadata for images, stub for text bytes") {
    val rows = Seq(
      (1, realImage(37, 21, "png")),
      (2, "plain text, not an image".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "payload")
    val out = Multimodal.decodeMeta(df, "payload", keepCols = Seq("doc_id"))
    val m = out.collect().map(r => r.getInt(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))).toMap
    assert(m(1) == (37, 21, "png", rows.head._2.length.toLong))
    val stub = Multimodal.decodeImageStub(rows(1)._2)
    assert(m(2) == (stub.getInt(0), stub.getInt(1), "raw", rows(1)._2.length.toLong))
  }

  test("resizeImage rescales decodable payloads and passes through the rest") {
    val df = Seq(
      (1, realImage(100, 60, "png")),
      (2, "not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.resizeImage(df, "payload", w = 25, h = 15).collect()
      .map(r => r.getInt(0) -> (r.getAs[Array[Byte]](2), r.getBoolean(3))).toMap
    val (rbytes, ok) = out(1)
    assert(ok)
    val back = Multimodal.decodeImage(rbytes)
    assert((back.getInt(0), back.getInt(1), back.getString(2)) == (25, 15, "png"))
    val (passthrough, ok2) = out(2)
    assert(!ok2 && new String(passthrough, "UTF-8") == "not an image")
  }

  test("featureStub emits unit-norm float vectors usable by the similarity operators") {
    val out = Multimodal.featureStub(
      Multimodal.withBinaryPayload(docs, "text"), "payload", dim = 8)
    val vecs = out.select("doc_id", "features").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(vecs(1).length == 8 && vecs(2).length == 8)
    val norm = math.sqrt(vecs(1).map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    // deterministic
    val again = Multimodal.featureStub(
      Multimodal.withBinaryPayload(docs, "text"), "payload", dim = 8)
      .select("doc_id", "features").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(vecs == again)
  }

  test("resizeStub pads or truncates to the target byte length") {
    val out = Multimodal.resizeStub(
      Multimodal.withBinaryPayload(docs, "text"), "payload", targetBytes = 64)
    out.select("resized").collect().foreach { r =>
      assert(r.getAs[Array[Byte]](0).length == 64)
    }
  }

  /** Encode a real PCM WAV in memory via the JDK sound stack. */
  private def realWav(sampleRate: Float, channels: Int, nFrames: Int): Array[Byte] = {
    val af = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels, true, false)
    val pcm = new Array[Byte](nFrames * af.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), af, nFrames.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  test("decodeAudio reads TRUE sample rate/channels/frames from real WAV bytes") {
    val row = Multimodal.decodeAudio(realWav(16000f, 2, 320))
    assert(row.getFloat(0) == 16000f)
    assert(row.getInt(1) == 2)
    assert(row.getLong(2) == 320L)
    assert(row.getString(3).contains("pcm"))
  }

  test("decodeAudioMeta on a mixed corpus: real metadata for WAV, stub for text") {
    val rows = Seq(
      (1, realWav(8000f, 1, 100)),
      (2, "not audio at all".getBytes("UTF-8")))
    val df = rows.toDF("id", "payload")
    val out = Multimodal.decodeAudioMeta(df, "payload", Seq("id"))
    val m = out.collect().map(r =>
      r.getInt(0) -> (r.getFloat(1), r.getInt(2), r.getLong(3), r.getString(4))).toMap
    assert(m(1) == (8000f, 1, 100L, "pcm_signed"))
    assert(m(2)._1 == 0f && m(2)._4 == "raw") // stub path, total function
  }

  /** Minimal ISO-BMFF fixture: real box structure (ftyp + moov with
    * mvhd, a video trak with tkhd dimensions and an stsd codec entry,
    * and an audio trak), no media data — exactly the bytes a container
    * metadata walk reads.
    */
  private def minimalMp4(
      brand: String, timescale: Long, duration: Long,
      w: Int, h: Int, codec: String): Array[Byte] = {
    def be32(v: Long) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ typ.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(0) ++
      brand.getBytes("US-ASCII"))
    // mvhd v0: creation, modification, timescale, duration, then rate/
    // volume/reserved/matrix/predefines/next-track-id (zeros suffice)
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++
      be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
      Array.fill[Byte](80)(0))
    // tkhd v0: creation, modification, track id, reserved, duration,
    // reserved(8), layer/group/volume/reserved(8), matrix(36), w, h
    def tkhd(id: Long, wf: Int, hf: Int) = box("tkhd",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(id) ++ be32(0) ++
        be32(duration) ++ Array.fill[Byte](8)(0) ++ Array.fill[Byte](8)(0) ++
        Array.fill[Byte](36)(0) ++ be32(wf.toLong << 16) ++ be32(hf.toLong << 16))
    def stsd(fourcc: String) = box("stsd",
      Array[Byte](0, 0, 0, 0) ++ be32(1) ++
        box(fourcc, Array.fill[Byte](8)(0)))
    def trak(id: Long, wf: Int, hf: Int, fourcc: String) = box("trak",
      tkhd(id, wf, hf) ++
        box("mdia", box("minf", box("stbl", stsd(fourcc)))))
    ftyp ++ box("moov", mvhd ++ trak(1, w, h, codec) ++ trak(2, 0, 0, "mp4a"))
  }

  test("decodeVideo walks a real ISO-BMFF container: duration, tracks, dims, codec") {
    val mp4 = minimalMp4("isom", timescale = 1000, duration = 5500,
      w = 640, h = 360, codec = "avc1")
    val row = Multimodal.decodeVideo(mp4)
    assert(row.getLong(0) == 5500L) // duration_ms = duration/timescale
    assert(row.getInt(1) == 2)      // both traks counted
    assert(row.getInt(2) == 640 && row.getInt(3) == 360)
    assert(row.getString(4) == "avc1")
    assert(row.getString(5) == "isom")
    assert(row.getLong(6) == mp4.length.toLong)
    // a different timescale rescales the duration
    val ntsc = Multimodal.decodeVideo(minimalMp4("mp42", 90000, 450000, 1920, 1080, "hvc1"))
    assert(ntsc.getLong(0) == 5000L && ntsc.getInt(2) == 1920)
    assert(ntsc.getString(4) == "hvc1" && ntsc.getString(5) == "mp42")
  }

  test("decodeVideoMeta on a mixed corpus: box walk for MP4, stub for text bytes") {
    val rows = Seq(
      (1, minimalMp4("isom", 600, 1200, 320, 240, "avc1")),
      (2, "definitely not a video".getBytes("UTF-8")))
    val df = rows.toDF("id", "payload")
    val out = Multimodal.decodeVideoMeta(df, "payload", Seq("id"))
    val m = out.collect().map(r =>
      r.getInt(0) -> (r.getLong(1), r.getInt(2), r.getInt(3), r.getString(5), r.getString(6))).toMap
    assert(m(1) == (2000L, 2, 320, "avc1", "isom"))
    val textLen = "definitely not a video".getBytes("UTF-8").length.toLong
    assert(m(2) == (textLen / 8L, 0, 0, "raw", "none")) // stub, total function
    // truncated/corrupt MP4 falls back to the stub instead of throwing
    val corrupt = minimalMp4("isom", 600, 1200, 320, 240, "avc1").take(20)
    assert(Multimodal.decodeVideo(corrupt).getString(5) == "none")
  }

  test("frameSample slices the payload into n positive-length frames") {
    val out = Multimodal.frameSample(
      Multimodal.withBinaryPayload(docs.filter($"doc_id" === 2), "text"),
      "payload", n = 4)
    val frames = out.select("frame_idx", "frame_bytes").collect()
    assert(frames.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    val total = frames.map(_.getAs[Array[Byte]](1).length).sum
    assert(total == 700)
  }

  /** A structured gradient image with optional per-pixel noise and a
    * brightness shift — the perceptual-robustness test material.
    */
  private def gradImage(seed: Int, noise: Int, shift: Int): Array[Byte] = {
    val (w, h) = (64, 64)
    val rnd = new scala.util.Random(seed)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      val base = if (((x / 8) + (y / 8)) % 2 == 0) 40 else 215 // checkerboard
      val v = math.max(0, math.min(255,
        base + shift + (if (noise > 0) rnd.nextInt(2 * noise + 1) - noise else 0)))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  /** WAV with an explicit per-frame envelope (|amplitude| pattern). */
  private def envelopeWav(nFrames: Int, gain: Double, pattern: Int => Double)
      : Array[Byte] = {
    val af = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](nFrames * 2)
    for (f <- 0 until nFrames) {
      val v = math.max(-32767, math.min(32767,
        (pattern(f) * gain * 20000).toInt)).toShort
      pcm(2 * f) = (v & 0xff).toByte
      pcm(2 * f + 1) = ((v >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), af, nFrames.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  test("audioHash64: volume-invariant, envelope-sensitive, total on non-audio") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // loud first half, quiet second half
    val pat: Int => Double = f => if (f < 3200) 1.0 else 0.05
    val base = Multimodal.audioHash64(envelopeWav(6400, 1.0, pat))
    // identical bytes → identical hash; HALF the volume → identical hash
    assert(base == Multimodal.audioHash64(envelopeWav(6400, 1.0, pat)))
    assert(ham(base, Multimodal.audioHash64(envelopeWav(6400, 0.5, pat))) <= 2)
    // the mirrored envelope is far
    val mirrored = Multimodal.audioHash64(
      envelopeWav(6400, 1.0, f => if (f < 3200) 0.05 else 1.0))
    assert(ham(base, mirrored) >= 48, ham(base, mirrored).toString)
    // non-audio payloads: deterministic fallback, still dedups
    val t1 = Multimodal.audioHash64("not audio".getBytes("UTF-8"))
    assert(t1 == Multimodal.audioHash64("not audio".getBytes("UTF-8")))
    assert(t1 != Multimodal.audioHash64("different".getBytes("UTF-8")))
  }

  /** Per-window level (5-step grid) for the shift tests — exact under
    * halving (levels are multiples of 0.05 → int samples at gain 1.0
    * and 0.5 alike), pseudo-random per (seed, window).
    */
  private def wlevel(seed: Int, wi: Int): Double = {
    var x = (wi.toLong + seed.toLong * 1000L) * 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x ^= x >>> 31
    0.10 + 0.05 * java.lang.Math.floorMod(x, 5L)
  }

  private def windowWav(gain: Double, levels: Array[Double],
      windowSamples: Int = 400): Array[Byte] =
    envelopeWav(levels.length * windowSamples, gain,
      f => levels(f / windowSamples))

  test("audioSubFingerprints: trim/pad keep interior fps, global hash re-rolls") {
    val nW = 60
    val trim = 4
    val base = Array.tabulate(nW)(wi => wlevel(1, wi))
    val trimmed = Array.tabulate(nW - trim)(wi => wlevel(1, wi + trim))
    val padded = Array.tabulate(nW + trim)(
      wi => if (wi < trim) 0.05 else wlevel(1, wi - trim))
    val other = Array.tabulate(nW)(wi => wlevel(2, wi))
    def fps(l: Array[Double], gain: Double = 1.0) =
      Multimodal.audioSubFingerprints(windowWav(gain, l)).toSet
    val fBase = fps(base)
    assert(fBase.size >= 8, s"too few fingerprints: ${fBase.size}")
    // trimming/padding whole windows keeps the interior delta bits —
    // most winnowed fingerprints survive
    val sharedTrim = (fBase & fps(trimmed)).size
    val sharedPad = (fBase & fps(padded)).size
    assert(sharedTrim >= 6, s"trim shared only $sharedTrim")
    assert(sharedPad >= 6, s"pad shared only $sharedPad")
    // ...while the whole-clip envelope hash re-rolls on the same trim
    val hBase = Multimodal.audioHash64(windowWav(1.0, base))
    val hTrim = Multimodal.audioHash64(windowWav(1.0, trimmed))
    assert(java.lang.Long.bitCount(hBase ^ hTrim) >= 12,
      s"global hash unexpectedly stable: ${java.lang.Long.bitCount(hBase ^ hTrim)}")
    // exact gain invariance on the grid levels (delta signs compare
    // scaled sums; the 0.05-grid samples halve exactly)
    assert(fps(base, 0.5) == fBase)
    // an unrelated pattern shares at most chance grams
    val sharedOther = (fBase & fps(other)).size
    assert(sharedOther <= 2, s"cross-pattern shared $sharedOther")
    // total on garbage: empty, not a throw
    assert(Multimodal.audioSubFingerprints("not audio".getBytes("UTF-8")).isEmpty)
  }

  test("audioShiftDedupPairs: blocked join == naive intersections, classes pair") {
    val nW = 60
    val trim = 4
    def levels(p: Int, variant: Int): Array[Double] = variant match {
      case 0 => Array.tabulate(nW)(wi => wlevel(p, wi))
      case 1 => Array.tabulate(nW - trim)(wi => wlevel(p, wi + trim))
      case _ => Array.tabulate(nW + trim)(
        wi => if (wi < trim) 0.05 else wlevel(p, wi - trim))
    }
    val wavs = (0 until 9).map { m =>
      (m.toLong, windowWav(1.0, levels(m / 3, m % 3)))
    }
    val minShared = 4
    val got = Multimodal.audioShiftDedupPairs(
        wavs.toDF("id", "payload"), "id", "payload", minShared = minShared)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = (for {
      (a, ba) <- wavs; (b, bb) <- wavs if a < b
      n = (Multimodal.audioSubFingerprints(ba).toSet &
        Multimodal.audioSubFingerprints(bb).toSet).size
      if n >= minShared
    } yield (a, b, n.toLong)).toSet
    assert(got == naive)
    // every same-pattern variant pair matches; no cross-pattern pair
    val pairs = got.map { case (a, b, _) => (a, b) }
    val expected = (for {
      a <- 0L until 9L; b <- 0L until 9L if a < b && a / 3 == b / 3
    } yield (a, b)).toSet
    assert(pairs == expected, s"got $pairs")
  }

  /** The three structurally distinct 64² scene patterns (the
    * pHash-margin shapes) — shared by the scene/maintainer tests.
    */
  private def sceneFrame(kind: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 64; y <- 0 until 64) {
      val fx = x / 64.0
      val fy = y / 64.0
      val bright = kind match {
        case 0 => fx > fy
        case 1 => (fx - 0.5) * (fx - 0.5) + (fy - 0.5) * (fy - 0.5) < 0.09
        case _ => fx + fy < 0.7
      }
      val v = if (bright) 210 else 45
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  test("videoScenes: cuts at pattern changes; scene pairs == naive keyframe hamming") {
    // three structurally distinct patterns (the pHash-margin shapes)
    def render(kind: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        val fx = x / 64.0
        val fy = y / 64.0
        val bright = kind match {
          case 0 => fx > fy
          case 1 => (fx - 0.5) * (fx - 0.5) + (fy - 0.5) * (fy - 0.5) < 0.09
          case _ => fx + fy < 0.7
        }
        val v = if (bright) 210 else 45
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    // video v: frames 0..8, cut after frame 2 + (v % 3); scene patterns
    // c and (c + 1) % 3 with c = v % 3 — video 3 repeats video 0's shots
    def pat(v: Long, fi: Int): Int = {
      val c = (v % 3).toInt
      if (fi <= 2 + c) c else (c + 1) % 3
    }
    val frames = for { v <- 0L until 4L; fi <- 0 until 9 }
      yield (v, fi, render(pat(v, fi)))
    val fdf = frames.toDF("id", "frame_idx", "payload")
    val scenes = Multimodal.videoScenes(fdf, "id", "frame_idx", "payload")
    val got = scenes
      .select("id", "scene_idx", "start_frame", "end_frame", "n_frames")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    val expected = (0L until 4L).flatMap { v =>
      val c = (v % 3).toInt
      Seq((v, 0L, 0, 2 + c, (3 + c).toLong), (v, 1L, 3 + c, 8, (6 - c).toLong))
    }.toSet
    assert(got == expected)
    // keyframe hash = the first frame's pHash
    val ph = scenes.filter(col("id") === 0 && col("scene_idx") === 0)
      .select("scene_phash").collect()(0).getLong(0)
    assert(ph == Multimodal.pHash64(render(0)))
    // cross-video scene near-dup == naive pairing over keyframe hashes
    val pairs = Multimodal.videoSceneNearDupPairs(
        fdf, "id", "frame_idx", "payload")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)), r.getInt(4)))
      .toSet
    val keyframes = expected.toSeq.map { case (v, s, st, _, _) =>
      ((v, s), Multimodal.pHash64(render(pat(v, st)))) }
    val naive = (for {
      (ka, ha) <- keyframes; (kb, hb) <- keyframes
      if Ordering[(Long, Long)].lt(ka, kb)
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 10
    } yield (ka, kb, d)).toSet
    assert(pairs == naive)
    assert(pairs.nonEmpty)
    // the repeated-shot videos (0 and 3) share both scenes
    assert(pairs.contains(((0L, 0L), (3L, 0L), 0)))
    assert(pairs.contains(((0L, 1L), (3L, 1L), 0)))
  }

  test("scene index: build/append/probe == naive keyframe pairs; video tombstones drop") {
    def render(kind: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        val fx = x / 64.0
        val fy = y / 64.0
        val bright = kind match {
          case 0 => fx > fy
          case 1 => (fx - 0.5) * (fx - 0.5) + (fy - 0.5) * (fy - 0.5) < 0.09
          case _ => fx + fy < 0.7
        }
        val v = if (bright) 210 else 45
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    def pat(v: Long, fi: Int): Int = {
      val c = (v % 3).toInt
      if (fi <= 2 + c) c else (c + 1) % 3
    }
    val frames = for { v <- 0L until 6L; fi <- 0 until 9 }
      yield (v, fi, render(pat(v, fi)))
    val fdf = frames.toDF("id", "frame_idx", "payload")
    val (idxSide, probeSide) =
      (fdf.filter($"id" % 2 === 0), fdf.filter($"id" % 2 === 1))
    val p = java.nio.file.Files.createTempDirectory("sceneidx").toString
    Multimodal.buildSceneIndex(
      idxSide.filter($"id" === 0L), "id", "frame_idx", "payload", p)
    Multimodal.appendToSceneIndex(
      idxSide.filter($"id" =!= 0L), "id", "frame_idx", "payload", p)
    def probe() = Multimodal.dedupAgainstSceneIndex(
        spark, probeSide, "id", "frame_idx", "payload", p)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    // naive: scene s of video v shows pattern (v % 3 + s) % 3; equal
    // patterns pair at hamming 0 across the probe/index split
    val naive = (for {
      a <- Seq(1L, 3L, 5L); sa <- 0L to 1L
      b <- Seq(0L, 2L, 4L); sb <- 0L to 1L
      if (a % 3 + sa) % 3 == (b % 3 + sb) % 3
    } yield (a, sa, b, sb, 0)).toSet
    assert(probe() == naive)
    // tombstoning an index VIDEO drops all its scenes; re-append resurrects
    IndexFamily.Stored.scene("id", p).delete(Seq(0L).toDF("id"))
    assert(probe() == naive.filterNot(_._3 == 0L))
    Multimodal.appendToSceneIndex(
      idxSide.filter($"id" === 0L), "id", "frame_idx", "payload", p)
    assert(probe() == naive)
  }

  test("audio-fp index: build/append/probe == naive intersections; tombstones drop") {
    val nW = 60
    def levels(p: Int, variant: Int): Array[Double] = variant match {
      case 0 => Array.tabulate(nW)(wi => wlevel(p, wi))
      case 1 => Array.tabulate(nW - 4)(wi => wlevel(p, wi + 4))
      case _ => Array.tabulate(nW + 4)(
        wi => if (wi < 4) 0.05 else wlevel(p, wi - 4))
    }
    val wavs = (0 until 12).map { i =>
      (i.toLong, windowWav(1.0, levels(i / 4, i % 3)))
    }
    val (idxSide, probeSide) = wavs.partition(_._1 % 2 == 0)
    val p = java.nio.file.Files.createTempDirectory("audiofpidx").toString
    Multimodal.buildAudioFpIndex(
      idxSide.take(3).toDF("id", "payload"), "id", "payload", p)
    Multimodal.appendToAudioFpIndex(
      idxSide.drop(3).toDF("id", "payload"), "id", "payload", p)
    def probe() = Multimodal.dedupAgainstAudioFpIndex(
        spark, probeSide.toDF("id", "payload"), "id", "payload", p,
        minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = (for {
      (a, ba) <- probeSide; (b, bb) <- idxSide
      n = (Multimodal.audioSubFingerprints(ba).toSet &
        Multimodal.audioSubFingerprints(bb).toSet).size
      if n >= 4
    } yield (a, b, n.toLong)).toSet
    assert(probe() == naive)
    assert(naive.nonEmpty)
    // tombstones: a deleted index clip stops matching without rebuild
    val victim = naive.head._2
    IndexFamily.Stored.audioFp("id", p).delete(Seq(victim).toDF("id"))
    assert(probe() == naive.filterNot(_._2 == victim))
    // compaction: tombstoned rows die physically, one fresh segment,
    // probes unchanged; re-appending the victim resurrects it
    IndexFamily.Stored.audioFp("id", p).compact(spark)
    assert(graft.sources.IndexIO.segments(spark, p).length == 1)
    assert(probe() == naive.filterNot(_._2 == victim))
    Multimodal.appendToAudioFpIndex(
      idxSide.filter(_._1 == victim).toDF("id", "payload"), "id", "payload", p)
    assert(probe() == naive)
  }

  test("audio-hash index: build/append/probe == naive cross hamming") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val wavs = (0 until 12).map { i =>
      val cls = i % 3
      val pat: Int => Double = f => if ((f * 3 / 3200) % 3 == cls) 1.0 else 0.08
      (i.toLong, envelopeWav(3200, 0.5 + 0.1 * (i / 3), pat))
    }
    val (idxSide, probeSide) = wavs.partition(_._1 % 2 == 0)
    val p = java.nio.file.Files.createTempDirectory("audioidx").toString
    Multimodal.buildAudioHashIndex(
      idxSide.take(3).toDF("id", "payload"), "id", "payload", p)
    Multimodal.appendToAudioHashIndex(
      idxSide.drop(3).toDF("id", "payload"), "id", "payload", p)
    val got = Multimodal.dedupAgainstAudioHashIndex(
        spark, probeSide.toDF("id", "payload"), "id", "payload", p, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val naive = (for {
      (a, ba) <- probeSide
      (b, bb) <- idxSide
      d = ham(Multimodal.audioHash64(ba), Multimodal.audioHash64(bb)) if d <= 6
    } yield (a, b, d)).toSet
    assert(got == naive)
    assert(naive.nonEmpty)
  }

  test("audioNearDupPairs: blocked join == naive hamming over envelopes") {
    // 4 envelope classes, per-instance gain variation inside each
    val wavs = (0 until 16).map { i =>
      val cls = i % 4
      val pat: Int => Double = f =>
        if ((f * 4 / 3200) % 4 == cls) 1.0 else 0.08
      (i.toLong, envelopeWav(3200, 0.6 + 0.1 * (i / 4), pat))
    }
    val df = wavs.toDF("id", "payload")
    val pairs = Multimodal.audioNearDupPairs(df, "id", "payload", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hashes = wavs.map { case (id, b) => id -> Multimodal.audioHash64(b) }
    val naive = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(pairs == naive)
    assert(pairs.nonEmpty)
  }

  test("aHash index lifecycle: build/append/probe == naive; tombstones drop matches") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val imgs = (0 until 18).map(i => (i.toLong, gradImage(300 + i, 8, (i % 3) * 40)))
    val (idxSide, probeSide) = imgs.partition(_._1 % 2 == 0)
    val p = java.nio.file.Files.createTempDirectory("ahashidx").toString
    Multimodal.buildAHashIndex(
      idxSide.take(5).toDF("id", "payload"), "id", "payload", p)
    Multimodal.appendToAHashIndex(
      idxSide.drop(5).toDF("id", "payload"), "id", "payload", p)
    def probe() = Multimodal.dedupAgainstAHashIndex(
        spark, probeSide.toDF("id", "payload"), "id", "payload", p, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val naive = (for {
      (a, ba) <- probeSide
      (b, bb) <- idxSide
      d = ham(Multimodal.aHash64(ba), Multimodal.aHash64(bb)) if d <= 6
    } yield (a, b, d)).toSet
    assert(probe() == naive)
    assert(naive.nonEmpty)
    // takedown: the deleted index id stops matching without a rebuild
    val victim = naive.head._2
    IndexFamily.Stored.aHash("id", p).delete(Seq(victim).toDF("id"))
    assert(probe() == naive.filterNot(_._2 == victim))
  }

  test("dedupAgainstAHashIndex reads one version: a compaction mid-call cannot resurrect a " +
      "delete") {
    import graft.operators.{CompactOnOpenAbstractFileSystem, CompactOnOpenFileSystem}
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cmpctfs.impl", classOf[CompactOnOpenFileSystem].getName)
    conf.set("fs.AbstractFileSystem.cmpctfs.impl",
      classOf[CompactOnOpenAbstractFileSystem].getName)
    val base = s"cmpctfs://${java.nio.file.Files.createTempDirectory("graft_ahash_onever_")}/idx"
    val imgs = (0 until 6).map(i => (i.toLong, gradImage(500 + i, 0, 0)))
    Multimodal.buildAHashIndex(imgs.take(3).toDF("id", "payload"), "id", "payload", base)
    Multimodal.appendToAHashIndex(imgs.drop(3).toDF("id", "payload"), "id", "payload", base)
    IndexFamily.Stored.aHash("id", base).delete(Seq(1L).toDF("id"))
    val probes = imgs.take(2).map { case (i, b) => (i + 100L, b) }.toDF("id", "payload")
    CompactOnOpenFileSystem.fired = false
    CompactOnOpenFileSystem.onPointerOpen =
      Some(() => IndexFamily.Stored.aHash("id", base).compact(spark))
    val served =
      try Multimodal.dedupAgainstAHashIndex(spark, probes, "id", "payload", base, maxHamming = 0)
      finally CompactOnOpenFileSystem.onPointerOpen = None
    assert(CompactOnOpenFileSystem.fired, "the compaction hook never ran")
    assert(graft.sources.IndexIO.segments(spark, base).size == 1)
    val got = served.select("index_id").as[Long].collect().toSet
    assert(!got.contains(1L), "deleted image 1 came back")
    // the six images are one noise-free checkerboard: every live id matches
    assert(got == Set(0L, 2L, 3L, 4L, 5L))
  }

  test("image dedup gate serves a STREAM: MemoryStream probe == batch probe") {
    val imgs = (0 until 12).map(i => (i.toLong, gradImage(400 + i, 8, (i % 3) * 40)))
    val (idxSide, probeSide) = imgs.partition(_._1 % 2 == 0)
    val p = java.nio.file.Files.createTempDirectory("ahashstream").toString
    Multimodal.buildAHashIndex(idxSide.toDF("id", "payload"), "id", "payload", p)
    val batch = Multimodal.dedupAgainstAHashIndex(
        spark, probeSide.toDF("id", "payload"), "id", "payload", p, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte])]
    val gated = Multimodal.dedupAgainstAHashIndex(
      spark, input.toDF().toDF("id", "payload"), "id", "payload", p, maxHamming = 6)
    val q = gated.writeStream.format("memory").queryName("ahash_gate")
      .outputMode("append").start()
    try {
      probeSide.grouped(2).foreach { b => input.addData(b); q.processAllAvailable() }
      val live = spark.table("ahash_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(live == batch)
      assert(batch.nonEmpty)
      // the gate is STATELESS: the probe side must stay a blocked
      // stream-static join — the batch-side distinct-sig collapse must
      // never become a streaming dedup + stream-stream join (unbounded
      // state on a 24/7 ingest gate)
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.map(_.operatorName).mkString(","))
    } finally q.stop()
  }

  test("aHash64: stable under noise/re-encode/brightness, far for unrelated, total") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = Multimodal.aHash64(gradImage(1, 0, 0))
    // identical bytes: identical hash
    assert(base == Multimodal.aHash64(gradImage(1, 0, 0)))
    // mild noise and global brightness shift barely move the hash
    assert(ham(base, Multimodal.aHash64(gradImage(2, 12, 0))) <= 4)
    assert(ham(base, Multimodal.aHash64(gradImage(1, 0, 25))) <= 4)
    // the inverted checkerboard is maximally far
    val inverted = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        val v = if (((x / 8) + (y / 8)) % 2 == 0) 215 else 40
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      Multimodal.aHash64(buf.toByteArray)
    }
    assert(ham(base, inverted) >= 48, ham(base, inverted).toString)
    // non-image payloads: deterministic byte-hash fallback, still dedups
    val t1 = Multimodal.aHash64("not an image".getBytes("UTF-8"))
    assert(t1 == Multimodal.aHash64("not an image".getBytes("UTF-8")))
    assert(t1 != Multimodal.aHash64("other bytes".getBytes("UTF-8")))
  }

  /** Low-frequency structured image for the pHash pins: smooth regions
    * (half-plane / diagonal / disc), pattern picked by `kind`, with
    * optional per-pixel noise. PNG-encoded at `w`×`h`.
    */
  private def structImage(kind: Int, w: Int, h: Int, noise: Int,
      seed: Int = 0): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      val fx = x.toDouble / w
      val fy = y.toDouble / h
      val bright = kind match {
        case 0 => fx < 0.5
        case 1 => fx > fy
        case 2 => (fx - 0.5) * (fx - 0.5) + (fy - 0.5) * (fy - 0.5) < 0.09
        case 3 => fy < 0.33 || fy > 0.66
        case _ => fx + fy < 0.7
      }
      val base = if (bright) 210 else 45
      val v = math.max(0, math.min(255,
        base + (if (noise > 0) rnd.nextInt(2 * noise + 1) - noise else 0)))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  /** Decode + central crop by `border` pixels per side + PNG re-encode. */
  private def croppedPng(bytes: Array[Byte], border: Int): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val sub = img.getSubimage(border, border,
      img.getWidth - 2 * border, img.getHeight - 2 * border)
    val out = new java.awt.image.BufferedImage(
      sub.getWidth, sub.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try g.drawImage(sub, 0, 0, null) finally g.dispose()
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", buf)
    buf.toByteArray
  }

  test("pHash64: stable under rescale/crop/noise/brightness, far for unrelated, total") {
    // margins measured with tools/PHashProbe over the deterministic
    // fixtures; the scale-relative coefficient quantization is what
    // keeps low-complexity (flat/synthetic) images stable — a raw
    // median split re-rolled ~25 bits under noise on half-plane images
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = Multimodal.pHash64(structImage(1, 64, 64, 0))
    // identical bytes: identical hash
    assert(base == Multimodal.pHash64(structImage(1, 64, 64, 0)))
    // RESCALE (both directions) — the aHash weak spot this hash covers
    val up = Multimodal.pHash64(structImage(1, 96, 96, 0))
    val down = Multimodal.pHash64(structImage(1, 40, 40, 0))
    assert(ham(base, up) <= 4, s"rescale up moved ${ham(base, up)} bits")
    assert(ham(base, down) <= 4, s"rescale down moved ${ham(base, down)} bits")
    // CROP of a 4px border (12.5% linear)
    val crop = Multimodal.pHash64(croppedPng(structImage(1, 64, 64, 0), 4))
    assert(ham(base, crop) <= 4, s"crop moved ${ham(base, crop)} bits")
    // per-pixel noise
    val noisy = Multimodal.pHash64(structImage(1, 64, 64, 12, seed = 9))
    assert(ham(base, noisy) <= 4, s"noise moved ${ham(base, noisy)} bits")
    // structurally different patterns are far
    for (k <- Seq(0, 2, 4)) {
      val other = Multimodal.pHash64(structImage(k, 64, 64, 0))
      assert(ham(base, other) >= 16, s"kind $k only ${ham(base, other)} bits away")
    }
    // non-image payloads: deterministic byte-hash fallback, still dedups
    val t1 = Multimodal.pHash64("not an image".getBytes("UTF-8"))
    assert(t1 == Multimodal.pHash64("not an image".getBytes("UTF-8")))
    assert(t1 != Multimodal.pHash64("other bytes".getBytes("UTF-8")))
  }

  test("imageNearDupPairsPhash: rescaled+cropped variants cluster by base image") {
    // 3 bases × (original, rescaled, cropped): pairs at the radius must
    // be exactly the same-base pairs — the oracle-replayable assignment
    // rule the gate query uses. Kinds 1/2/4 (probe: minCross 22,
    // maxSame 15 → radius 16 splits with 6 bits of margin both ways).
    val variants = for {
      (kind, b) <- Seq(1, 2, 4).zipWithIndex
      (payload, v) <- {
        val orig = structImage(kind, 64, 64, 0)
        Seq((orig, 0), (structImage(kind, 96, 96, 0), 1), (croppedPng(orig, 4), 2))
      }
    } yield (b.toLong * 10 + v, payload, b)
    val df = variants.map { case (id, p, _) => (id, p) }.toDF("id", "payload")
    val pairs = Multimodal.imageNearDupPairsPhash(df, "id", "payload", maxHamming = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      (a, _, ba) <- variants; (b, _, bb) <- variants if a < b && ba == bb
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("pHash index lifecycle: build/append/probe == naive; tombstones drop matches") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // 3 patterns; even ids -> index (original render), odd ids probe
    // with the RESCALED render — only the DCT hash survives that
    val imgs = (0 until 12).map { i =>
      val kind = Seq(1, 2, 4)(i % 3)
      (i.toLong, if (i % 2 == 0) structImage(kind, 64, 64, 0)
                 else structImage(kind, 96, 96, 0))
    }
    val (idxSide, probeSide) = imgs.partition(_._1 % 2 == 0)
    val p = java.nio.file.Files.createTempDirectory("phashidx").toString
    Multimodal.buildPHashIndex(
      idxSide.take(4).toDF("id", "payload"), "id", "payload", p)
    Multimodal.appendToPHashIndex(
      idxSide.drop(4).toDF("id", "payload"), "id", "payload", p)
    def probe() = Multimodal.dedupAgainstPHashIndex(
        spark, probeSide.toDF("id", "payload"), "id", "payload", p,
        maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val naive = (for {
      (pa, pb) <- probeSide.map { case (i, b) => i -> Multimodal.pHash64(b) }
      (ia, ib) <- idxSide.map { case (i, b) => i -> Multimodal.pHash64(b) }
      if ham(pb, ib) <= 16
    } yield (pa, ia, ham(pb, ib))).toSet
    assert(probe() == naive && naive.nonEmpty)
    // same-pattern cross-variant pairs found (rescale-robust probe);
    // an aHash probe at the usual radius would miss these pairs
    assert(naive.forall { case (a, b, _) => a % 3 == b % 3 })
    // tombstone a victim: its matches vanish, others stay
    val victim = naive.head._2
    IndexFamily.Stored.pHash("id", p).delete(Seq(victim).toDF("id"))
    assert(probe() == naive.filterNot(_._2 == victim))
  }

  test("videoNearDupPairs: shared-frame pairs, hot-frame cutoff, exact counts") {
    // payloads: 8 aligned 64-byte blocks — blocks 0..6 shared per
    // class (doc_id % 3), block 7 unique per doc
    def block(tag: String): Array[Byte] =
      java.util.Arrays.copyOf(s"BLOCK:$tag:".getBytes("UTF-8"), 64)
    def payload(id: Long, cls: Int, boiler: Boolean): Array[Byte] = {
      val blocks = (0 until 7).map(i =>
        if (boiler) block("BOILER") else block(s"c$cls-$i")) :+ block(s"doc$id")
      blocks.reduce(_ ++ _)
    }
    val docs = (0 until 12).map(i => (i.toLong, payload(i, i % 3, boiler = false)))
    val df = docs.toDF("id", "payload")
    val pairs = Multimodal.videoNearDupPairs(df, "id", "payload",
        nFrames = 8, minShared = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (for {
      a <- 0L until 12L; b <- a + 1 until 12L if a % 3 == b % 3
    } yield (a, b, 7L)).toSet
    assert(pairs == expected)
    // minShared above the shared count: nothing pairs
    assert(Multimodal.videoNearDupPairs(df, "id", "payload", 8, 8).count() == 0)
    // hot-frame cutoff: an all-boilerplate corpus (every video shares
    // the same 7 blocks) stops pairing once the posting cutoff bites —
    // the documented tradeoff that kills the quadratic block
    val boiler = (0 until 12).map(i => (i.toLong, payload(i, 0, boiler = true)))
      .toDF("id", "payload")
    assert(Multimodal.videoNearDupPairs(boiler, "id", "payload", 8, 7,
      hotFrameCutoff = 8).count() == 0)
    // with the cutoff above the posting size they pair again
    assert(Multimodal.videoNearDupPairs(boiler, "id", "payload", 8, 7,
      hotFrameCutoff = 64).count() == 66)
  }

  test("perceptual hash EXPRESSIONS are bit-equal to the mapPartitions forms") {
    // image: real PNGs + text bytes + empty payload through both paths
    val imgRows = Seq(
      (1L, gradImage(1, 0, 0)), (2L, gradImage(2, 10, 15)),
      (3L, structImage(2, 48, 48, 5)), (4L, "not an image".getBytes("UTF-8")),
      (5L, Array.empty[Byte])).toDF("id", "payload")
    val exprA = Multimodal.withAHash(imgRows, "payload", Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val partA = Multimodal.withAHashPartitioned(imgRows, "payload", Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exprA == partA)
    // audio: real WAV + junk bytes
    val audRows = Seq(
      (1L, envelopeWav(3200, 1.0, f => if (f < 1600) 1.0 else 0.1)),
      (2L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    val exprW = Multimodal.withAudioHash(audRows, "payload", Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val partW = Multimodal.withAudioHashPartitioned(audRows, "payload", Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exprW == partW)
    // fuzz: random tiny PNGs, truncated/corrupted image bytes, and raw
    // noise all hash identically through codegen, eval, and the direct
    // kernel — the total-function contract under the corrupt tail
    val rnd = new scala.util.Random(31)
    val fuzz = (0 until 30).map { i =>
      val payload: Array[Byte] =
        if (i % 3 == 0) {
          val img = new java.awt.image.BufferedImage(
            1 + rnd.nextInt(20), 1 + rnd.nextInt(20),
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
            img.setRGB(x, y, rnd.nextInt())
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", buf)
          val b = buf.toByteArray
          if (i % 6 == 0) java.util.Arrays.copyOf(b, b.length / 2) else b // truncated
        } else {
          val b = new Array[Byte](rnd.nextInt(200))
          rnd.nextBytes(b); b
        }
      (i.toLong, payload)
    }
    val fuzzDf = fuzz.toDF("id", "payload")
    for ((withF, direct) <- Seq[
        (org.apache.spark.sql.DataFrame, Array[Byte] => Long)](
        (Multimodal.withAHash(fuzzDf, "payload", Seq("id")), Multimodal.aHash64),
        (Multimodal.withPHash(fuzzDf, "payload", Seq("id")), Multimodal.pHash64))) {
      val got = withF.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = fuzz.map { case (id, b) => id -> direct(b) }.toMap
      assert(got == want)
    }
  }

  test("videoPerceptualDedupPairs pairs variant re-renders byte hashing cannot") {
    // 4 "videos", class = id % 2; frames 0..2 carry class-determined
    // patterns — ids 0,1 rendered at 64², ids 2,3 RE-RENDERED at 96²
    // (every byte differs, pHash within the measured ≤15-bit band);
    // frame 3 is per-video undecodable bytes (FNV fallback, unique)
    val kinds = Seq(1, 2, 4)
    val frames = (for (id <- 0L until 4L; fi <- 0 until 4) yield {
      val cls = (id % 2).toInt
      val bytes =
        if (fi == 3)
          // per-video undecodable bytes; md5-mixed so the FNV fallback
          // signatures sit ~32 bits apart (FNV alone avalanches weakly
          // on a last-byte difference)
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"not-an-image-$id".getBytes("UTF-8"))
        else structImage(kinds((cls + fi) % 3),
          if (id < 2) 64 else 96, if (id < 2) 64 else 96, noise = 0)
      (id, fi, bytes)
    }).toDF("vid", "frame_idx", "frame_bytes")
    // byte identity across the variant boundary is zero — only the
    // perceptual operator can pair (0,2) and (1,3)
    val gotAll = Multimodal.videoPerceptualDedupPairs(
        frames, "vid", "frame_idx", "frame_bytes",
        maxHamming = 16, minSharedFrames = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotAll == Map((0L, 2L) -> 3L, (1L, 3L) -> 3L))
    // minSharedFrames above the shared count keeps nothing
    assert(Multimodal.videoPerceptualDedupPairs(
      frames, "vid", "frame_idx", "frame_bytes",
      maxHamming = 16, minSharedFrames = 4).isEmpty)
  }

  test("videoPerceptualDedupPairs hot-frame cutoff drops constant frames as evidence") {
    // every video shares one constant blank frame (an intro card); with
    // the cutoff below the corpus size it stops counting as evidence
    val blank = structImage(0, 64, 64, noise = 0)
    val kinds = Seq(1, 2, 4)
    val frames = (for (id <- 0L until 4L; fi <- 0 until 3) yield {
      val cls = (id % 2).toInt
      val bytes =
        if (fi == 2) blank
        else structImage(kinds((cls + fi) % 3), 64, 64, noise = 0)
      (id, fi, bytes)
    }).toDF("vid", "frame_idx", "frame_bytes")
    val withBlank = Multimodal.videoPerceptualDedupPairs(
        frames, "vid", "frame_idx", "frame_bytes",
        maxHamming = 16, minSharedFrames = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // all pairs share at least the blank; same-class pairs share 3
    assert(withBlank((0L, 2L)) == 3L && withBlank((0L, 1L)) == 1L)
    val cut = Multimodal.videoPerceptualDedupPairs(
        frames, "vid", "frame_idx", "frame_bytes",
        maxHamming = 16, minSharedFrames = 1, hotFrameCutoff = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // blank-only pairs vanish; same-class pairs keep their 2 informative frames
    assert(cut == Map((0L, 2L) -> 2L, (1L, 3L) -> 2L))
  }

  test("imageNearDupPairs: blocked join == naive hamming over the hashes") {
    val payloads = (0 until 24).map { i =>
      // 6 visual classes, mild per-instance noise inside each
      (i.toLong, gradImage(100 + i, 10, 0), i % 6)
    }
    // classes differ by brightness bands so cross-class distance is large
    val imgs = payloads.map { case (id, _, cls) =>
      (id, gradImage(200 + id.toInt, 6, cls * 35))
    }
    val df = imgs.toDF("id", "payload")
    val pairs = Multimodal.imageNearDupPairs(df, "id", "payload", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // naive cross-check over the same hashes
    val hashes = imgs.map { case (id, b) => id -> Multimodal.aHash64(b) }
    val naive = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(pairs == naive)
    assert(pairs.nonEmpty, "expected at least some same-class pairs")
  }

  test("maintainAudioFpIndex: stream-built postings; compactEvery; markers; replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    val nW = 60
    def levels(p: Int, variant: Int): Array[Double] = variant match {
      case 0 => Array.tabulate(nW)(wi => wlevel(p, wi))
      case 1 => Array.tabulate(nW - 4)(wi => wlevel(p, wi + 4))
      case _ => Array.tabulate(nW + 4)(
        wi => if (wi < 4) 0.05 else wlevel(p, wi - 4))
    }
    // 6 indexed clips (2 patterns x 3 shift variants), streamed in 3
    // micro-batches with compactEvery = 2 -> two in-stream compacts
    val idxClips = (0 until 6).map(i => (i.toLong, windowWav(1.0, levels(i / 3, i % 3))))
    val dir = java.nio.file.Files.createTempDirectory("audiofp_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("audiofp_maintck").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.maintain(IndexFamily.audioFp("id", "payload", dir),
      input.toDF().toDF("id", "payload"), ckpt, compactEvery = 2)
    try {
      idxClips.grouped(2).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1,
      "compactEvery must have collapsed the posting chain")
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // probes against the stream-built chain == naive intersections
    val probes = (10 until 12).map(i =>
      (i.toLong, windowWav(1.0, levels(i - 10, (i - 10 + 1) % 3))))
    val got = Multimodal.dedupAgainstAudioFpIndex(
        spark, probes.toDF("id", "payload"), "id", "payload", dir,
        minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = (for {
      (a, ba) <- probes; (b, bb) <- idxClips
      n = (Multimodal.audioSubFingerprints(ba).toSet &
        Multimodal.audioSubFingerprints(bb).toSet).size
      if n >= 4
    } yield (a, b, n.toLong)).toSet
    assert(got == naive)
    assert(naive.nonEmpty)
    // a replayed batch is recognized through the compacts and skipped
    val v0 = graft.sources.IndexIO.resolve(spark, dir)
    val b1 = markers.find(_.startsWith("b1-")).get
    val applied = Streaming.applyIndexBatch(spark, dir, b1) {
      fail("bootstrap must not run on an existing index")
    } {
      Multimodal.appendToAudioFpIndex(
        idxClips.slice(2, 4).toDF("id", "payload"), "id", "payload", dir)
    }
    assert(!applied)
    assert(graft.sources.IndexIO.resolve(spark, dir) == v0)
  }

  test("maintainSceneIndex: whole-video batches; compactEvery; probes == batch index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    def render(kind: Int): Array[Byte] = sceneFrame(kind)
    def pat(v: Long, fi: Int): Int = {
      val c = (v % 3).toInt
      if (fi <= 2 + c) c else (c + 1) % 3
    }
    val frames = for { v <- 0L until 6L; fi <- 0 until 9 }
      yield (v, fi, render(pat(v, fi)))
    val (idxSide, probeSide) = frames.partition(_._1 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("scene_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("scene_maintck").toString
    val input = MemoryStream[(Long, Int, Array[Byte])]
    val q = Streaming.maintain(IndexFamily.scene("id", "frame_idx", "payload", dir),
      input.toDF().toDF("id", "frame_idx", "payload"), ckpt, compactEvery = 2)
    try {
      // one whole video per micro-batch (the maintainer contract)
      idxSide.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, rows) =>
        input.addData(rows.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    assert(graft.sources.IndexIO.segmentMarkers(spark, dir).size == 3)
    // probes == the batch-built index's answers (same naive rule as
    // the scene-index suite test)
    val got = Multimodal.dedupAgainstSceneIndex(
        spark, probeSide.toDF("id", "frame_idx", "payload"),
        "id", "frame_idx", "payload", dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    val naive = (for {
      a <- Seq(1L, 3L, 5L); sa <- 0L to 1L
      b <- Seq(0L, 2L, 4L); sb <- 0L to 1L
      if (a % 3 + sa) % 3 == (b % 3 + sb) % 3
    } yield (a, sa, b, sb, 0)).toSet
    assert(got == naive)
  }

  test("maintainAudioHashIndex / maintainPHashIndex: marker-safe append loops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    // audio envelope hashes
    val wavs = (0 until 4).map { i =>
      val cls = i % 2
      val pat: Int => Double = f => if ((f * 3 / 3200) % 2 == cls) 1.0 else 0.08
      (i.toLong, envelopeWav(3200, 0.6, pat))
    }
    val aDir = java.nio.file.Files.createTempDirectory("audiohash_maint").toString
    val aCk = java.nio.file.Files.createTempDirectory("audiohash_maintck").toString
    val aIn = MemoryStream[(Long, Array[Byte])]
    val aq = Streaming.maintain(IndexFamily.audioHash("id", "payload", aDir),
      aIn.toDF().toDF("id", "payload"), aCk, compactEvery = 2)
    try {
      wavs.grouped(2).foreach { b => aIn.addData(b.toSeq); aq.processAllAvailable() }
    } finally aq.stop()
    assert(graft.sources.IndexIO.segments(spark, aDir).length == 1)
    assert(graft.sources.IndexIO.segmentMarkers(spark, aDir).size == 2)
    val aHits = Multimodal.dedupAgainstAudioHashIndex(
        spark, Seq((9L, wavs(0)._2)).toDF("id", "payload"),
        "id", "payload", aDir, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aHits.contains((9L, 0L)), s"got $aHits")
    // DCT hashes
    val pngs = (0 until 4).map(i => (i.toLong, sceneFrame(i % 2)))
    val pDir = java.nio.file.Files.createTempDirectory("phash_maint").toString
    val pCk = java.nio.file.Files.createTempDirectory("phash_maintck").toString
    val pIn = MemoryStream[(Long, Array[Byte])]
    val pq = Streaming.maintain(IndexFamily.pHash("id", "payload", pDir),
      pIn.toDF().toDF("id", "payload"), pCk)
    try {
      pngs.grouped(2).foreach { b => pIn.addData(b.toSeq); pq.processAllAvailable() }
    } finally pq.stop()
    assert(graft.sources.IndexIO.segments(spark, pDir).length == 2)
    assert(graft.sources.IndexIO.segmentMarkers(spark, pDir).size == 2)
    val pHits = Multimodal.dedupAgainstPHashIndex(
        spark, Seq((9L, sceneFrame(0))).toDF("id", "payload"),
        "id", "payload", pDir, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pHits == Set((9L, 0L), (9L, 2L)), s"got $pHits")
  }

  test("maintainSceneIndexCdc: whole-video change feed — re-cuts re-detect, takedowns drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    def pat(v: Long, fi: Int): Int = {
      val c = (v % 3).toInt
      if (fi <= 2 + c) c else (c + 1) % 3
    }
    def video(v: Long, stale: Boolean): (Long, String, Seq[(Int, Array[Byte])]) =
      (v, "added", (0 until 9).map(fi =>
        (fi, sceneFrame(if (stale) 1 else pat(v, fi)))))
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_sc_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_scck_").toString
    val input = MemoryStream[(Long, String, Seq[(Int, Array[Byte])])]
    val q = Streaming.maintainCdc(IndexFamily.scene("id", "_1", "_2", idx,
      framesCol = Some("frames")), input.toDF().toDF("id", "status", "frames"), "status", ckpt)
    try {
      // bootstrap: video 0 true, video 2 a STALE single-scene cut,
      // video 6 will later be retired
      input.addData(video(0L, stale = false), video(2L, stale = true),
        video(6L, stale = false))
      q.processAllAvailable()
      // the change feed: 2 re-cut (changed), 6 taken down, 4 new
      input.addData(
        video(2L, stale = false).copy(_2 = "changed"),
        (6L, "removed", Seq.empty[(Int, Array[Byte])]),
        video(4L, stale = false))
      q.processAllAvailable()
    } finally q.stop()
    // == a one-shot scene index over the live snapshot
    val newFrames = (for { v <- Seq(0L, 2L, 4L); fi <- 0 until 9 }
      yield (v, fi, sceneFrame(pat(v, fi)))).toDF("id", "frame_idx", "payload")
    val fresh = java.nio.file.Files.createTempDirectory("graft_cdc_scf_").toString
    Multimodal.buildSceneIndex(newFrames, "id", "frame_idx", "payload", fresh)
    val probes = (for { v <- Seq(1L, 3L, 5L); fi <- 0 until 9 }
      yield (v, fi, sceneFrame(pat(v, fi)))).toDF("id", "frame_idx", "payload")
    def serve(p: String) = Multimodal.dedupAgainstSceneIndex(
      spark, probes, "id", "frame_idx", "payload", p)
    assertSameRows(serve(idx), serve(fresh))
    val got = serve(idx).select("index_id").as[Long].collect().toSet
    assert(!got.contains(6L) && got.contains(2L) && got.contains(4L), s"got $got")
    assert(graft.sources.IndexIO.segmentMarkers(spark, idx).size == 2)
  }

  test("syncSceneIndex: re-cut videos re-detect scenes, retired videos tombstone") {
    import graft.operators.IndexSync
    def pat(v: Long, fi: Int): Int = {
      val c = (v % 3).toInt
      if (fi <= 2 + c) c else (c + 1) % 3
    }
    // new snapshot: the even videos with their true frame streams
    val newFrames = (for { v <- Seq(0L, 2L, 4L); fi <- 0 until 9 }
      yield (v, fi, sceneFrame(pat(v, fi)))).toDF("id", "frame_idx", "payload")
    // old snapshot: video 2 is a STALE cut (every frame one pattern —
    // different scene structure entirely), video 4 is missing, video 6
    // is retired, video 0 unchanged
    val oldFrames = ((for { fi <- 0 until 9 } yield (0L, fi, sceneFrame(pat(0L, fi)))) ++
      (for { fi <- 0 until 9 } yield (2L, fi, sceneFrame(1))) ++
      (for { fi <- 0 until 9 } yield (6L, fi, sceneFrame(pat(0L, fi)))))
      .toDF("id", "frame_idx", "payload")
    val idx = java.nio.file.Files.createTempDirectory("graft_sync_scene_").toString
    Multimodal.buildSceneIndex(oldFrames, "id", "frame_idx", "payload", idx)
    IndexSync.sync(IndexFamily.scene("id", "frame_idx", "payload", idx), oldFrames, newFrames)
    val fresh = java.nio.file.Files.createTempDirectory("graft_sync_scenef_").toString
    Multimodal.buildSceneIndex(newFrames, "id", "frame_idx", "payload", fresh)
    val probes = (for { v <- Seq(1L, 3L, 5L); fi <- 0 until 9 }
      yield (v, fi, sceneFrame(pat(v, fi)))).toDF("id", "frame_idx", "payload")
    def serve(p: String) = Multimodal.dedupAgainstSceneIndex(
      spark, probes, "id", "frame_idx", "payload", p)
    assertSameRows(serve(idx), serve(fresh))
    // the retired video is gone and video 2 serves its TRUE scenes
    val got = serve(idx).select("index_id").as[Long].collect().toSet
    assert(!got.contains(6L) && got.contains(2L), s"got $got")
    // a no-change sync publishes nothing
    val before = graft.sources.IndexIO.segments(spark, idx).toSeq
    IndexSync.sync(IndexFamily.scene("id", "frame_idx", "payload", idx), newFrames, newFrames)
    assert(graft.sources.IndexIO.segments(spark, idx).toSeq == before)
  }

  test("syncSceneIndex fingerprint: duplicated frame rows cannot XOR-cancel") {
    // round-16 ADVICE: XOR is self-inverse, so a replayed/at-least-once
    // upstream extract duplicating frame rows used to cancel pairs —
    // an old snapshot with each frame TWICE fingerprinted identically
    // to a genuinely different cut, and the sync silently skipped
    // re-detection. The set-hash (distinct before xor) makes repeated
    // rows inert: duplicated old == clean old, so a real change still
    // syncs; and duplicated old vs identical-content new is a no-op.
    import graft.operators.IndexSync
    def pat(v: Long, fi: Int): Int = if (fi <= 3) 0 else 1
    val clean = (for { fi <- 0 until 9 } yield (2L, fi, sceneFrame(1)))
      .toDF("id", "frame_idx", "payload")
    // same content, every row replayed twice
    val dup = clean.union(clean)
    val newFrames = (for { fi <- 0 until 9 } yield (2L, fi, sceneFrame(pat(2L, fi))))
      .toDF("id", "frame_idx", "payload")
    val idx = java.nio.file.Files.createTempDirectory("graft_sync_scdup_").toString
    Multimodal.buildSceneIndex(clean, "id", "frame_idx", "payload", idx)
    // old snapshot arrives DUPLICATED; content genuinely changed -> must re-detect
    IndexSync.sync(IndexFamily.scene("id", "frame_idx", "payload", idx), dup, newFrames)
    val fresh = java.nio.file.Files.createTempDirectory("graft_sync_scdupf_").toString
    Multimodal.buildSceneIndex(newFrames, "id", "frame_idx", "payload", fresh)
    val probes = (for { fi <- 0 until 9 } yield (3L, fi, sceneFrame(pat(2L, fi))))
      .toDF("id", "frame_idx", "payload")
    def serve(p: String) = Multimodal.dedupAgainstSceneIndex(
      spark, probes, "id", "frame_idx", "payload", p)
    assertSameRows(serve(idx), serve(fresh))
    // and identical content under duplication is still a no-op sync
    val before = graft.sources.IndexIO.segments(spark, idx).toSeq
    IndexSync.sync(IndexFamily.scene("id", "frame_idx", "payload", idx), newFrames.union(newFrames),
      newFrames)
    assert(graft.sources.IndexIO.segments(spark, idx).toSeq == before)
  }
}

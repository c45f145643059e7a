package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode / feature-extract
  * / frame-sample as partition-batched transforms.
  *
  * IMAGE decode/resize and AUDIO header decode are REAL: `javax.imageio`
  * and `javax.sound.sampled` ship in the JDK (`java.desktop` module) and
  * handle PNG/JPEG/GIF/BMP and WAV/AIFF/AU headless with zero extra
  * dependencies — [[decodeImage]] reads true width/height from the
  * header (no pixel decode for metadata), [[resizeImage]] decodes,
  * rescales, and re-encodes PNG, [[decodeAudio]] reads sample rate /
  * channels / frame count from the header, and [[decodeVideo]] walks
  * ISO-BMFF (MP4) container boxes for duration / tracks / dimensions /
  * codec fourcc — header-only, no codec required. Payloads none of
  * these can read (e.g. the testdata's text-byte stand-ins; full video
  * decode needs codecs genuinely absent here) fall back to the
  * deterministic stubs so every function stays total over arbitrary
  * binary and oracle-predictable. The `mapPartitions` batch shape (the Scala
  * analogue of `mapInPandas`: iterator-of-rows in, iterator-of-rows
  * out, per-partition codec reuse) is the scale contract either way.
  */
object Multimodal {

  /** Metadata struct produced by the (stub) image decoder. */
  val ImageMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("byte_len", LongType, nullable = false)))

  /** Attach a binary payload column (UTF-8 bytes of `srcCol`) — the
    * testdata has no real media, so documents' text stands in for image
    * bytes; at 100 TB this column would come straight from parquet
    * `binary` pages and never pass through a string.
    */
  def withBinaryPayload(df: DataFrame, srcCol: String, binCol: String = "payload"): DataFrame =
    df.withColumn(binCol, encode(col(srcCol), "UTF-8"))

  /** Fallback decoder for payloads ImageIO cannot read. Deterministic in
    * the payload bytes so tests and oracles can predict it: width/height
    * fold the byte length, format sniffs a magic byte.
    */
  def decodeImageStub(bytes: Array[Byte]): Row = {
    val len = bytes.length.toLong
    val width = (len % 640L).toInt + 1
    val height = ((len / 640L) % 480L).toInt + 1
    val format = if (bytes.nonEmpty && (bytes(0) & 0xff) == 0x89) "png" else "raw"
    Row(width, height, format, len)
  }

  /** Real image metadata via JDK ImageIO: true width/height/format read
    * from the image HEADER only (`ImageReader.getWidth` never decodes
    * pixel data — at 100 TB the metadata pass stays I/O-bound, not
    * codec-bound). Non-image payloads fall back to [[decodeImageStub]].
    */
  def decodeImage(bytes: Array[Byte]): Row = {
    if (bytes == null || bytes.isEmpty) return decodeImageStub(
      if (bytes == null) Array.empty[Byte] else bytes)
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) decodeImageStub(bytes)
      else {
        val reader = readers.next()
        try {
          reader.setInput(in, true, true)
          Row(reader.getWidth(0), reader.getHeight(0),
            reader.getFormatName.toLowerCase(java.util.Locale.ROOT),
            bytes.length.toLong)
        } finally reader.dispose()
      }
    } catch {
      // a sniffable-but-corrupt header: same contract as unreadable
      case scala.util.control.NonFatal(_) => decodeImageStub(bytes)
    } finally in.close()
  }

  /** Decode metadata for every row, batched per partition
    * (`mapPartitions` keeps the codec instance alive across a partition —
    * the same reason `mapInPandas` batches arrow record-batches).
    * Output schema: input columns (minus the payload) + ImageMetaSchema.
    */
  def decodeMeta(df: DataFrame, binCol: String, keepCols: Seq[String]): DataFrame = {
    val outSchema = StructType(
      keepCols.map(c => df.schema(c)) ++ ImageMetaSchema.fields)
    val keepIdx = keepCols.map(df.schema.fieldIndex)
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema)
    df.mapPartitions { rows =>
      // ImageIO's plugin registry lookup happens per call; the partition
      // batch amortizes JIT + registry warm-up across the partition
      rows.map { row =>
        val meta = decodeImage(row.getAs[Array[Byte]](binIdx))
        Row.fromSeq(keepIdx.map(row.get) ++ meta.toSeq)
      }
    }
  }

  /** Metadata struct produced by the audio decoder. */
  val AudioMetaSchema: StructType = StructType(Seq(
    StructField("sample_rate", FloatType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("frames", LongType, nullable = false),
    StructField("encoding", StringType, nullable = false),
    StructField("byte_len", LongType, nullable = false)))

  /** Fallback audio metadata for payloads the JDK sound stack cannot
    * parse — deterministic in the byte length, like [[decodeImageStub]].
    */
  def decodeAudioStub(bytes: Array[Byte]): Row = {
    val len = if (bytes == null) 0L else bytes.length.toLong
    Row(0f, 0, len / 4L, "raw", len)
  }

  /** Real audio metadata via JDK `javax.sound.sampled` (java.desktop,
    * zero extra dependencies): WAV/AIFF/AU headers parse headless —
    * sample rate, channels, frame count, encoding — without reading the
    * sample data (header-bound, so the metadata pass over a 100 TB
    * audio corpus stays I/O-bound). Unparseable payloads (compressed
    * codecs, corrupt headers, non-audio bytes) fall back to
    * [[decodeAudioStub]] — same total-function contract as the image
    * path.
    */
  def decodeAudio(bytes: Array[Byte]): Row = {
    if (bytes == null || bytes.isEmpty) return decodeAudioStub(bytes)
    try {
      val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val af = fmt.getFormat
      Row(af.getSampleRate, af.getChannels, fmt.getFrameLength.toLong,
        af.getEncoding.toString.toLowerCase(java.util.Locale.ROOT),
        bytes.length.toLong)
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException =>
        decodeAudioStub(bytes)
      case scala.util.control.NonFatal(_) => decodeAudioStub(bytes)
    }
  }

  /** Audio-metadata batch transform — same partition-batched shape as
    * [[decodeMeta]].
    */
  def decodeAudioMeta(df: DataFrame, binCol: String, keepCols: Seq[String]): DataFrame = {
    val outSchema = StructType(
      keepCols.map(c => df.schema(c)) ++ AudioMetaSchema.fields)
    val keepIdx = keepCols.map(df.schema.fieldIndex)
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val meta = decodeAudio(row.getAs[Array[Byte]](binIdx))
        Row.fromSeq(keepIdx.map(row.get) ++ meta.toSeq)
      }
    }
  }

  /** Metadata struct produced by the video container decoder. */
  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("brand", StringType, nullable = false),
    StructField("byte_len", LongType, nullable = false)))

  /** Fallback video metadata for payloads that are not ISO-BMFF —
    * deterministic in the byte length, like the other stubs.
    */
  def decodeVideoStub(bytes: Array[Byte]): Row = {
    val len = if (bytes == null) 0L else bytes.length.toLong
    Row(len / 8L, 0, 0, 0, "raw", "none", len)
  }

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  private def fourcc(b: Array[Byte], o: Int): String = {
    val cs = new Array[Char](4)
    var i = 0
    while (i < 4) {
      val c = b(o + i) & 0xff
      cs(i) = if (c >= 0x20 && c < 0x7f) c.toChar else '?'
      i += 1
    }
    new String(cs)
  }

  /** Child boxes of the byte region [start, end): (type, payloadStart,
    * boxEnd). Malformed sizes throw (caught by [[decodeVideo]] → stub);
    * `boxEnd > off` guarantees progress, so no input can loop.
    */
  private def boxes(b: Array[Byte], start: Int, end: Int): Iterator[(String, Int, Int)] =
    new Iterator[(String, Int, Int)] {
      private var off = start
      def hasNext: Boolean = off + 8 <= end
      def next(): (String, Int, Int) = {
        val size = be32(b, off)
        val typ = fourcc(b, off + 4)
        val (payload, boxEnd) =
          if (size == 1) {
            require(off + 16 <= end, "truncated largesize box")
            (off.toLong + 16, off + be64(b, off + 8))
          } else if (size == 0) (off.toLong + 8, end.toLong)
          else (off.toLong + 8, off + size)
        require(boxEnd > off + 7 && boxEnd <= end, s"bad box size at $off")
        val r = (typ, payload.toInt, boxEnd.toInt)
        off = boxEnd.toInt
        r
      }
    }

  private def findBox(
      b: Array[Byte], start: Int, end: Int, path: String*): Option[(Int, Int)] =
    path.foldLeft(Option((start, end))) { (acc, name) =>
      acc.flatMap { case (s, e) =>
        boxes(b, s, e).find(_._1 == name).map(t => (t._2, t._3)) }
    }

  /** ISO-BMFF (MP4/MOV/M4A) container walk — header-only, no codec
    * involved, so it runs on the bare JDK exactly like the audio-header
    * path: `ftyp` gives the brand, `moov/mvhd` duration and timescale,
    * each `moov/trak` counts a track, the first `tkhd` with nonzero
    * dimensions gives width/height (16.16 fixed point), and the first
    * `stsd` sample entry gives the codec fourcc. Full video DECODE is
    * out of scope by construction (no codecs in the JDK); container
    * METADATA is what a 100 TB curation pass filters on anyway
    * (duration/resolution/codec gates), and it reads a few hundred
    * header bytes per object.
    */
  private def parseIsoBmff(b: Array[Byte]): Option[Row] = {
    val top = boxes(b, 0, b.length)
    if (!top.hasNext) return None
    val (t0, p0, e0) = top.next()
    // the ftyp-first requirement is the sniff: arbitrary bytes would
    // need their first 8 bytes to spell a plausible size + 'ftyp'
    if (t0 != "ftyp" || e0 - p0 < 4) return None
    val brand = fourcc(b, p0)
    var moov: Option[(Int, Int)] = None
    while (top.hasNext && moov.isEmpty) {
      val (t, p, e) = top.next()
      if (t == "moov") moov = Some((p, e))
    }
    val (ms, me) = moov.getOrElse(return None)
    var durationMs = 0L
    var nTracks = 0
    var width = 0
    var height = 0
    var codec = ""
    boxes(b, ms, me).foreach {
      case ("mvhd", p, _) =>
        val v = b(p) & 0xff
        if (v == 1) {
          val ts = be32(b, p + 20); val dur = be64(b, p + 24)
          if (ts > 0) durationMs = dur * 1000L / ts
        } else {
          val ts = be32(b, p + 12); val dur = be32(b, p + 16)
          if (ts > 0) durationMs = dur * 1000L / ts
        }
      case ("trak", p, e) =>
        nTracks += 1
        findBox(b, p, e, "tkhd").foreach { case (tp, _) =>
          val v = b(tp) & 0xff
          val dimOff = if (v == 1) tp + 88 else tp + 76
          val w = (be32(b, dimOff) >> 16).toInt
          val h = (be32(b, dimOff + 4) >> 16).toInt
          if (width == 0 && w > 0 && h > 0) { width = w; height = h }
        }
        if (codec.isEmpty)
          findBox(b, p, e, "mdia", "minf", "stbl", "stsd").foreach { case (sp, se) =>
            // stsd payload: version+flags, entry_count, then entries of
            // [size][format fourcc]
            if (se - sp >= 16 && be32(b, sp + 4) > 0) codec = fourcc(b, sp + 12)
          }
      case _ => ()
    }
    Some(Row(durationMs, nTracks, width, height,
      if (codec.isEmpty) "none" else codec, brand, b.length.toLong))
  }

  /** Video container metadata: real ISO-BMFF box walk for MP4-family
    * payloads, [[decodeVideoStub]] for everything else — the same
    * total-function contract as the image and audio paths.
    */
  def decodeVideo(bytes: Array[Byte]): Row = {
    if (bytes == null || bytes.length < 16) return decodeVideoStub(bytes)
    try parseIsoBmff(bytes).getOrElse(decodeVideoStub(bytes))
    catch { case scala.util.control.NonFatal(_) => decodeVideoStub(bytes) }
  }

  /** Video-metadata batch transform — same partition-batched shape as
    * [[decodeMeta]] / [[decodeAudioMeta]].
    */
  def decodeVideoMeta(df: DataFrame, binCol: String, keepCols: Seq[String]): DataFrame = {
    val outSchema = StructType(
      keepCols.map(c => df.schema(c)) ++ VideoMetaSchema.fields)
    val keepIdx = keepCols.map(df.schema.fieldIndex)
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val meta = decodeVideo(row.getAs[Array[Byte]](binIdx))
        Row.fromSeq(keepIdx.map(row.get) ++ meta.toSeq)
      }
    }
  }

  /** STUB feature extractor: a deterministic `dim`-bucket byte histogram
    * (L2-normalized) standing in for a real vision/audio embedding model.
    * The Spark-side contract is the real part: `binary -> array<float>`
    * per row, partition-batched so a real model would load once per
    * partition (the `mapInPandas` batch shape), output ready for the
    * SimilaritySearch / Dedup.embedding* operators.
    */
  def featureStub(df: DataFrame, binCol: String, dim: Int = 16,
      outCol: String = "features"): DataFrame = {
    require(dim > 0)
    val extract = org.apache.spark.sql.functions.udf { bytes: Array[Byte] =>
      val hist = new Array[Float](dim)
      if (bytes != null) {
        var i = 0
        while (i < bytes.length) { hist((bytes(i) & 0xff) % dim) += 1f; i += 1 }
      }
      val norm = math.sqrt(hist.map(x => x.toDouble * x).sum)
      if (norm > 0) hist.map(x => (x / norm).toFloat) else hist
    }
    df.withColumn(outCol, extract(org.apache.spark.sql.functions.col(binCol)))
  }

  /** STUB resize (non-image payloads): truncates/zero-pads the payload
    * to `targetBytes` — the plumbing (binary in, binary out, length
    * contract) is what downstream stages depend on.
    */
  def resizeStub(df: DataFrame, binCol: String, targetBytes: Int,
      outCol: String = "resized"): DataFrame = {
    require(targetBytes > 0)
    val resize = org.apache.spark.sql.functions.udf { bytes: Array[Byte] =>
      val src = if (bytes == null) Array.empty[Byte] else bytes
      java.util.Arrays.copyOf(src, targetBytes)
    }
    df.withColumn(outCol, resize(org.apache.spark.sql.functions.col(binCol)))
  }

  /** Real image resize via JDK ImageIO + Graphics2D: decode, bilinear
    * rescale to `w`×`h`, re-encode PNG. Payloads ImageIO cannot decode
    * pass through unchanged with `<outCol>_ok = false` — a 100 TB corpus
    * always carries a tail of corrupt media, and a resize stage that
    * throws on the first bad payload kills the job. `mapPartitions`
    * (not a UDF) because BOTH outputs derive from one expensive decode:
    * a UDF referenced by two projection expressions is inlined and
    * re-decoded per reference by CollapseProject.
    */
  def resizeImage(df: DataFrame, binCol: String, w: Int, h: Int,
      outCol: String = "resized"): DataFrame = {
    require(w > 0 && h > 0)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField(outCol, BinaryType, nullable = true),
      StructField(outCol + "_ok", BooleanType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val resized: Option[Array[Byte]] =
          if (bytes == null) None
          else try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            if (img == null) None
            else {
              val out = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              try {
                g.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, w, h, null)
              } finally g.dispose()
              val buf = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", buf)
              Some(buf.toByteArray)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        Row.fromSeq(row.toSeq ++ Seq(resized.getOrElse(bytes), resized.isDefined))
      }
    }
  }

  /** 64-bit average-hash (aHash) PERCEPTUAL image fingerprint: full
    * decode (unlike the header-only metadata pass), integer luminance
    * average-pooled onto an 8×8 grid (fixed scan order — no
    * interpolation-kernel nondeterminism), bit `i` = cell `i` brighter
    * than the global mean. Re-encodes, mild noise, and resizes move
    * few bits; unrelated images differ in ~32 — the standard
    * near-dup-image signature. Payloads ImageIO cannot decode fall
    * back to an FNV-1a byte hash (identical bytes still dedup;
    * perceptual radius just doesn't apply), so the function is total
    * over the corrupt tail a real corpus always carries.
    */
  def aHash64(bytes: Array[Byte]): Long = {
    def fnv(b: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      h
    }
    if (bytes == null || bytes.isEmpty) return fnv(Array.empty[Byte])
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return fnv(bytes)
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val gx = math.min(7, x * 8 / w)
        val rgb = img.getRGB(x, y)
        val lum = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
        sums(gy * 8 + gx) += lum
        cnts(gy * 8 + gx) += 1
        x += 1
      }
      y += 1
    }
    val total = sums.sum
    val n = cnts.sum
    var sig = 0L
    var i = 0
    while (i < 64) {
      // cellAvg > globalAvg via exact cross-multiplication; an empty
      // cell (tiny image) compares as not-brighter
      if (cnts(i) > 0 &&
          java.math.BigInteger.valueOf(sums(i)).multiply(
            java.math.BigInteger.valueOf(n)).compareTo(
            java.math.BigInteger.valueOf(total).multiply(
              java.math.BigInteger.valueOf(cnts(i)))) > 0)
        sig |= 1L << i
      i += 1
    }
    sig
  }

  /** Pooled 32×32 luminance grid of a decoded image — the shared
    * front-end of [[pHash64]]: integer average pooling in a fixed scan
    * order (same determinism contract as [[aHash64]]'s 8×8 pooling).
    */
  private def luma32(img: java.awt.image.BufferedImage): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](1024)
    val cnts = new Array[Long](1024)
    var y = 0
    while (y < h) {
      val gy = math.min(31, y * 32 / h)
      var x = 0
      while (x < w) {
        val gx = math.min(31, x * 32 / w)
        val rgb = img.getRGB(x, y)
        val lum = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
        sums(gy * 32 + gx) += lum
        cnts(gy * 32 + gx) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Double](1024)
    var i = 0
    while (i < 1024) {
      if (cnts(i) > 0) out(i) = sums(i).toDouble / cnts(i).toDouble
      i += 1
    }
    out
  }

  /** DCT-II basis for the 32-point transform, StrictMath so the table
    * is bit-identical on every executor JVM (Math.cos is allowed 1 ulp
    * of platform slack; a hash function can't be).
    */
  private lazy val dctCos: Array[Double] = {
    val t = new Array[Double](32 * 32)
    var u = 0
    while (u < 32) {
      var x = 0
      while (x < 32) {
        t(u * 32 + x) = StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 64.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** 64-bit DCT perceptual hash (pHash) — [[aHash64]]'s crop/rescale-
    * robust sibling: decode, average-pool luminance onto a 32×32 grid,
    * 2-D DCT-II, keep the top-left 8×8 low-frequency block, bit `i` =
    * coefficient `i` above the median of the 63 non-DC coefficients.
    * Low frequencies encode the global structure, so rescales, small
    * crops, paddings, noise, and brightness shifts move few bits,
    * where [[aHash64]]'s direct cell-vs-mean compare flips whole rows —
    * the standard web-image near-dup signature for geometric
    * perturbation classes. Deterministic: integer pooling in fixed
    * scan order, StrictMath DCT table, fixed summation order (Java's
    * fp semantics are strict since JEP 306). Undecodable payloads fall
    * back to the same FNV-1a byte hash as [[aHash64]] — total over the
    * corrupt tail.
    */
  def pHash64(bytes: Array[Byte]): Long = {
    def fnv(b: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      h
    }
    if (bytes == null || bytes.isEmpty) return fnv(
      if (bytes == null) Array.empty[Byte] else bytes)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return fnv(bytes)
    val f = luma32(img)
    // 2-D DCT-II, low-frequency 8×8 block only (rows first, then
    // columns — 32×8 + 8×8 dot products, not the full 32×32 transform)
    val rows8 = new Array[Double](32 * 8) // rows8(y*8+u) = sum_x f(y,x)·cos[u,x]
    var y = 0
    while (y < 32) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var x = 0
        while (x < 32) { acc += f(y * 32 + x) * dctCos(u * 32 + x); x += 1 }
        rows8(y * 8 + u) = acc
        u += 1
      }
      y += 1
    }
    val coef = new Array[Double](64) // coef(v*8+u) = sum_y rows8(y,u)·cos[v,y]
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var yy = 0
        while (yy < 32) { acc += rows8(yy * 8 + u) * dctCos(v * 32 + yy); yy += 1 }
        coef(v * 8 + u) = acc
        u += 1
      }
      v += 1
    }
    // Quantize each AC coefficient to a scale-relative grid BEFORE the
    // median split. A raw median is unstable exactly on the images a
    // crawl is full of (flat regions, synthetic graphics): their
    // spectrum concentrates in a few coefficients and the other ~56 sit
    // at numerical noise around zero, so the median lands inside that
    // near-zero mass and every perturbation re-rolls those bits. On the
    // grid (step = maxAbs/64, round-to-nearest) the near-zero mass is
    // exactly 0 and stays 0 under any perturbation smaller than half a
    // step, while genuinely structured coefficients keep their coarse
    // magnitude. DC (coef 0) tracks overall brightness and is excluded
    // from the median; its bit compares like the rest.
    var maxAbs = 0.0
    var i = 1
    while (i < 64) {
      val a = StrictMath.abs(coef(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    if (maxAbs == 0.0) return 0L
    val step = maxAbs / 64.0
    val q = new Array[Long](64)
    i = 0
    while (i < 64) { q(i) = StrictMath.round(coef(i) / step); i += 1 }
    val ac = new Array[Long](63)
    System.arraycopy(q, 1, ac, 0, 63)
    java.util.Arrays.sort(ac)
    val median = ac(31)
    var sig = 0L
    i = 0
    while (i < 64) {
      if (q(i) > median) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** Append a perceptual-hash column. The hash is a native Catalyst
    * expression ([[graft.functions.AHash64Expr]]) evaluated in the SCAN
    * projection — it composes with streaming gates and whole-stage
    * plans exactly like the text kernels (`ShinglesExpr`,
    * `BpeTokensExpr`), instead of forcing an object-serialization
    * boundary. The JDK codec state it needs is per-executor by
    * construction: the ImageIO plugin registry is a JVM-wide singleton
    * warmed on first use, and the kernel disables ImageIO's temp-FILE
    * cache once per JVM so every decode stays in-memory.
    */
  def withAHash(df: DataFrame, binCol: String, keepCols: Seq[String],
      outCol: String = "ahash"): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    df.select(keepCols.map(col) :+
      toColumn(graft.functions.AHash64Expr(toExpression(col(binCol)))).as(outCol): _*)
  }

  /** [[withAHash]] with the DCT hash — same projection shape. */
  def withPHash(df: DataFrame, binCol: String, keepCols: Seq[String],
      outCol: String = "phash"): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    df.select(keepCols.map(col) :+
      toColumn(graft.functions.PHash64Expr(toExpression(col(binCol)))).as(outCol): _*)
  }

  /** The former `mapPartitions` form of [[withAHash]] — kept as the
    * differential oracle for the expression rewrite (bit-equality
    * suite); harness use only.
    */
  private[graft] def withAHashPartitioned(df: DataFrame, binCol: String,
      keepCols: Seq[String], outCol: String = "ahash"): DataFrame = {
    val outSchema = StructType(keepCols.map(c => df.schema(c)) :+
      StructField(outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val keepIdx = keepCols.map(df.schema.fieldIndex)
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        Row.fromSeq(keepIdx.map(row.get) :+
          aHash64(row.getAs[Array[Byte]](binIdx)))
      }
    }
  }

  /** Near-duplicate IMAGE pairs within a perceptual Hamming radius —
    * [[aHash64]] signatures through the pigeonhole-blocked Hamming
    * join ([[graft.operators.Dedup.hammingPairs64]]): candidates only
    * meet on a shared signature chunk, so the join never goes
    * all-pairs; the expensive part (decode) is one pass, 8 bytes per
    * image cross the shuffle. Output `(id_a, id_b, hamming)`.
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 7): DataFrame =
    graft.operators.Dedup.hammingPairs64(
      withAHash(df, binCol, Seq(idCol)), idCol, "ahash", maxHamming)

  /** [[imageNearDupPairs]] over the DCT hash ([[pHash64]]) — the
    * blocking, exactly-once rule, and verify are hash-agnostic, so the
    * crop/rescale-robust signature rides the identical join. Use a
    * wider radius than aHash (geometric perturbations move a few more
    * bits than noise does; the suite pins the margins).
    */
  def imageNearDupPairsPhash(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 10): DataFrame =
    graft.operators.Dedup.hammingPairs64(
      withPHash(df, binCol, Seq(idCol)), idCol, "phash", maxHamming)

  /** 64-bit energy-envelope audio fingerprint — [[aHash64]]'s sibling
    * for sound: decode to PCM (JDK sound stack), mono-mix, split the
    * sample stream into 64 equal windows, bit `i` = window `i` louder
    * than the global mean (exact integer cross-multiplication over
    * summed |amplitude|). VOLUME-INVARIANT by construction (a gain
    * multiplies every window; the compare-to-mean cancels it) and
    * stable under lossless re-encode; NOT time-shift invariant (the
    * envelope shifts with the audio — an alignment-seeking fingerprint
    * is a chromaprint, out of scope). Undecodable payloads fall back
    * to the FNV byte hash — identical bytes still dedup.
    */
  private def fnvBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Decode an audio payload to a mono |amplitude| stream (per-frame
    * sum of channel |sample| at 16-bit depth) — the ONE decode under
    * every audio fingerprint. `null` when the payload is undecodable.
    */
  private[graft] def decodePcmMono(bytes: Array[Byte]): Array[Long] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val target = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          in.getFormat.getSampleRate, 16, in.getFormat.getChannels,
          in.getFormat.getChannels * 2, in.getFormat.getSampleRate, false)
        val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
        try {
          val raw = dec.readAllBytes()
          val ch = target.getChannels
          val nFrames = raw.length / (2 * ch)
          val out = new Array[Long](nFrames)
          var f = 0
          while (f < nFrames) {
            var acc = 0L
            var c = 0
            while (c < ch) {
              val o = (f * ch + c) * 2
              val s = ((raw(o + 1) << 8) | (raw(o) & 0xff)).toShort
              acc += math.abs(s.toLong)
              c += 1
            }
            out(f) = acc // mono-mix as the channel |amplitude| sum
            f += 1
          }
          out
        } finally dec.close()
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => null }

  def audioHash64(bytes: Array[Byte]): Long = {
    def fnv(b: Array[Byte]): Long = fnvBytes(b)
    if (bytes == null || bytes.isEmpty) return fnv(
      if (bytes == null) Array.empty[Byte] else bytes)
    val pcm: Array[Long] = decodePcmMono(bytes)
    if (pcm == null || pcm.length == 0) return fnv(bytes)
    val n = pcm.length
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var f = 0
    while (f < n) {
      val w = math.min(63, f.toLong * 64 / n).toInt
      sums(w) += pcm(f)
      cnts(w) += 1
      f += 1
    }
    val total = sums.sum
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (cnts(i) > 0 &&
          java.math.BigInteger.valueOf(sums(i)).multiply(
            java.math.BigInteger.valueOf(n.toLong)).compareTo(
            java.math.BigInteger.valueOf(total).multiply(
              java.math.BigInteger.valueOf(cnts(i)))) > 0)
        sig |= 1L << i
      i += 1
    }
    sig
  }

  /** Append an audio-fingerprint column — native expression in the
    * scan projection, like [[withAHash]].
    */
  def withAudioHash(df: DataFrame, binCol: String, keepCols: Seq[String],
      outCol: String = "audio_hash"): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    df.select(keepCols.map(col) :+
      toColumn(graft.functions.AudioHash64Expr(toExpression(col(binCol)))).as(outCol): _*)
  }

  /** The former `mapPartitions` form of [[withAudioHash]] — differential
    * oracle for the expression rewrite; harness use only.
    */
  private[graft] def withAudioHashPartitioned(df: DataFrame, binCol: String,
      keepCols: Seq[String], outCol: String = "audio_hash"): DataFrame = {
    val outSchema = StructType(keepCols.map(c => df.schema(c)) :+
      StructField(outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val keepIdx = keepCols.map(df.schema.fieldIndex)
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        Row.fromSeq(keepIdx.map(row.get) :+
          audioHash64(row.getAs[Array[Byte]](binIdx)))
      }
    }
  }

  /** Near-duplicate AUDIO pairs within a Hamming radius — the
    * [[imageNearDupPairs]] shape over [[audioHash64]] envelopes.
    */
  def audioNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 7): DataFrame =
    graft.operators.Dedup.hammingPairs64(
      withAudioHash(df, binCol, Seq(idCol)), idCol, "audio_hash", maxHamming)

  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** TIME-SHIFT-ROBUST audio subfingerprints — what [[audioHash64]]
    * cannot give: its 64 windows are fractions of the WHOLE clip, so
    * trimming one second shifts every window boundary and re-rolls the
    * hash. Here windows are a FIXED duration (`windowSamples` frames),
    * the per-window energy sequence is delta-coded to bits
    * (`bit i = energy(i+1) > energy(i)` — a gain scales both sides, so
    * the bits are volume-invariant like the envelope hash), every
    * `k`-bit gram is hashed, and winnowing (window `w` minimum — the
    * same MOSS selection as [[graft.functions.TextFunctions.winnowedFingerprints]])
    * picks the stored subset. A clip trimmed or padded by whole
    * windows keeps its interior energy deltas bit-for-bit, so the
    * surviving grams — and their winnowed minima — still collide with
    * the original's; matching needs no alignment search, just shared
    * fingerprints. Robustness granularity is the window: sub-window
    * shifts re-phase every boundary (alignment-seeking fingerprints à
    * la chromaprint are out of scope; the fnv fallback of
    * [[audioHash64]] still catches bit-identical payloads).
    *
    * Returns the clip's distinct selected gram hashes, sorted;
    * empty for undecodable payloads or clips shorter than
    * `(k + w + 1) · windowSamples`.
    */
  def audioSubFingerprints(bytes: Array[Byte], windowSamples: Int = 400,
      k: Int = 16, w: Int = 4): Array[Long] = {
    // null payload short-circuits explicitly: the codegen'd expression
    // passes null through (AudioSubFpExpr is non-nullable), and relying
    // on decodePcmMono's NonFatal catch to swallow the NPE from
    // `new ByteArrayInputStream(null)` would be fragile under a decode
    // refactor
    if (bytes == null) return Array.emptyLongArray
    val pcm = decodePcmMono(bytes)
    if (pcm == null) return Array.emptyLongArray
    val nW = pcm.length / windowSamples
    val nB = nW - 1 // delta bits
    val nh = nB - k + 1 // k-grams
    if (nh < w) return Array.emptyLongArray
    val e = new Array[Long](nW)
    var wi = 0
    while (wi < nW) {
      var s = 0L
      var j = wi * windowSamples
      val end = j + windowSamples
      while (j < end) { s += pcm(j); j += 1 }
      e(wi) = s
      wi += 1
    }
    val hs = new Array[Long](nh)
    val mask = if (k == 64) -1L else (1L << k) - 1
    var v = 0L
    var b = 0
    while (b < nB) {
      v = ((v << 1) | (if (e(b + 1) > e(b)) 1L else 0L)) & mask
      if (b >= k - 1) hs(b - k + 1) = mix64(v)
      b += 1
    }
    val sel = new java.util.TreeSet[java.lang.Long]()
    var p = 0
    while (p <= nh - w) {
      var m = Long.MaxValue
      var q = p
      while (q < p + w) { if (hs(q) < m) m = hs(q); q += 1 }
      sel.add(m)
      p += 1
    }
    val out = new Array[Long](sel.size)
    var x = 0
    val it = sel.iterator()
    while (it.hasNext) { out(x) = it.next(); x += 1 }
    out
  }

  /** Append the subfingerprint array — native expression in the scan
    * projection ([[graft.functions.AudioSubFpExpr]]), one decode per
    * clip, a handful of longs out.
    */
  def withAudioSubFps(df: DataFrame, binCol: String, keepCols: Seq[String],
      windowSamples: Int = 400, k: Int = 16, w: Int = 4,
      outCol: String = "audio_fps"): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    df.select(keepCols.map(col) :+
      toColumn(graft.functions.AudioSubFpExpr(
        toExpression(col(binCol)), windowSamples, k, w)).as(outCol): _*)
  }

  /** Shift-tolerant audio near-dup pairs: clips sharing at least
    * `minShared` winnowed subfingerprints — the
    * [[graft.operators.Dedup.sharedFingerprintPairs]] inverted-index
    * join (explode ships `(id, fp)` longs; candidates meet only on a
    * shared fingerprint; never all-pairs). A trimmed/padded variant
    * of a clip shares its interior fingerprints and pairs; a clip with
    * a different energy pattern shares chance grams at most. Set
    * `hotFingerprintCutoff` on crawl corpora where one constant clip
    * (silence, test tones) would otherwise own a quadratic posting.
    */
  def audioShiftDedupPairs(df: DataFrame, idCol: String, binCol: String,
      windowSamples: Int = 400, k: Int = 16, w: Int = 4,
      minShared: Int = 4,
      hotFingerprintCutoff: Long = Long.MaxValue): DataFrame =
    graft.operators.Dedup.sharedFingerprintPairs(
      withAudioSubFps(df, binCol, Seq(idCol), windowSamples, k, w),
      idCol, "audio_fps", minShared, hotFingerprintCutoff)

  /** Persist a perceptual-hash index: images decoded ONCE, 8 bytes per
    * image stored — each new crawl batch then dedups against the whole
    * image corpus WITHOUT re-decoding it ([[dedupAgainstAHashIndex]]),
    * the [[graft.operators.Dedup.buildMinhashIndex]] lifecycle for
    * pixels. Atomic versioned publish via IndexIO; `append` grows the
    * index by immutable segments; [[graft.streaming.IndexFamily.aHash]]'s
    * `delete` publishes takedown tombstones readers anti-join, and its
    * `compact` collapses the chain.
    */
  def buildAHashIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      withAHash(df, binCol, Seq(idCol))
        .write.mode("overwrite").parquet(s"$vdir/hashes")
    }
    ()
  }

  /** Append a new batch's hashes as an immutable delta segment (the
    * daily-crawl step; existing segments never rewrite).
    */
  def appendToAHashIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publishDelta(spark, path, marker) { vdir =>
      withAHash(df, binCol, Seq(idCol))
        .write.mode("overwrite").parquet(s"$vdir/hashes")
    }
    ()
  }

  /** [[buildAHashIndex]]'s audio sibling — envelope hashes persisted
    * once, batches probe without re-decoding the audio corpus. Same
    * segment/tombstone lifecycle (the index layout is identical; only
    * the hash function differs).
    */
  def buildAudioHashIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      withAudioHash(df, binCol, Seq(idCol)).withColumnRenamed("audio_hash", "ahash")
        .write.mode("overwrite").parquet(s"$vdir/hashes")
    }
    ()
  }

  /** Append an audio batch's envelope hashes as a delta segment. */
  def appendToAudioHashIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publishDelta(spark, path, marker) { vdir =>
      withAudioHash(df, binCol, Seq(idCol)).withColumnRenamed("audio_hash", "ahash")
        .write.mode("overwrite").parquet(s"$vdir/hashes")
    }
    ()
  }

  /** Probe an audio batch against a [[buildAudioHashIndex]] artifact
    * (tombstones as the aHash index's — the layout is shared).
    */
  def dedupAgainstAudioHashIndex(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, binCol: String, path: String,
      maxHamming: Int = 7): DataFrame = {
    val live = graft.sources.IndexIO.liveTable(spark, path, "hashes", idCol)
    graft.operators.Dedup.hammingJoin64(
        withAudioHash(batch, binCol, Seq(idCol)), idCol, "audio_hash",
        live.withColumnRenamed(idCol, "__index_id"), "__index_id", "ahash",
        maxHamming)
      .select(col("id_a").as(idCol), col("id_b").as("index_id"), col("hamming"))
  }

  /** [[buildAHashIndex]] with the DCT hash — the crop/rescale-robust
    * index. Same layout (the stored hash column is named `ahash`
    * whatever the function — the audio index already does this), same
    * segment/tombstone lifecycle; only the fingerprint differs, so
    * probes must come through [[dedupAgainstPHashIndex]].
    */
  def buildPHashIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      withPHash(df, binCol, Seq(idCol)).withColumnRenamed("phash", "ahash")
        .write.mode("overwrite").parquet(s"$vdir/hashes")
    }
    ()
  }

  /** Append a batch's DCT hashes as an immutable delta segment. */
  def appendToPHashIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publishDelta(spark, path, marker) { vdir =>
      withPHash(df, binCol, Seq(idCol)).withColumnRenamed("phash", "ahash")
        .write.mode("overwrite").parquet(s"$vdir/hashes")
    }
    ()
  }

  /** Probe a batch against a [[buildPHashIndex]] artifact — the
    * [[dedupAgainstAHashIndex]] machinery with the batch hashed by
    * [[pHash64]]; tombstones as the aHash index's (shared
    * layout). Streaming batches stay a stateless blocked
    * stream-static join like the aHash gate.
    */
  def dedupAgainstPHashIndex(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, binCol: String, path: String,
      maxHamming: Int = 16): DataFrame = {
    val live = graft.sources.IndexIO.liveTable(spark, path, "hashes", idCol)
    graft.operators.Dedup.hammingJoin64(
        withPHash(batch, binCol, Seq(idCol)), idCol, "phash",
        live.withColumnRenamed(idCol, "__index_id"), "__index_id", "ahash",
        maxHamming)
      .select(col("id_a").as(idCol), col("id_b").as("index_id"), col("hamming"))
  }

  /** Probe a batch of images against the persisted index: the batch is
    * decoded once, the index contributes 8-byte rows only, candidates
    * meet on shared signature chunks
    * ([[graft.operators.Dedup.hammingJoin64]]). Output
    * `(<idCol>, index_id, hamming)` — batch images within the radius
    * of an already-indexed image.
    */
  def dedupAgainstAHashIndex(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, binCol: String, path: String,
      maxHamming: Int = 7): DataFrame = {
    val live = graft.sources.IndexIO.liveTable(spark, path, "hashes", idCol)
    graft.operators.Dedup.hammingJoin64(
        withAHash(batch, binCol, Seq(idCol)), idCol, "ahash",
        live.withColumnRenamed(idCol, "__index_id"), "__index_id", "ahash",
        maxHamming)
      .select(col("id_a").as(idCol), col("id_b").as("index_id"), col("hamming"))
  }

  /** Persist the SHIFT-ROBUST audio subfingerprints
    * ([[audioSubFingerprints]]) as an inverted posting table
    * `(id, fp)` — clips decoded ONCE; each new crawl batch then probes
    * the whole audio corpus for trimmed/padded/re-cut variants WITHOUT
    * re-decoding it. Same IndexIO lifecycle as the hash indexes
    * (atomic versioned publish, immutable append segments, tombstone
    * deletes); the parameters are baked into the postings, so probes
    * must use the same `(windowSamples, k, w)`.
    */
  def buildAudioFpIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, windowSamples: Int = 400, k: Int = 16,
      w: Int = 4, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      withAudioSubFps(df, binCol, Seq(idCol), windowSamples, k, w)
        .select(col(idCol), explode(col("audio_fps")).as("fp"))
        .write.mode("overwrite").parquet(s"$vdir/postings")
    }
    ()
  }

  /** Append a batch's subfingerprint postings as an immutable delta
    * segment (the daily-crawl step).
    */
  def appendToAudioFpIndex(df: DataFrame, idCol: String, binCol: String,
      path: String, windowSamples: Int = 400, k: Int = 16,
      w: Int = 4, marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexIO.publishDelta(spark, path, marker) { vdir =>
      withAudioSubFps(df, binCol, Seq(idCol), windowSamples, k, w)
        .select(col(idCol), explode(col("audio_fps")).as("fp"))
        .write.mode("overwrite").parquet(s"$vdir/postings")
    }
    ()
  }

  /** Probe a batch against a [[buildAudioFpIndex]] artifact: the batch
    * is decoded once, its fingerprints equi-join the live postings
    * (only rows of SHARED fingerprints move), and a pair survives with
    * `n_shared >= minShared` — [[audioShiftDedupPairs]]' semantics
    * with the corpus side served from the index. Output
    * `(<idCol>, index_id, n_shared)`. `hotFingerprintCutoff` drops
    * postings more frequent than the cutoff on the INDEX side
    * (constant clips — silence, test tones — would otherwise fan a
    * probe fingerprint across the whole posting); it is computed over
    * live postings with a partial-agg count, never a collect. Works
    * unchanged on a STREAMING batch (stream-static equi-join + the
    * grouped count is per-micro-batch only when used inside
    * foreachBatch; for a continuous gate pre-aggregate per clip).
    */
  def dedupAgainstAudioFpIndex(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, binCol: String, path: String,
      windowSamples: Int = 400, k: Int = 16, w: Int = 4,
      minShared: Int = 4,
      hotFingerprintCutoff: Long = Long.MaxValue): DataFrame = {
    require(minShared >= 1,
      s"dedupAgainstAudioFpIndex: minShared must be >= 1, got $minShared")
    val live0 = graft.sources.IndexIO.liveTable(spark, path, "postings", idCol)
      .withColumnRenamed(idCol, "index_id")
    val live =
      if (hotFingerprintCutoff == Long.MaxValue) live0
      else live0
        .withColumn("__post",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp"))))
        .filter(col("__post") <= hotFingerprintCutoff)
        .drop("__post")
    withAudioSubFps(batch, binCol, Seq(idCol), windowSamples, k, w)
      .select(col(idCol), explode(col("audio_fps")).as("fp"))
      .join(live.hint("shuffle_hash"), Seq("fp"))
      .groupBy(col(idCol), col("index_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Deterministic frame sampling: split the payload into `n` equal
    * byte-range "frames" (a real video pipeline would seek keyframes; the
    * slicing/explode plumbing is identical). Output: one row per frame
    * with `(frame_idx, frame_bytes)`.
    */
  def frameSample(df: DataFrame, binCol: String, n: Int): DataFrame = {
    require(n > 0)
    val len = length(col(binCol))
    val step = greatest((len / n).cast(IntegerType), lit(1))
    df.select(
        col("*"),
        posexplode(
          transform(sequence(lit(0), lit(n - 1)),
            i => col(binCol).substr(i * step + 1, step)))
          .as(Seq("frame_idx", "frame_bytes")))
      .filter(length(col("frame_bytes")) > 0)
  }

  /** Near-duplicate VIDEO pairs by SHARED SAMPLED FRAMES: slice each
    * payload into `nFrames` byte-range frames (the [[frameSample]]
    * rule), hash each frame (`xxhash64` — codegen'd, 8 bytes per frame
    * cross the shuffle), count frames that match at the SAME index,
    * keep pairs sharing at least `minShared`. Catches re-uploads,
    * re-wraps that keep the media payload, and partially-corrupted
    * copies of the same object; a re-encode changes every byte, which
    * without codecs (none in the JDK — the multimodal decode contract)
    * no payload-level method can see through.
    *
    * Hot-frame cutoff: frames whose posting list exceeds
    * `hotFrameCutoff` videos are DISCARDED as evidence before the
    * pair join — constant padding/boilerplate blocks (the video
    * sibling of the blank-image signature and the boilerplate
    * shingle) would otherwise make one `(frame_idx, hash)` block
    * quadratic. The tradeoff is explicit: two videos that agree ONLY
    * on boilerplate frames no longer pair, which is the
    * `ngramJaccardAuto` hot-posting contract. Output
    * `(id_a, id_b, n_shared)`.
    */
  def videoNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      nFrames: Int = 16, minShared: Int = 2,
      hotFrameCutoff: Long = 1024): DataFrame = {
    require(nFrames > 0 && minShared > 0 && hotFrameCutoff > 1,
      s"videoNearDupPairs: bad parameters ($nFrames, $minShared, $hotFrameCutoff)")
    val len = length(col(binCol))
    val step = greatest((len / nFrames).cast(IntegerType), lit(1))
    val frames = df.select(col(idCol).as("__id"),
        posexplode(
          transform(sequence(lit(0), lit(nFrames - 1)),
            i => col(binCol).substr(i * step + 1, step)))
          .as(Seq("__fi", "__fb")))
      .filter(length(col("__fb")) > 0)
      .select(col("__id"), col("__fi"), xxhash64(col("__fb")).as("__fh"))
    // posting-size gate BEFORE the self-join (one extra aggregation
    // keyed like the join itself)
    val informative = frames
      .withColumn("__post",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fi"), col("__fh"))))
      .filter(col("__post") <= hotFrameCutoff)
      .drop("__post")
    informative.as("a")
      .join(informative.hint("shuffle_hash").as("b"),
        col("a.__fi") === col("b.__fi") && col("a.__fh") === col("b.__fh") &&
          col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** PERCEPTUAL video near-dup pairs over a decoded-frame table
    * `(id, frame_idx, frame_bytes)`: each frame is pHashed
    * ([[pHash64]] — the DCT hash, native expression in the scan
    * projection), frames meet ONLY at the same index through the
    * banded Hamming kernel
    * ([[graft.operators.Dedup.hammingPairsPerBand64]], band =
    * frame index), and a pair survives with the count of frame
    * indexes matching within `maxHamming`. Output
    * `(id_a, id_b, n_shared)` for pairs sharing at least
    * `minSharedFrames` frames.
    *
    * This is the operator [[videoNearDupPairs]] is not: that one
    * hashes payload BYTE slices, so any re-encode, rescale, or
    * container remux re-rolls every frame hash; here a re-rendered or
    * rescaled frame moves few pHash bits (the [[pHash64]] contract),
    * so variant copies pair. The frame table comes from a real
    * decoder in production; [[frameSample]] supplies the same shape
    * for the plumbing (its byte-range slices of the synthetic fixture
    * ARE decodable images in the gate). Frames that do not decode
    * fall back to byte-FNV signatures — bit-identical frames still
    * match, perceptual radius just doesn't apply (the [[aHash64]]
    * totality contract).
    *
    * Hot-frame cutoff: `(frame_idx, hash)` postings larger than
    * `hotFrameCutoff` are dropped as evidence BEFORE pairing — blank
    * frames, intros, and padding otherwise make one block's
    * re-expansion output quadratic (the banded kernel already bounds
    * the COMPARISON work by distinct signatures; this bounds the
    * OUTPUT, the [[videoNearDupPairs]] contract).
    */
  def videoPerceptualDedupPairs(
      frames: DataFrame, idCol: String, frameIdxCol: String,
      frameBinCol: String, maxHamming: Int = 16, minSharedFrames: Int = 2,
      hotFrameCutoff: Long = 1024): DataFrame = {
    require(minSharedFrames > 0 && hotFrameCutoff > 1,
      s"videoPerceptualDedupPairs: bad parameters ($minSharedFrames, $hotFrameCutoff)")
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val sigs = frames.select(
      col(idCol).as("__id"), col(frameIdxCol).as("__fi"),
      toColumn(graft.functions.PHash64Expr(toExpression(col(frameBinCol))))
        .as("__ph"))
    val informative = sigs
      .withColumn("__post",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fi"), col("__ph"))))
      .filter(col("__post") <= hotFrameCutoff)
      .drop("__post")
    graft.operators.Dedup.hammingPairsPerBand64(
        informative, "__id", "__ph", "__fi", maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minSharedFrames)
  }

  /** SCENE (shot-boundary) segmentation over a decoded-frame table
    * `(id, frame_idx, frame_bytes)`: consecutive frames whose DCT
    * pHashes sit within `maxHamming` belong to one scene; a jump past
    * the radius is a cut. Output: one row per scene —
    * `(<idCol>, scene_idx, start_frame, end_frame, n_frames,
    * scene_phash)` where `scene_phash` is the FIRST frame's hash (the
    * keyframe a scene-level index stores).
    *
    * Scale shape: frames are pHashed in the scan projection (native
    * expression), ONE shuffle co-locates each video's frames for the
    * lag/cumsum window (a video's frame count is bounded — the window
    * never sees more than one video), and the scene rollup is a
    * partial-aggregable groupBy on `(id, scene_idx)`. Nothing is
    * sized by pairs of videos.
    */
  def videoScenes(frames: DataFrame, idCol: String, frameIdxCol: String,
      frameBinCol: String, maxHamming: Int = 16): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"videoScenes: maxHamming must be in [0, 63], got $maxHamming")
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    import org.apache.spark.sql.expressions.Window
    val hashed = frames.select(
      col(idCol), col(frameIdxCol),
      toColumn(graft.functions.PHash64Expr(toExpression(col(frameBinCol))))
        .as("__ph"))
    val w = Window.partitionBy(col(idCol)).orderBy(col(frameIdxCol))
    val cut = when(col("__prev").isNull, lit(1)).otherwise(
      when(bit_count(col("__ph").bitwiseXOR(col("__prev"))) > maxHamming,
        lit(1)).otherwise(lit(0)))
    hashed
      .withColumn("__prev", lag(col("__ph"), 1).over(w))
      .withColumn("scene_idx",
        sum(cut).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) - lit(1L))
      .groupBy(col(idCol), col("scene_idx"))
      .agg(min(col(frameIdxCol)).as("start_frame"),
        max(col(frameIdxCol)).as("end_frame"),
        count(lit(1)).as("n_frames"),
        min_by(col("__ph"), col(frameIdxCol)).as("scene_phash"))
  }

  /** Persist a SCENE-level keyframe index: videos decoded and
    * segmented ONCE ([[videoScenes]]), 8 bytes per scene stored —
    * each new crawl batch then checks its scenes against every
    * indexed scene WITHOUT re-decoding the video corpus (shot-level
    * reuse/licensing detection as an incremental pipeline). Same
    * IndexIO lifecycle as the other perceptual indexes; tombstones
    * are per VIDEO id (a takedown drops all its scenes).
    */
  def buildSceneIndex(frames: DataFrame, idCol: String,
      frameIdxCol: String, frameBinCol: String, path: String,
      sceneMaxHamming: Int = 16, marker: Option[String] = None): Unit = {
    val spark = frames.sparkSession
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      videoScenes(frames, idCol, frameIdxCol, frameBinCol, sceneMaxHamming)
        .select(col(idCol), col("scene_idx"), col("scene_phash"))
        .write.mode("overwrite").parquet(s"$vdir/scenes")
    }
    ()
  }

  /** Append a batch's scenes as an immutable delta segment. */
  def appendToSceneIndex(frames: DataFrame, idCol: String,
      frameIdxCol: String, frameBinCol: String, path: String,
      sceneMaxHamming: Int = 16, marker: Option[String] = None): Unit = {
    val spark = frames.sparkSession
    graft.sources.IndexIO.publishDelta(spark, path, marker) { vdir =>
      videoScenes(frames, idCol, frameIdxCol, frameBinCol, sceneMaxHamming)
        .select(col(idCol), col("scene_idx"), col("scene_phash"))
        .write.mode("overwrite").parquet(s"$vdir/scenes")
    }
    ()
  }

  /** Probe a batch's decoded frames against a [[buildSceneIndex]]
    * artifact: the batch is segmented once, its keyframes meet the
    * stored 8-byte scene rows through the collapsed pigeonhole
    * Hamming join (struct scene keys give the join its identity).
    * Output `(<idCol>, scene, index_id, index_scene, hamming)` —
    * which shot of which new video already exists in the corpus.
    */
  def dedupAgainstSceneIndex(
      spark: org.apache.spark.sql.SparkSession, frames: DataFrame,
      idCol: String, frameIdxCol: String, frameBinCol: String,
      path: String, sceneMaxHamming: Int = 16,
      pairMaxHamming: Int = 10): DataFrame = {
    val live = graft.sources.IndexIO.liveTable(spark, path, "scenes", idCol)
      .select(struct(col(idCol), col("scene_idx")).as("__ik"),
        col("scene_phash").as("__iph"))
    val probe = videoScenes(frames, idCol, frameIdxCol, frameBinCol,
        sceneMaxHamming)
      .select(struct(col(idCol), col("scene_idx")).as("__sk"),
        col("scene_phash"))
    graft.operators.Dedup.hammingJoin64(
        probe, "__sk", "scene_phash", live, "__ik", "__iph", pairMaxHamming)
      .select(
        col("id_a").getField(idCol).as(idCol),
        col("id_a").getField("scene_idx").as("scene"),
        col("id_b").getField(idCol).as("index_id"),
        col("id_b").getField("scene_idx").as("index_scene"),
        col("hamming"))
  }

  /** Cross-video SCENE near-dup: [[videoScenes]] keyframe hashes
    * through the collapsed pigeonhole Hamming join — which scenes of
    * which videos show the same shot, the reuse/attribution view a
    * clip-licensing pipeline wants (whole-video pairing misses a
    * shared scene inside otherwise different videos). The scene key
    * is the `(id, scene_idx)` struct; the join is
    * [[graft.operators.Dedup.hammingPairs64]] unchanged (struct
    * ordering gives the exactly-once rule). Output:
    * `(id_a, scene_a, id_b, scene_b, hamming)`.
    */
  def videoSceneNearDupPairs(frames: DataFrame, idCol: String,
      frameIdxCol: String, frameBinCol: String,
      sceneMaxHamming: Int = 16, pairMaxHamming: Int = 10): DataFrame = {
    val scenes = videoScenes(frames, idCol, frameIdxCol, frameBinCol,
        sceneMaxHamming)
      .select(struct(col(idCol), col("scene_idx")).as("__sk"),
        col("scene_phash"))
    graft.operators.Dedup.hammingPairs64(
        scenes, "__sk", "scene_phash", pairMaxHamming)
      .select(
        col("id_a").getField(idCol).as("id_a"),
        col("id_a").getField("scene_idx").as("scene_a"),
        col("id_b").getField(idCol).as("id_b"),
        col("id_b").getField("scene_idx").as("scene_b"),
        col("hamming"))
  }
}

package graft.mm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training pipelines: media as opaque
  * `binary` columns + typed metadata, with decode / feature-extract /
  * frame-sample stages running batch-wise over partitions.
  *
  * The IMAGE leg is real: PNG encode/decode runs through `javax.imageio`
  * (JDK-only — no external codec dependency), so `decode` computes on
  * actual pixels for PNG content. The AUDIO leg is real for PCM WAV:
  * RIFF is a plain chunked container and PCM needs no codec, so
  * `encodePcm16Wav`/`decodePcmWav` read and write actual sample bytes
  * (chunk-walking parser, 8/16-bit PCM). Only VIDEO codec work remains
  * STUBBED with a deterministic fake (compressed-codec libraries are not
  * in this container); the Spark-side contract — schema,
  * partition-iterator batch shape, bounded memory — is identical for
  * both, so swapping `stubDecode` for a real video codec never touches
  * the plan.
  */
object Multimodal {

  // r14 (guide §1.2 per-task work): ImageIO defaults to useCache=true,
  // which backs EVERY ImageIO.read/write with a FileCacheImage*Stream —
  // a temp file created and deleted on disk per image. At local[32] over
  // thousands of small PNGs that is pure filesystem contention (the mm_*
  // family anti-scaled 0.6-0.65 at 32 vs 8 cores in the r13 driver
  // bench). In-memory cache streams remove the syscalls; images here are
  // KB-scale so memory is bounded by one image per in-flight task.
  javax.imageio.ImageIO.setUseCache(false)

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("frames", ArrayType(StringType))))

  /** Parse width/height from PNG bytes WITHOUT a codec: IHDR's 4-byte
    * big-endian dims sit at fixed offsets (bytes 17-24), so the metadata
    * read is `substring` + base-16 `conv` over the hex rendering — the
    * cheap header-scan a 100 TB media pipeline runs long before any
    * decode. Returns struct(width, height); null when the magic is absent.
    */
  def pngDims(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hx = hex(content)
    when(hx.startsWith("89504E470D0A1A0A"),
      struct(
        conv(substring(hx, 33, 8), 16, 10).cast("int").as("width"),
        conv(substring(hx, 41, 8), 16, 10).cast("int").as("height")))
      .otherwise(lit(null).cast("struct<width:int,height:int>"))
  }

  import org.apache.spark.sql.Column

  /** Deterministic fake image decode: an 8×8 grayscale pixel array
    * (values 0-255) derived from a class key — docs sharing `cls` decode
    * to the same base image, and ONE pixel (position `noisePos`) is
    * perturbed by +128 per item, so same-class items are NEAR-duplicates
    * (a few aHash bits apart) rather than exact ones. Stands in for a
    * real codec (not in this container) behind the same columnar
    * contract: binary/key in, fixed-size numeric feature array out.
    */
  def fakePixels(cls: Column, noisePos: Column, n: Int = 64): Column =
    transform(sequence(lit(0), lit(n - 1)), p =>
      pmod(
        conv(substring(md5(concat(cls.cast("string"), lit(":"),
          p.cast("string"))), 1, 2), 16, 10).cast("int") +
          when(p === noisePos.cast("int"), lit(128)).otherwise(lit(0)),
        lit(256)))

  /** Average-hash (aHash) band table from an (id, 64-pixel array) frame:
    * bit p of the hash is [pixel_p > floor-mean], packed into four 16-bit
    * band values — the perceptual-hash near-dup key for images. Bands are
    * the LSH blocks: hamming distance ≤ 3 over 64 bits guarantees ≥ 1 of
    * the 4 bands is identical (pigeonhole), so the candidate join below is
    * COMPLETE for that threshold. Integer floor-mean keeps the hash
    * engine-exact. One shuffle to the id grain; 4 rows out per item.
    */
  def aHashBands(df: DataFrame, idCol: String, pixelsCol: String): DataFrame =
    // scan-local since r13: the floor-mean is one fold over the row's own
    // pixel array (hoisted into its own projection so the band lambdas
    // reference a scalar, never re-evaluating the fold per element — the
    // interpreted-HOF trap), and each 16-bit band packs in a second fold,
    // exactly [[dHashBands]]'s zero-shuffle shape. Replaces the r9
    // explode → mean-join → re-aggregate pipeline (3 exchanges on the
    // pixel grain — 64 rows/image on the wire; measured 1.94 s → scan
    // cost at sf0.1, and at 100 TB the explode grain never exists).
    // Same (mid, band, bv) output, bit-identical bands.
    df.select(col(idCol).as("mid"), col(pixelsCol).as("_px"))
      .withColumn("_m", expr("aggregate(_px, 0L, (a, x) -> a + x) DIV 64"))
      .select(col("mid"), posexplode(expr(
        """transform(sequence(0, 3), k ->
          |  aggregate(sequence(0, 15), 0, (acc, b) ->
          |    acc + shiftleft(IF(
          |      element_at(_px, CAST(k*16 + b + 1 AS INT)) > _m,
          |      1, 0), b)))""".stripMargin)).as(Seq("band", "bv")))

  /** Difference-hash (dHash) band table from an (id, 72-pixel array =
    * 9×8 row-major raster) frame: bit q of the 64-bit hash is
    * [px(r,c) > px(r,c+1)] for r = q DIV 8, c = q MOD 8 — the horizontal
    * GRADIENT sign, which (unlike aHash's global-mean threshold) is
    * invariant to brightness/contrast shifts. No mean pass exists, so
    * the whole hash is scan-local per row (one aggregate over 16 bits
    * per band inside the projection — zero shuffles, vs aHash's
    * explode + mean join); output shares aHash's (mid, band, bv) band
    * shape so [[aHashNearDups]]'s pigeonhole-complete candidate join
    * applies unchanged.
    */
  def dHashBands(df: DataFrame, idCol: String, pixelsCol: String): DataFrame =
    df.select(col(idCol).as("mid"), col(pixelsCol).as("_px"))
      .select(col("mid"), posexplode(expr(
        """transform(sequence(0, 3), k ->
          |  aggregate(sequence(0, 15), 0, (acc, b) ->
          |    acc + shiftleft(IF(
          |      element_at(_px, CAST(((k*16 + b) DIV 8) * 9 + (k*16 + b) % 8 + 1 AS INT)) >
          |      element_at(_px, CAST(((k*16 + b) DIV 8) * 9 + (k*16 + b) % 8 + 2 AS INT)),
          |      1, 0), b)))""".stripMargin)).as(Seq("band", "bv")))

  /** Near-duplicate pairs by banded aHash/dHash: equal-band candidate
    * join (each bucket holds items sharing one 16-bit band — the
    * duplicated mass, never all pairs), then exact hamming over the four
    * bands filtered to ≤ maxHamming. Returns (i, j, hamming), i < j.
    *
    * `maxBucket` is the mega-cluster guard: a crawl-scale corpus holds
    * images reposted millions of times, and every such clone lands in
    * the SAME four band buckets — k² candidate pairs from one asset.
    * Band rows whose (band, value) bucket exceeds the cap are dropped
    * BEFORE the pair join (a count at bucket grain + one filtering
    * join — the `minhashLsh(maxBucket)` / `fuzzyPairs(maxBucket)`
    * hardening); a pair survives if ANY of its 4 bands stays under the
    * cap, so only clusters degenerate in every band are lost — measured
    * 15.7× → ~2.6× at the 10× cloned-image probe. The pair join itself
    * stays a streamed equi-join: a collect_list/double-explode variant
    * measured 17× slower at sf0.1 (each pair row dragged the whole
    * bucket array through the Generate). The cap is the DEFAULT (256 —
    * the 100 TB-safe path; the uncapped 10× probe ran 23.5× vs 2.6×
    * capped); the exact audit is an explicit opt-in
    * (`maxBucket = Int.MaxValue`), which also skips the bucket-count
    * pass entirely.
    */
  def aHashNearDups(bands: DataFrame, maxHamming: Int,
                    maxBucket: Int = 256): DataFrame = {
    val b = bands.localCheckpoint(eager = false)
    val kept =
      if (maxBucket == Int.MaxValue) b
      else b.join(
        b.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("n"))
          .filter(col("n") <= maxBucket)
          .select(col("band").as("kb"), col("bv").as("kv")),
        col("band") === col("kb") && col("bv") === col("kv"))
        .select(col("mid"), col("band"), col("bv"))
    val x = kept.select(col("mid").as("i"), col("band").as("bx"), col("bv").as("vx"))
    val y = kept.select(col("mid").as("j"), col("band").as("by"), col("bv").as("vy"))
    val cand = x.join(y, col("bx") === col("by") && col("vx") === col("vy") &&
        col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    val packed = (0 to 3).map(k => max(when(col("band") === k, col("bv"))).as(s"b$k"))
    val h = b.groupBy(col("mid")).agg(packed.head, packed.tail: _*)
    val hi = h.select(col("mid").as("ii"), col("b0").as("x0"), col("b1").as("x1"),
      col("b2").as("x2"), col("b3").as("x3"))
    val hj = h.select(col("mid").as("jj"), col("b0").as("y0"), col("b1").as("y1"),
      col("b2").as("y2"), col("b3").as("y3"))
    cand.join(hi, col("i") === col("ii")).join(hj, col("j") === col("jj"))
      .select(col("i"), col("j"),
        expr("CAST(bit_count(x0 ^ y0) + bit_count(x1 ^ y1) + " +
          "bit_count(x2 ^ y2) + bit_count(x3 ^ y3) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Little-endian hex field: reverse the byte pairs of a big-endian hex
    * rendering (WAV/RIFF numbers are little-endian on disk).
    */
  private def leHex(v: Column, nBytes: Int): Column = {
    val be = lpad(hex(v.cast("long")), 2 * nBytes, "0")
    concat((0 until nBytes).map(i => substring(be, 2 * i + 1, 2)).reverse: _*)
  }
  private def leRead(hx: Column, startChar: Int, nBytes: Int): Column =
    conv(concat(
      (0 until nBytes).reverse.map(i => substring(hx, startChar + 2 * i, 2)): _*),
      16, 10)

  /** Build a structurally valid WAV/RIFF+fmt header (PCM) as binary —
    * fixture side of the audio header-parse path.
    */
  def wavHeader(channels: Column, sampleRate: Column, bitsPerSample: Column): Column =
    unhex(concat(
      lit("52494646"), lit("00000000"),            // "RIFF" + (size unused)
      lit("57415645"), lit("666D7420"),            // "WAVE" + "fmt "
      lit("10000000"), lit("0100"),                // fmt size 16, PCM
      leHex(channels, 2),
      leHex(sampleRate, 4),
      leHex(sampleRate * channels * bitsPerSample / 8, 4),  // byte rate
      leHex(channels * bitsPerSample / 8, 2),               // block align
      leHex(bitsPerSample, 2)))

  /** Parse (channels, sample_rate, bits_per_sample) from WAV bytes without
    * an audio library — RIFF fields sit at fixed little-endian offsets, so
    * the metadata scan is pure hex substring + base-16 conv. Null for
    * non-RIFF/WAVE bytes.
    */
  def wavMeta(content: Column): Column = {
    val hx = hex(content)
    when(hx.startsWith("52494646") && substring(hx, 17, 8) === lit("57415645"),
      struct(
        leRead(hx, 45, 2).cast("int").as("channels"),
        leRead(hx, 49, 4).cast("int").as("sample_rate"),
        leRead(hx, 69, 2).cast("int").as("bits_per_sample")))
      .otherwise(lit(null).cast(
        "struct<channels:int,sample_rate:int,bits_per_sample:int>"))
  }

  /** Wrap an id+bytes DataFrame into the media schema (columnar, no UDF). */
  def asMedia(df: DataFrame, idCol: String, bytesCol: String, mime: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(bytesCol).cast("binary").as("content"),
      lit(mime).as("mime"),
      struct(
        octet_length(col(bytesCol).cast("binary")).cast("long").as("byte_len"),
        lower(sha2(col(bytesCol).cast("binary"), 256)).as("sha256")).as("meta"))

  private val pngMagic = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47,
    0x0D, 0x0A, 0x1A, 0x0A)

  /** Real grayscale PNG encode via `javax.imageio`: row-major 0-255 pixel
    * values → PNG bytes. The fixture/ingest side of the real decode path.
    */
  def encodeGrayPng(pixels: Array[Int], width: Int, height: Int): Array[Byte] = {
    require(pixels.length == width * height,
      s"${pixels.length} pixels != $width x $height")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < pixels.length) {
      raster.setSample(i % width, i / width, 0, pixels(i) & 0xff)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real image decode via `javax.imageio`: (width, height, channels,
    * band-0 pixels row-major — the gray value for grayscale images).
    * None when the bytes aren't a decodable image.
    */
  def decodeImage(content: Array[Byte]): Option[(Int, Int, Int, Array[Int])] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val raster = img.getRaster
        val px = new Array[Int](w * h)
        var i = 0
        while (i < px.length) {
          px(i) = raster.getSample(i % w, i / w, 0)
          i += 1
        }
        Some((w, h, raster.getNumBands, px))
      }
    } catch { case _: Exception => None }

  private val pixelsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("pixels", ArrayType(IntegerType))))

  /** Encode (id, w, h, pixel-array) rows into real grayscale PNGs —
    * mapPartitions batch shape, one image in flight at a time (bounded
    * memory per task regardless of partition size).
    */
  def encodeGrayPngStage(df: DataFrame, idCol: String, pixelsCol: String,
                         wCol: String, hCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    // NOTE (r13): scan fan-out here measured SLOWER same-JVM-A/B (4.8 →
    // 6.7 s on mm_png_dims) — the encode is cheap relative to the fanned
    // stages' per-task overhead. Deliberately not applied.
    df.select(col(idCol).cast("long"), col(wCol).cast("int"),
        col(hCol).cast("int"), col(pixelsCol))
      .mapPartitions { it =>
        it.map { r =>
          Row(r.getLong(0),
            encodeGrayPng(r.getSeq[Int](3).toArray, r.getInt(1), r.getInt(2)))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Real-codec decode stage: PNG bytes → (media_id, width, height,
    * channels, pixels) via `javax.imageio`. Rows whose bytes don't decode
    * are dropped — route structurally invalid media to a DLQ upstream
    * (the EventStream pattern) rather than poisoning the feature stage.
    */
  def decodePixels(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("content"))
      .mapPartitions { it =>
        it.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]](1)).map { case (w, h, ch, px) =>
            Row(r.getLong(0), w, h, ch, px.toSeq)
          }
        }
      }(org.apache.spark.sql.Encoders.row(pixelsSchema))

  /** Real 16-bit PCM WAV encode: interleaved signed sample values
    * (−32768..32767) → a complete RIFF/WAVE byte stream (fmt + data,
    * correct chunk sizes). The fixture/ingest side of the real audio
    * decode path — no codec involved, PCM is the wire format.
    */
  def encodePcm16Wav(samples: Array[Int], channels: Int, sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1).putShort(channels.toShort).putInt(sampleRate)
    buf.putInt(sampleRate * channels * 2)     // byte rate
    buf.putShort((channels * 2).toShort)      // block align
    buf.putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  /** Real PCM WAV decode: walks the RIFF chunk list the way any
    * conforming reader must (fmt / data located by tag, unknown chunks
    * skipped with even-size padding), then parses the data payload as
    * 16-bit LE signed or 8-bit unsigned-centered PCM. Returns
    * (channels, sample_rate, bits_per_sample, samples); None for
    * non-RIFF/WAVE bytes, non-PCM formats, or truncated chunks.
    */
  def decodePcmWav(content: Array[Byte]): Option[(Int, Int, Int, Array[Int])] = {
    def tag(off: Int): String =
      if (off + 4 > content.length) ""
      else new String(content, off, 4, "US-ASCII")
    def le(off: Int, n: Int): Long =
      (0 until n).map(i => (content(off + i) & 0xffL) << (8 * i)).sum
    if (content.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None
    var malformed = false
    while (!malformed && off + 8 <= content.length &&
        (fmt.isEmpty || data.isEmpty)) {
      val id = tag(off)
      val sz = le(off + 4, 4)
      val body = off + 8
      if (sz < 0 || sz > content.length) malformed = true // garbage size
      else {
        if (id == "fmt " && sz >= 16 && body + 16 <= content.length) {
          if (le(body, 2).toInt != 1) return None // PCM only
          fmt = Some((le(body + 2, 2).toInt, le(body + 4, 4).toInt,
            le(body + 14, 2).toInt))
        } else if (id == "data") {
          data = Some((body, math.min(sz.toInt, content.length - body)))
        }
        off = body + sz.toInt + (sz.toInt & 1) // chunks pad to even
      }
    }
    for {
      (ch, rate, bits) <- fmt
      (dOff, dLen) <- data
      if bits == 16 || bits == 8
    } yield {
      val samples =
        if (bits == 16)
          Array.tabulate(dLen / 2)(i => le(dOff + 2 * i, 2).toShort.toInt)
        else Array.tabulate(dLen)(i => (content(dOff + i) & 0xff) - 128)
      (ch, rate, bits, samples)
    }
  }

  private val samplesSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("samples", ArrayType(IntegerType))))

  /** Encode (id, sample-array) rows into real PCM WAV bytes —
    * mapPartitions batch shape, one item in flight at a time.
    */
  def encodePcm16WavStage(df: DataFrame, idCol: String, samplesCol: String,
                          channels: Int, sampleRate: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    df.select(col(idCol).cast("long"), col(samplesCol))
      .mapPartitions { it =>
        it.map { r =>
          Row(r.getLong(0),
            encodePcm16Wav(r.getSeq[Int](1).toArray, channels, sampleRate))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Real-codec audio decode stage: WAV bytes → (media_id, channels,
    * sample_rate, bits_per_sample, samples). Undecodable rows are
    * dropped — route them to a DLQ upstream, as with `decodePixels`.
    */
  def decodeSamples(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("content"))
      .mapPartitions { it =>
        it.flatMap { r =>
          decodePcmWav(r.getAs[Array[Byte]](1)).map { case (ch, rate, bits, s) =>
            Row(r.getLong(0), ch, rate, bits, s.toSeq)
          }
        }
      }(org.apache.spark.sql.Encoders.row(samplesSchema))

  /** Real multi-frame (animated) GIF encode via `javax.imageio` — the
    * in-JDK VIDEO-CONTAINER path: full-size grayscale frames appended
    * with `writeToSequence` into one GIF89a stream. GIF's LZW is
    * lossless and 256 gray levels fit a single palette exactly, so every
    * frame round-trips value-exact through the real codec.
    */
  def encodeGrayGif(frames: Seq[Array[Int]], width: Int, height: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { px =>
        require(px.length == width * height,
          s"${px.length} pixels != $width x $height")
        val img = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < px.length) {
          raster.setSample(i % width, i / width, 0, px(i) & 0xff)
          i += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      ios.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  /** Real multi-frame GIF decode: every frame's (width, height, gray
    * pixels row-major). The gray value reads through `getRGB`'s red
    * channel so a reordered palette can't alias sample values. None for
    * bytes no installed reader claims (non-image content).
    */
  def decodeGifFrames(content: Array[Byte]): Option[Seq[(Int, Int, Array[Int])]] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          Some((0 until n).map { i =>
            val img = reader.read(i)
            val w = img.getWidth
            val h = img.getHeight
            val px = new Array[Int](w * h)
            var p = 0
            while (p < px.length) {
              px(p) = img.getRGB(p % w, p / w) & 0xff
              p += 1
            }
            (w, h, px)
          })
        } finally reader.dispose()
      }
    } catch { case _: Exception => None }

  private val gifFramesSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("pixels", ArrayType(IntegerType))))

  /** Encode (id, frames: array<array<int>>) rows into real animated
    * GIFs — mapPartitions batch shape, one container in flight at a time.
    */
  def encodeGrayGifStage(df: DataFrame, idCol: String, framesCol: String,
                         width: Int, height: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    df.select(col(idCol).cast("long"), col(framesCol))
      .mapPartitions { it =>
        it.map { r =>
          val frames = r.getSeq[scala.collection.Seq[Int]](1)
            .map(_.toArray)
          Row(r.getLong(0), encodeGrayGif(frames, width, height))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Real-codec video decode stage: GIF bytes → one row per frame
    * (media_id, frame_idx, n_frames, width, height, pixels). Rows whose
    * bytes don't decode are dropped — DLQ upstream, as `decodePixels`.
    */
  def decodeGifFramesStage(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("content"))
      .mapPartitions { it =>
        it.flatMap { r =>
          decodeGifFrames(r.getAs[Array[Byte]](1)).toSeq.flatMap { frames =>
            frames.zipWithIndex.map { case ((w, h, px), i) =>
              Row(r.getLong(0), i, frames.length, w, h, px.toSeq)
            }
          }
        }
      }(org.apache.spark.sql.Encoders.row(gifFramesSchema))

  /** Minimal ISO-BMFF (MP4) container shell: `ftyp` + `moov(mvhd)` — the
    * box structure every real MP4 opens with; a metadata scan never needs
    * the codec payload. mvhd version 0, unity matrix, planted
    * (timescale, duration). The fixture/ingest side of [[mp4Meta]].
    */
  def encodeMp4Shell(timescale: Int, durationUnits: Long): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(20 + 8 + 108)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def fourcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    buf.putInt(20); fourcc("ftyp")                        // ftyp box
    fourcc("isom"); buf.putInt(0); fourcc("iso2")
    buf.putInt(8 + 108); fourcc("moov")                   // moov wraps mvhd
    buf.putInt(108); fourcc("mvhd")
    buf.putInt(0)                                         // version 0 + flags
    buf.putInt(0).putInt(0)                               // ctime, mtime
    buf.putInt(timescale)
    buf.putInt(durationUnits.toInt)
    buf.putInt(0x00010000).putShort(0x0100.toShort)       // rate, volume
    buf.putShort(0).putInt(0).putInt(0)                   // reserved
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
      .foreach(buf.putInt)                                // unity matrix
    (1 to 6).foreach(_ => buf.putInt(0))                  // pre_defined
    buf.putInt(1)                                         // next_track_ID
    buf.array()
  }

  /** ISO-BMFF box walk — the scan any conforming MP4 reader starts
    * with: step top-level boxes by their big-endian sizes to `moov`,
    * step its children to `mvhd`, read (timescale, duration) honoring
    * both version 0 (32-bit) and version 1 (64-bit) layouts. Returns
    * None for non-BMFF bytes, truncated boxes, or a missing mvhd — the
    * codec-free video-container metadata scan (decode itself stays
    * stubbed; codecs aren't in this container).
    */
  def mp4Meta(content: Array[Byte]): Option[(Int, Long)] = {
    def be(off: Int, n: Int): Long =
      (0 until n).map(i => (content(off + i) & 0xffL) << (8 * (n - 1 - i))).sum
    def tag(off: Int): String =
      if (off + 4 > content.length) ""
      else new String(content, off, 4, "US-ASCII")
    def walk(from: Int, until: Int, want: String): Option[Int] = {
      var off = from
      while (off + 8 <= until) {
        val sz = be(off, 4)
        if (sz < 8 || off + sz > until) return None
        if (tag(off + 4) == want) return Some(off)
        off += sz.toInt
      }
      None
    }
    if (content.length < 8) return None
    for {
      moov <- walk(0, content.length, "moov")
      mvhd <- walk(moov + 8, moov + be(moov, 4).toInt, "mvhd")
      if mvhd + 12 <= content.length
    } yield {
      val version = content(mvhd + 8) & 0xff
      if (version == 1)
        (be(mvhd + 28, 4).toInt, be(mvhd + 32, 8))
      else
        (be(mvhd + 20, 4).toInt, be(mvhd + 24, 4))
    }
  }

  /** Minimal REAL JPEG stream: SOI → APP0/JFIF → DQT → SOF0 (baseline)
    * or SOF2 (progressive) carrying the planted dimensions/components →
    * SOS header + EOI. Marker grammar is exactly ITU-T T.81 §B: every
    * non-standalone segment is FF <marker> <16-bit BE length incl. the
    * length field>. A metadata scan never needs entropy-coded data, so
    * the scan body is empty — but the byte layout up to SOS is what any
    * conforming JPEG opens with. Fixture/ingest side of [[jpegMeta]].
    */
  def encodeJpegShell(width: Int, height: Int, components: Int,
                      progressive: Boolean): Array[Byte] = {
    require(width >= 1 && width <= 0xffff && height >= 1 && height <= 0xffff)
    require(components == 1 || components == 3)
    val sofLen = 8 + 3 * components
    val buf = java.nio.ByteBuffer.allocate(2 + 18 + 69 + (2 + sofLen) +
      (2 + 6 + 2 * components) + 2).order(java.nio.ByteOrder.BIG_ENDIAN)
    def marker(m: Int): Unit = { buf.put(0xff.toByte); buf.put(m.toByte) }
    marker(0xd8)                                          // SOI
    marker(0xe0); buf.putShort(16)                        // APP0, len 16
    buf.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    buf.put(1.toByte).put(1.toByte)                       // version 1.1
    buf.put(0.toByte)                                     // aspect-ratio units
    buf.putShort(1).putShort(1)                           // density 1:1
    buf.put(0.toByte).put(0.toByte)                       // no thumbnail
    marker(0xdb); buf.putShort(67); buf.put(0.toByte)     // DQT: table 0,
    (0 until 64).foreach(_ => buf.put(16.toByte))         // flat 8-bit quants
    marker(if (progressive) 0xc2 else 0xc0)               // SOF2 / SOF0
    buf.putShort(sofLen.toShort)
    buf.put(8.toByte)                                     // sample precision
    buf.putShort(height.toShort).putShort(width.toShort)  // lines, samples
    buf.put(components.toByte)
    (1 to components).foreach { c =>
      buf.put(c.toByte)                                   // component id
      buf.put(0x11.toByte)                                // 1×1 sampling
      buf.put(0.toByte)                                   // quant table 0
    }
    marker(0xda); buf.putShort((6 + 2 * components).toShort) // SOS header
    buf.put(components.toByte)
    (1 to components).foreach { c => buf.put(c.toByte); buf.put(0.toByte) }
    buf.put(0.toByte).put(63.toByte).put(0.toByte)        // spectral select
    marker(0xd9)                                          // EOI
    buf.array()
  }

  /** JPEG marker walk (T.81 §B.1.1.2): skip FF fill bytes, step segments
    * by their big-endian lengths past APPn/DQT/DHT/COM to the first SOFn
    * (n ∈ 0..15 minus DHT/DAC/RST — i.e. the frame header, baseline or
    * progressive), read (width, height, components, progressive). Stops
    * at SOS/EOI without a frame header → None; standalone markers
    * (TEM, RSTn) carry no length and are stepped over. None for
    * non-JPEG bytes or any truncated segment — DLQ upstream.
    */
  def jpegMeta(content: Array[Byte]): Option[(Int, Int, Int, Boolean)] = {
    def u8(i: Int): Int = content(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (content.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    var off = 2
    while (off + 1 < content.length) {
      if (u8(off) != 0xff) return None
      while (off + 1 < content.length && u8(off + 1) == 0xff) off += 1 // fill
      if (off + 1 >= content.length) return None
      val m = u8(off + 1)
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { off += 2 }   // standalone
      else if (m == 0xd9 || m == 0xda) return None              // EOI / SOS
      else {
        if (off + 4 > content.length) return None
        val len = u16(off + 2)
        if (len < 2 || off + 2 + len > content.length) return None
        val isSof = m >= 0xc0 && m <= 0xcf &&
          m != 0xc4 && m != 0xc8 && m != 0xcc                   // not DHT/JPG/DAC
        if (isSof) {
          if (len < 8) return None
          return Some((u16(off + 7), u16(off + 5), u8(off + 9),
            m == 0xc2 || m == 0xc6 || m == 0xca || m == 0xce))
        }
        off += 2 + len
      }
    }
    None
  }

  /** Encode (id, width, height, components, progressive) rows into JPEG
    * shells — same mapPartitions batch shape as every codec stage.
    */
  def encodeJpegStage(df: DataFrame, idCol: String, widthCol: String,
                      heightCol: String, componentsCol: String,
                      progressiveCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    df.select(col(idCol).cast("long"), col(widthCol).cast("int"),
        col(heightCol).cast("int"), col(componentsCol).cast("int"),
        col(progressiveCol).cast("boolean"))
      .mapPartitions { it =>
        it.map(r => Row(r.getLong(0),
          encodeJpegShell(r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4))))
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  private val jpegMetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("components", IntegerType),
    StructField("progressive", BooleanType)))

  /** Frame-header scan stage: JPEG bytes → (media_id, width, height,
    * components, progressive). Unparseable rows are dropped — DLQ
    * upstream.
    */
  def jpegMetaStage(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("content"))
      .mapPartitions { it =>
        it.flatMap { r =>
          jpegMeta(r.getAs[Array[Byte]](1)).map { case (w, h, c, p) =>
            Row(r.getLong(0), w, h, c, p)
          }
        }
      }(org.apache.spark.sql.Encoders.row(jpegMetaSchema))

  /** Encode (id, timescale, duration) rows into MP4 shells — the
    * mapPartitions batch shape shared by every codec stage.
    */
  def encodeMp4Stage(df: DataFrame, idCol: String, timescaleCol: String,
                     durationCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    df.select(col(idCol).cast("long"), col(timescaleCol).cast("int"),
        col(durationCol).cast("long"))
      .mapPartitions { it =>
        it.map(r => Row(r.getLong(0), encodeMp4Shell(r.getInt(1), r.getLong(2))))
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  private val mp4MetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("timescale", IntegerType),
    StructField("duration_units", LongType)))

  /** Container-metadata scan stage: MP4 bytes → (media_id, timescale,
    * duration_units). Unparseable rows are dropped — DLQ upstream.
    */
  def mp4MetaStage(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("content"))
      .mapPartitions { it =>
        it.flatMap { r =>
          mp4Meta(r.getAs[Array[Byte]](1)).map { case (ts, dur) =>
            Row(r.getLong(0), ts, dur)
          }
        }
      }(org.apache.spark.sql.Encoders.row(mp4MetaSchema))

  /** Deterministic fake decode: "dimensions" derived from the byte length,
    * "frames" are md5s of fixed-stride byte windows. The remaining honest
    * stand-in for audio/video codecs (not in this container); PNG content
    * never reaches it — `decode` routes image bytes through the real
    * `javax.imageio` path.
    */
  def stubDecode(mediaId: Long, content: Array[Byte], frameStride: Int): Row = {
    val len = content.length
    val width = 16 + (len % 640)
    val height = 16 + ((len * 7) % 480)
    val frames = (0 until math.min(8, math.max(1, (len + frameStride - 1) / frameStride)))
      .map { i =>
        val from = i * frameStride
        val until = math.min(len, from + frameStride)
        if (from >= len) null
        else java.security.MessageDigest.getInstance("MD5")
          .digest(java.util.Arrays.copyOfRange(content, from, until))
          .map("%02x".format(_)).mkString
      }.filter(_ != null)
    Row(mediaId, width, height, 3, frames)
  }

  /** Decode stage: mapPartitions over the media rows (the Scala analogue of
    * a pandas-batch UDF) — batch-iterator in, batch-iterator out, bounded
    * by one row's bytes at a time. PNG content (by magic) decodes through
    * the REAL `javax.imageio` codec: width/height/channels come from the
    * actual raster, frames are md5s of the first ≤8 pixel rows. RIFF/WAVE
    * content decodes through the REAL PCM parser: width carries the
    * sample rate, height the sample count, frames are md5s of the first
    * ≤8 `frameStride`-sample windows. Other content falls back to the
    * deterministic video stub.
    * Kept: the one-call multimodal decode stage (SURVEY §2.11); the queries
    * call the per-type stages, TrainSpec drives this one.
    */
  def decode(media: DataFrame, frameStride: Int = 50): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(decodedSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val content = r.getAs[Array[Byte]](1)
          def md5hex(b: Array[Byte]): String =
            java.security.MessageDigest.getInstance("MD5")
              .digest(b).map("%02x".format(_)).mkString
          val real =
            if (content.length >= 8 && content.view.take(8).sameElements(pngMagic))
              decodeImage(content).map { case (w, h, ch, px) =>
                val frames = (0 until math.min(8, h)).map { row =>
                  md5hex(px.slice(row * w, (row + 1) * w).map(_.toByte))
                }
                Row(id, w, h, ch, frames)
              }
            else
              decodePcmWav(content).map { case (ch, rate, _, samples) =>
                val nWindows = math.min(8,
                  math.max(1, (samples.length + frameStride - 1) / frameStride))
                val frames = (0 until nWindows).flatMap { i =>
                  val from = i * frameStride
                  if (from >= samples.length && samples.length > 0) None
                  else Some(md5hex(samples
                    .slice(from, math.min(samples.length, from + frameStride))
                    .flatMap(s => Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))))
                }
                Row(id, rate, samples.length, ch, frames)
              }
          real.getOrElse(stubDecode(id, content, frameStride))
        }
      }(enc)
  }

  /** Frame sampling as a pure-plan variant (SQL-mirrorable for the oracle):
    * frame i = md5 of the i-th fixed-width byte window of the UTF-8 text.
    */
  def frameSamplePlan(textCol: org.apache.spark.sql.Column, stride: Int,
                      maxFrames: Int): org.apache.spark.sql.Column =
    filter(
      transform(sequence(lit(0), lit(maxFrames - 1)),
        i => when(i * stride < length(textCol),
          md5(textCol.substr(i * stride + 1, lit(stride))))),
      x => x.isNotNull)
}

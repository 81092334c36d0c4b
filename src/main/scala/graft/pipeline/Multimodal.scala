package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads modeled as opaque
  * `binary` columns plus typed metadata, with decode / feature-extraction /
  * frame-sampling plumbing.
  *
  * Codec status — all REAL pure-JVM codecs, no media library needed:
  * image: BMP (24-bit uncompressed, BITMAPINFOHEADER), binary PPM (P6),
  * PNG (8-bit RGB, real zlib stream + CRC32/Adler32, IDAT verified by
  * actual Inflater decompression), GIF (FULL LZW decompressor —
  * variable code width, CLEAR/EOI, interlace — plus palette map), TIFF,
  * JPEG (REAL entropy decode in [[Jpeg]]: baseline AND progressive —
  * Huffman, FDCT/IDCT, 4:2:0, restarts, spectral selection + successive
  * approximation; this file's decodeJpeg is the header-level
  * marker-walk face); audio: WAV (RIFF/WAVE chunk walk, PCM fmt + data,
  * signed 16-bit sample decode); video: MP4 (ISO-BMFF box walk to
  * moov>mvhd, v0 and v1). PIXEL-level decode (decodePixelsRgb →
  * decodeImageFeatures with per-channel stats + dHash) covers
  * BMP/PPM/PNG/GIF/TIFF and, via [[Jpeg.decodePixels]], baseline +
  * progressive (SOF2) + lossless (SOF3) JPEG; SAMPLE-level decode
  * (decodeWavSamples → decodeAudioFeatures) covers PCM-16 WAV. decodeMeta
  * dispatches images on magic bytes; decodeAudioMeta / decodeVideoMeta
  * are the typed audio/video faces. Only payloads matching NO real codec
  * (arithmetic-coded or hierarchical JPEG frames, AAC/H.264) fall through
  * to the clearly-marked deterministic STUB. The Spark-side plumbing (schemas,
  * binary slicing, mapPartitions batch shape, partition-parallel
  * execution) is shared by both paths.
  */
object Multimodal {

  /** Metadata schema attached to decoded media. */
  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("media_format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_bytes", LongType, nullable = true)))

  /** Wrap a column as an opaque binary payload (here: UTF-8 bytes; in a
    * real pipeline this column comes from the storage layer as-is). */
  def asBinary(df: DataFrame, payloadCol: String, out: String): DataFrame =
    df.withColumn(out, col(payloadCol).cast(BinaryType))

  /** Ingest RAW media files from storage as (path, length, media) rows —
    * Spark's binaryFile source, the front door of a multimodal crawl
    * pipeline (each file becomes one row with its full payload in a
    * binary column; downstream decode/feature/dedup operators then run
    * partition-parallel exactly as over any other binary column).
    *
    * Scale posture: binaryFile caps each row at
    * `spark.sql.sources.binaryFile.maxLength` (default Int.MaxValue) and
    * never splits a file, so parallelism = file count; `glob` prunes at
    * LISTING time (pathGlobFilter — no payload read for skipped files),
    * which is the pushdown that matters for a 100 TB object-store crawl.
    * For millions of tiny files, compact into parquet with this ingest
    * once and keep the analytical store columnar. */
  def ingestBinaryFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                        glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(dir)
      .select(col("path"), col("length"), col("content").as("media"))
  }

  /** Frame sampling: slice the payload into `n` fixed-width frames
    * (binary substring — runs in codegen, no UDF). For video this is the
    * keyframe-stride pattern; stub keeps byte slices. */
  def frameSample(df: DataFrame, binCol: String, n: Int, frameBytes: Int,
                  out: String): DataFrame =
    df.withColumn(out, transform(sequence(lit(0), lit(n - 1)),
      i => substring(col(binCol), i * frameBytes + 1, lit(frameBytes))))

  /** STUB resize — nearest-neighbor byte sampling down to `dstLen` bytes:
    * out[i] = in[floor(i·srcLen/dstLen)]. A real implementation would be a
    * pixel-space resample inside the decode kernel; the plumbing shown here
    * (pure binary-slicing expressions, stays in codegen, no UDF) is what a
    * real one plugs into. Empty payloads stay empty. */
  def resizeStub(df: DataFrame, binCol: String, dstLen: Int, out: String): DataFrame = {
    val srcLen = octet_length(col(binCol))
    val sampled = concat((0 until dstLen).map { i =>
      substring(col(binCol), (floor(lit(i) * srcLen / dstLen) + 1).cast("int"), lit(1))
    }: _*)
    df.withColumn(out, when(srcLen === 0, col(binCol)).otherwise(sampled))
  }

  // ===== REAL codecs (pure JVM, header-level) =====

  /** REAL encoder: minimal 24-bit uncompressed BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, bottom-up, rows padded to 4 bytes). Pixel bytes
    * cycle through `pixelSeed` (all-zero when empty). Every field a BMP
    * reader checks — magic, file size, data offset 54, header size 40,
    * planes 1, bpp 24, image size — is written for real. */
  def encodeBmp24(width: Int, height: Int, pixelSeed: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "encodeBmp24: need positive dimensions")
    val rowBytes = width * 3
    val pad = (4 - rowBytes % 4) % 4
    val imgSize = (rowBytes + pad) * height
    val buf = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + imgSize)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(imgSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = 0
    var i = 0
    while (y < height) {
      var x = 0
      while (x < rowBytes) {
        buf.put(if (pixelSeed.isEmpty) 0.toByte else pixelSeed(i % pixelSeed.length))
        i += 1; x += 1
      }
      var p = 0
      while (p < pad) { buf.put(0.toByte); p += 1 }
      y += 1
    }
    buf.array()
  }

  /** REAL decoder: BMP header parse — 'BM' magic, little-endian int32
    * width at offset 18 / height at 22 (negative height = top-down rows;
    * dimensions reported as magnitudes). */
  def decodeBmp(bytes: Array[Byte]): Option[(String, Int, Int)] =
    if (bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val w = bb.getInt(18)
      val h = math.abs(bb.getInt(22))
      if (w > 0 && h > 0) Some(("image/bmp", w, h)) else None
    } else None

  /** REAL decoder: binary PPM (P6) ASCII header — "P6", then
    * whitespace-separated width, height, maxval (comment lines
    * starting '#' between tokens are skipped, per the netpbm spec). */
  def decodePpm(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes.length < 2 || bytes(0) != 'P'.toByte || bytes(1) != '6'.toByte) return None
    var i = 2
    def skipSeparators(): Unit = {
      var more = true
      while (more && i < bytes.length) {
        val c = bytes(i).toChar
        if (c.isWhitespace) i += 1
        else if (c == '#') { while (i < bytes.length && bytes(i) != '\n'.toByte) i += 1 }
        else more = false
      }
    }
    def readInt(): Option[Int] = {
      skipSeparators()
      var v = 0L
      var any = false
      while (i < bytes.length && bytes(i) >= '0'.toByte && bytes(i) <= '9'.toByte) {
        v = v * 10 + (bytes(i) - '0'.toByte); any = true; i += 1
        if (v > Int.MaxValue) return None
      }
      if (any) Some(v.toInt) else None
    }
    for { w <- readInt(); h <- readInt(); _ <- readInt(); if w > 0 && h > 0 }
      yield ("image/ppm", w, h)
  }

  // ===== PNG (real, pure JVM: zlib stored-block stream + CRC32/Adler32) ==

  /** REAL encoder: spec-conformant PNG — 8-byte signature, IHDR (8-bit
    * RGB, color type 2, no interlace), one IDAT carrying a zlib stream
    * built here from STORED deflate blocks (BTYPE=00 — valid deflate any
    * decoder inflates; chosen over Deflater so the byte size is an exact
    * closed-form function of the dimensions), IEND. Chunk CRC32s and the
    * zlib Adler-32 are computed for real. Scanlines are filter-type-0
    * rows of RGB triples cycling through `pixelSeed`.
    * File size = 63 + raw + 5*ceil(raw/65535), raw = height*(1+3*width). */
  def encodePng(width: Int, height: Int, pixelSeed: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "encodePng: need positive dimensions")
    val rowBytes = 1 + 3 * width
    val raw = new Array[Byte](height * rowBytes)
    var y = 0
    var i = 0
    while (y < height) {
      raw(y * rowBytes) = 0 // filter type None
      var x = 1
      while (x < rowBytes) {
        raw(y * rowBytes + x) =
          if (pixelSeed.isEmpty) 0 else pixelSeed(i % pixelSeed.length)
        i += 1; x += 1
      }
      y += 1
    }
    // zlib stream: 0x78 0x01 header, stored blocks of <= 65535, Adler-32
    val nBlocks = (raw.length + 65534) / 65535
    val zlib = java.nio.ByteBuffer.allocate(2 + raw.length + 5 * nBlocks + 4)
    zlib.put(0x78.toByte).put(0x01.toByte)
    var off = 0
    while (off < raw.length) {
      val len = math.min(65535, raw.length - off)
      val fin = if (off + len >= raw.length) 1 else 0
      zlib.put(fin.toByte) // BFINAL + BTYPE=00 (stored)
      zlib.put((len & 0xff).toByte).put(((len >> 8) & 0xff).toByte)
      zlib.put((~len & 0xff).toByte).put(((~len >> 8) & 0xff).toByte)
      zlib.put(raw, off, len)
      off += len
    }
    val adler = new java.util.zip.Adler32
    adler.update(raw)
    zlib.putInt(adler.getValue.toInt)
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    def chunk(name: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(name.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(out.array(), 4, 4 + data.length)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
    sig ++ chunk("IHDR", ihdr.array()) ++ chunk("IDAT", zlib.array()) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** REAL decoder: PNG signature + IHDR parse with chunk-CRC verification,
    * then the IDAT chunks are concatenated and INFLATED (java.util.zip
    * Inflater — the real decompressor) and, for the 8-bit RGB layout, the
    * decompressed length is checked against height*(1+3*width). A bad
    * signature, a corrupt IHDR CRC, or an IDAT that does not inflate to
    * the advertised geometry all reject the payload. */
  def decodePng(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
    if (bytes.length < 33 || !bytes.take(8).sameElements(sig)) return None
    val bb = java.nio.ByteBuffer.wrap(bytes)
    if (bb.getInt(8) != 13 || new String(bytes, 12, 4, "US-ASCII") != "IHDR") return None
    val crc = new java.util.zip.CRC32
    crc.update(bytes, 12, 17)
    if (crc.getValue.toInt != bb.getInt(29)) return None
    val w = bb.getInt(16)
    val h = bb.getInt(20)
    val depth = bytes(24)
    val colorType = bytes(25)
    if (w <= 0 || h <= 0) return None
    // walk the chunk list and inflate the IDAT payload
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 33
    var ok = true
    while (ok && pos + 8 <= bytes.length) {
      val len = bb.getInt(pos)
      val name = new String(bytes, pos + 4, 4, "US-ASCII")
      if (len < 0 || pos + 12 + len > bytes.length) ok = false
      else {
        if (name == "IDAT") idat.write(bytes, pos + 8, len)
        pos += 12 + len
      }
    }
    if (!ok) return None
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    val buf = new Array[Byte](65536)
    var total = 0L
    try {
      while (!inf.finished() && !inf.needsInput()) total += inf.inflate(buf)
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // geometry check only where the layout is known (8-bit RGB, filter
    // byte per row); other color types pass on header + CRC alone
    if (depth == 8 && colorType == 2 && total != h.toLong * (1L + 3L * w)) None
    else Some(("image/png", w, h))
  }

  /** Encode (width, height, seed-bytes) columns into REAL PNG payloads. */
  def encodePngCol(df: DataFrame, widthCol: String, heightCol: String,
                   seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out)(encodePng)

  // ===== JPEG (real, pure JVM, header-level: marker-segment stream) =====

  /** REAL encoder: structurally valid baseline JPEG/JFIF marker stream —
    * SOI, APP0 (JFIF 1.1), DQT (one 8-bit table), SOF0 (8-bit precision,
    * 3 components, 1x1 sampling), SOS, `width*height` scan bytes cycling
    * through `pixelSeed` (0xFF mapped to 0xFE so no byte-stuffing is
    * needed and the size stays a closed form), EOI. Every length field a
    * marker walker checks is written for real; entropy data is raw seed
    * bytes (header-level codec — no Huffman coding, same fidelity tier
    * as the BMP/PPM header parse). File size = 124 + width*height. */
  def encodeJpegHeader(width: Int, height: Int, pixelSeed: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff,
      "encodeJpegHeader: dimensions must be in [1, 65535]")
    require(width.toLong * height <= Int.MaxValue - 124,
      "encodeJpegHeader: width*height scan bytes exceed a single buffer")
    val scan = new Array[Byte](width * height)
    var i = 0
    while (i < scan.length) {
      val b = if (pixelSeed.isEmpty) 0 else pixelSeed(i % pixelSeed.length) & 0xff
      scan(i) = (if (b == 0xff) 0xfe else b).toByte
      i += 1
    }
    val out = java.nio.ByteBuffer.allocate(124 + scan.length) // big-endian, as JPEG is
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffe0.toShort).putShort(16) // APP0, length 16
      .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      .put(1.toByte).put(1.toByte) // version 1.1
      .put(0.toByte).putShort(1).putShort(1) // aspect-ratio units, 1:1 density
      .put(0.toByte).put(0.toByte) // no thumbnail
    out.putShort(0xffdb.toShort).putShort(67).put(0.toByte) // DQT, table 0, 8-bit
    var q = 0
    while (q < 64) { out.put((16 + q % 8).toByte); q += 1 }
    out.putShort(0xffc0.toShort).putShort(17).put(8.toByte) // SOF0, length 8+3*3
      .putShort(height.toShort).putShort(width.toShort).put(3.toByte)
    var c = 1
    while (c <= 3) { out.put(c.toByte).put(0x11.toByte).put(0.toByte); c += 1 }
    out.putShort(0xffda.toShort).putShort(12).put(3.toByte) // SOS, length 6+2*3
    c = 1
    while (c <= 3) { out.put(c.toByte).put(0.toByte); c += 1 }
    out.put(0.toByte).put(0x3f.toByte).put(0.toByte) // spectral 0..63, no approx
    out.put(scan)
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** REAL decoder: JPEG marker-segment walk — SOI, then skip each
    * variable-length segment by its big-endian length field until a
    * frame header (SOF0–SOF15, excluding DHT/JPG/DAC which share the
    * 0xC0 block) yields height/width/components; fill bytes and
    * standalone markers (TEM, RSTn) are stepped over per the spec. A
    * stream that hits SOS or EOI before any SOF, or whose lengths run
    * past the payload, is rejected. Works on real camera files (SOF0
    * baseline and SOF2 progressive alike) — only the header is parsed,
    * no entropy decode. */
  def decodeJpeg(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes.length < 4 ||
      (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    var pos = 2
    while (pos + 1 < bytes.length) {
      if ((bytes(pos) & 0xff) != 0xff) return None
      var p = pos + 1
      while (p < bytes.length && (bytes(p) & 0xff) == 0xff) p += 1 // fill bytes
      if (p >= bytes.length) return None
      val m = bytes(p) & 0xff
      p += 1
      if (m == 0xd9 || m == 0xda) return None // EOI / SOS before any SOF
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { pos = p } // standalone
      else {
        if (p + 1 >= bytes.length) return None
        val len = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
        if (len < 2 || p + len > bytes.length) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 8) return None
          val h = ((bytes(p + 3) & 0xff) << 8) | (bytes(p + 4) & 0xff)
          val w = ((bytes(p + 5) & 0xff) << 8) | (bytes(p + 6) & 0xff)
          return if (w > 0 && h > 0) Some(("image/jpeg", w, h)) else None
        }
        pos = p + len
      }
    }
    None
  }

  /** Encode (width, height, seed-bytes) columns into REAL JPEG payloads. */
  def encodeJpegCol(df: DataFrame, widthCol: String, heightCol: String,
                    seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out)(encodeJpegHeader)

  /** TILE-CONSTANT grayscale image fully entropy-coded as baseline JPEG
    * (the [[Jpeg]] codec): pixel (x, y) takes the value
    * seed[tileIndex % len] where tileIndex walks 8×8 tiles row-major.
    * Because every 8×8 JPEG block of such an image is flat, the lossy
    * FDCT→quant→Huffman→IDCT round trip is BIT-EXACT ([[Jpeg]] scaladoc),
    * so a DuckDB oracle can replay the decoded pixels from the tile
    * arithmetic — the mechanism that lets a real lossy codec feed a
    * hash-exact gate. */
  def encodeJpegGrayTiled(width: Int, height: Int, seed: Array[Byte]): Array[Byte] = {
    val tilesAcross = (width + 7) / 8
    val px = new Array[Byte](width * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val t = (y / 8) * tilesAcross + (x / 8)
        px(y * width + x) = if (seed.isEmpty) 0 else seed(t % seed.length)
        x += 1
      }
      y += 1
    }
    Jpeg.encodeGray(width, height, px)
  }

  /** Encode columns into entropy-coded tile-constant baseline JPEGs. */
  def encodeJpegBaselineCol(df: DataFrame, widthCol: String, heightCol: String,
                            seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out)(encodeJpegGrayTiled)

  /** The SAME tile-constant gray image as [[encodeJpegGrayTiled]], encoded
    * as a PROGRESSIVE (SOF2) JPEG — spectral selection + DC successive
    * approximation ([[Jpeg.encodeProgressive]]). Flat tiles keep the
    * round trip bit-exact, so the progressive payload decodes to pixels
    * IDENTICAL to its baseline and PNG twins while sharing no entropy
    * layout with either — the cross-CODING planted twin for image dedup
    * (q_image_phash corpus F, round 9). */
  def encodeJpegProgressiveCol(df: DataFrame, widthCol: String, heightCol: String,
                               seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out) { (w, h, seed) =>
      val tilesAcross = (w + 7) / 8
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val t = (y / 8) * tilesAcross + (x / 8)
          px(y * w + x) = if (seed.isEmpty) 0 else seed(t % seed.length)
          x += 1
        }
        y += 1
      }
      Jpeg.encodeProgressive(w, h, 1, px)
    }

  /** The SAME tile-constant gray image as [[encodeJpegGrayTiled]], as a
    * lossless PNG (r = g = b = tile value): because the JPEG flat-tile
    * round trip is bit-exact, the two payloads share ZERO bytes but
    * decode to IDENTICAL pixels — the cross-format planted twin for
    * JPEG↔PNG image dedup (q_image_phash corpus D/E). */
  def encodePngGrayTiledCol(df: DataFrame, widthCol: String, heightCol: String,
                            seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out) { (w, h, seed) =>
      val tilesAcross = (w + 7) / 8
      val rgb = new Array[Byte](3 * w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val t = (y / 8) * tilesAcross + (x / 8)
          val v = if (seed.isEmpty) 0: Byte else seed(t % seed.length)
          val o = 3 * (y * w + x)
          rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
          x += 1
        }
        y += 1
      }
      encodePng(w, h, rgb) // full-length seed ⇒ the cycle is the identity
    }

  // ===== WAV / audio (real, pure JVM: RIFF chunk stream) =====

  /** Metadata schema for decoded audio payloads. */
  val AudioMetaSchema: StructType = StructType(Seq(
    StructField("media_format", StringType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("bits_per_sample", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("n_bytes", LongType, nullable = true)))

  /** REAL encoder: canonical 16-bit PCM WAV — RIFF header with true
    * sizes, `fmt ` chunk (PCM, channels, sample rate, derived
    * byte-rate/block-align), `data` chunk of nSamples frames cycling
    * through `pixelSeed`. File size = 44 + nSamples*channels*2. */
  def encodeWavPcm16(channels: Int, sampleRate: Int, nSamples: Int,
                     seed: Array[Byte]): Array[Byte] = {
    require(channels > 0 && sampleRate > 0 && nSamples >= 0,
      "encodeWavPcm16: need positive channels/rate and nSamples >= 0")
    require(nSamples.toLong * channels * 2 <= Int.MaxValue - 44,
      "encodeWavPcm16: nSamples*channels*2 data bytes exceed a single buffer")
    val blockAlign = channels * 2
    val dataSize = nSamples * blockAlign
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN) // RIFF is little-endian
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign) // byte rate
      .putShort(blockAlign.toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < dataSize) {
      buf.put(if (seed.isEmpty) 0.toByte else seed(i % seed.length))
      i += 1
    }
    buf.array()
  }

  /** REAL decoder: RIFF/WAVE chunk walk — verifies the RIFF+WAVE magic,
    * steps chunks by their little-endian size fields (word-aligned, per
    * the RIFF spec), reads channels/rate/bits from `fmt ` and derives
    * the sample count from the `data` chunk size. Rejects payloads
    * missing either chunk or whose sizes run past the buffer. */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (bytes.length < 44 ||
      new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
      new String(bytes, 8, 4, "US-ASCII") != "WAVE") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // the walk runs in LONG: a crafted chunk size near Int.MaxValue would
    // overflow an Int `pos + 8 + size` guard to negative, slip past it,
    // and crash a decoder that is contractually never allowed to throw
    var pos = 12L
    var fmt: Option[(Int, Int, Int)] = None // channels, rate, bits
    var dataSize = -1L
    while (pos + 8 <= bytes.length && (fmt.isEmpty || dataSize < 0)) {
      val p = pos.toInt
      val id = new String(bytes, p, 4, "US-ASCII")
      val size = bb.getInt(p + 4).toLong & 0xffffffffL
      if (pos + 8 + size > bytes.length) return None
      if (id == "fmt " && size >= 16) {
        val ch = bb.getShort(p + 10) & 0xffff
        val rate = bb.getInt(p + 12)
        val bits = bb.getShort(p + 22) & 0xffff
        if (ch == 0 || rate <= 0 || bits == 0) return None
        fmt = Some((ch, rate, bits))
      } else if (id == "data") dataSize = size
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    fmt.collect {
      case (ch, rate, bits) if dataSize >= 0 && ch * bits / 8 > 0 =>
        (ch, rate, bits, dataSize / (ch * bits / 8))
    }
  }

  /** Encode (channels, sampleRate, nSamples, seed) columns into REAL WAV
    * payloads; NULL in any parameter column yields a NULL payload. */
  def encodeWavCol(df: DataFrame, channelsCol: String, rateCol: String,
                   samplesCol: String, seedCol: String, out: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, BinaryType, nullable = true))
    val ci = df.schema.fieldIndex(channelsCol)
    val ri = df.schema.fieldIndex(rateCol)
    val ni = df.schema.fieldIndex(samplesCol)
    val si = df.schema.fieldIndex(seedCol)
    val rowEnc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(ci) || r.isNullAt(ri) || r.isNullAt(ni))
          Row.fromSeq(r.toSeq :+ null)
        else {
          val seed = if (r.isNullAt(si)) Array.empty[Byte] else r.getAs[Array[Byte]](si)
          Row.fromSeq(r.toSeq :+
            encodeWavPcm16(r.getInt(ci), r.getInt(ri), r.getInt(ni), seed))
        }
      }
    }(rowEnc)
  }

  /** Decode a binary column into AUDIO metadata (the audio face of
    * [[decodeMeta]] — same mapPartitions plumbing, audio-typed fields). */
  def decodeAudioMeta(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ AudioMetaSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val decoded = Option(bytes).flatMap(decodeWav)
        decoded match {
          case Some((ch, rate, bits, n)) => Row.fromSeq(r.toSeq ++
            Seq("audio/wav", ch, rate, bits, n, bytes.length.toLong))
          case None => Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null,
            Option(bytes).map(_.length.toLong).orNull))
        }
      }
    }(enc)
  }

  /** REAL sample decoder: 16-bit PCM WAV — locates the `data` chunk via
    * the same RIFF walk as [[decodeWav]] and returns the interleaved
    * little-endian signed samples. Only PCM-16 layouts decode (other
    * bit depths report metadata only). */
  def decodeWavSamples(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (bytes.length < 44 ||
      new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
      new String(bytes, 8, 4, "US-ASCII") != "WAVE") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12L
    var fmt: Option[(Int, Int, Int)] = None
    var dataOff = -1L
    var dataSize = -1L
    while (pos + 8 <= bytes.length && (fmt.isEmpty || dataOff < 0)) {
      val p = pos.toInt
      val id = new String(bytes, p, 4, "US-ASCII")
      val size = bb.getInt(p + 4).toLong & 0xffffffffL
      if (pos + 8 + size > bytes.length) return None
      if (id == "fmt " && size >= 16) {
        val ch = bb.getShort(p + 10) & 0xffff
        val rate = bb.getInt(p + 12)
        val bits = bb.getShort(p + 22) & 0xffff
        if (ch == 0 || rate <= 0 || bits == 0) return None
        fmt = Some((ch, rate, bits))
      } else if (id == "data") { dataOff = pos + 8; dataSize = size }
      pos += 8 + size + (size & 1)
    }
    fmt.collect {
      case (ch, rate, 16) if dataOff >= 0 =>
        val n = (dataSize / 2).toInt
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = bb.getShort(dataOff.toInt + 2 * i); i += 1 }
        (ch, rate, out)
    }
  }

  /** Audio feature schema: per-channel sample sums (exact), means, and
    * total absolute amplitude — the audio face of [[ImageFeatureSchema]].
    * `sum_ch` / `mean_ch` / `sum_abs_ch` are arrays indexed by channel. */
  val AudioFeatureSchema: StructType = StructType(Seq(
    StructField("media_format", StringType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sum_ch", ArrayType(LongType), nullable = true),
    StructField("mean_ch", ArrayType(DoubleType), nullable = true),
    StructField("sum_abs_ch", ArrayType(LongType), nullable = true),
    StructField("ahash", LongType, nullable = true)))

  /** Per-channel SAMPLE statistics from the REAL decoded PCM frames —
    * the audio counterpart of decodeImageFeatures' pixel stats: exact
    * per-channel sums/means and summed |amplitude| (the loudness proxy a
    * silence/clipping filter needs). Same mapPartitions kernel shape;
    * non-PCM-16 payloads get NULL features. */
  def decodeAudioFeatures(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ AudioFeatureSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        Option(bytes).flatMap(decodeWavSamples) match {
          case Some((ch, rate, samples)) =>
            val sums = new Array[Long](ch)
            val abs = new Array[Long](ch)
            var i = 0
            while (i < samples.length) {
              val c = i % ch
              sums(c) += samples(i)
              abs(c) += math.abs(samples(i).toLong)
              i += 1
            }
            val frames = if (ch > 0) samples.length / ch else 0
            val means = sums.map(s => if (frames > 0) s.toDouble / frames else 0.0)
            Row.fromSeq(r.toSeq ++ Seq("audio/wav", ch, rate, frames.toLong,
              sums.toSeq, means.toSeq, abs.toSeq, audioHash64(samples)))
          case None =>
            Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null, null, null, null))
        }
      }
    }(enc)
  }

  /** 64-bit audio difference hash over decoded PCM samples — the audio
    * analog of [[dhash64]]: the (channel-interleaved) sample stream is
    * cut into 65 near-equal windows by per-sample integer arithmetic
    * (sample i belongs to window ⌊65·i/n⌋), each window folds to its
    * summed |amplitude| (the envelope), and bit k is set iff envelope(k)
    * > envelope(k+1). Integer-only — any SQL engine replays it — and
    * invariant to container/rate metadata: the same samples in a
    * different WAV header hash identically, so near-dup audio pairs the
    * way re-encoded images do. A single perturbed sample touches one
    * window ⇒ at most one comparison bit per adjacent pair. */
  def audioHash64(samples: Array[Short]): Long = {
    val n = samples.length
    if (n < 65) return 0L // fewer samples than windows: no stable envelope
    val env = new Array[Long](65)
    var i = 0
    while (i < n) {
      env((65L * i / n).toInt) += math.abs(samples(i).toLong)
      i += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (env(k) > env(k + 1)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** Near-dup PLANTING tool for audio-dedup gates: add 1 (mod 256) to the
    * FIRST byte of the `data` chunk of a PCM WAV (the low byte of sample
    * 0 — located by the real RIFF walk, not a fixed offset). Non-WAV or
    * chunk-less payloads pass through unchanged. */
  def perturbWavSample(df: DataFrame, binCol: String, out: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, BinaryType, nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    def dataOffset(bytes: Array[Byte]): Option[Int] = {
      if (bytes.length < 44 ||
        new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
        new String(bytes, 8, 4, "US-ASCII") != "WAVE") return None
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 12L
      while (pos + 8 <= bytes.length) {
        val p = pos.toInt
        val id = new String(bytes, p, 4, "US-ASCII")
        val size = bb.getInt(p + 4).toLong & 0xffffffffL
        if (pos + 8 + size > bytes.length) return None
        if (id == "data" && size > 0) return Some(p + 8)
        pos += 8 + size + (size & 1)
      }
      None
    }
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val perturbed = Option(bytes).map { b =>
          dataOffset(b) match {
            case Some(off) =>
              val c = b.clone()
              c(off) = (((c(off) & 0xff) + 1) % 256).toByte
              c
            case None => b
          }
        }.orNull
        Row.fromSeq(r.toSeq :+ perturbed)
      }
    }(enc)
  }

  // ===== MP4 / video (real, pure JVM: ISO-BMFF box walk) =====

  /** Metadata schema for decoded video payloads. */
  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("media_format", StringType, nullable = true),
    StructField("timescale", IntegerType, nullable = true),
    StructField("duration_units", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("n_bytes", LongType, nullable = true)))

  /** REAL encoder: minimal ISO-BMFF (MP4) box stream — `ftyp` (isom),
    * `moov` containing a version-0 `mvhd` with real timescale/duration,
    * and an `mdat` carrying `payloadLen` seed bytes. All box sizes are
    * true big-endian values. File size = 144 + payloadLen
    * (ftyp 20 + moov 8+108 + mdat 8+len). */
  def encodeMp4Header(timescale: Int, durationUnits: Long, payloadLen: Int,
                      seed: Array[Byte]): Array[Byte] = {
    require(timescale > 0 && durationUnits >= 0 && payloadLen >= 0,
      "encodeMp4Header: need positive timescale, non-negative duration/len")
    require(durationUnits <= 0xffffffffL, "encodeMp4Header: v0 mvhd duration is 32-bit")
    val buf = java.nio.ByteBuffer.allocate(144 + payloadLen) // BE, as ISO-BMFF is
    buf.putInt(20).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0x200)
      .put("isom".getBytes("US-ASCII"))
    buf.putInt(116).put("moov".getBytes("US-ASCII"))
    buf.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation/modification time
      .putInt(timescale).putInt(durationUnits.toInt)
      .putInt(0x00010000).putShort(0x0100.toShort) // rate 1.0, volume 1.0
      .putShort(0).putLong(0L) // reserved(2) + reserved2(8)
    // unity matrix
    buf.putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
    var p = 0
    while (p < 6) { buf.putInt(0); p += 1 } // pre_defined(24)
    buf.putInt(2) // next_track_ID
    buf.putInt(8 + payloadLen).put("mdat".getBytes("US-ASCII"))
    var i = 0
    while (i < payloadLen) {
      buf.put(if (seed.isEmpty) 0.toByte else seed(i % seed.length))
      i += 1
    }
    buf.array()
  }

  /** REAL decoder: ISO-BMFF box walk — requires a leading `ftyp`, steps
    * top-level boxes by their big-endian sizes (64-bit largesize
    * handled), descends into `moov` to find `mvhd`, and reads
    * timescale/duration for both version 0 (32-bit) and version 1
    * (64-bit) layouts. Truncated/over-running box sizes reject. */
  def decodeMp4(bytes: Array[Byte]): Option[(Int, Long)] = {
    if (bytes.length < 16 || new String(bytes, 4, 4, "US-ASCII") != "ftyp") return None
    val bb = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
    def boxes(from: Long, until: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] { // (type, contentStart, contentEnd)
        private var pos = from
        def hasNext: Boolean = pos + 8 <= until
        def next(): (String, Long, Long) = {
          val size32 = bb.getInt(pos.toInt).toLong & 0xffffffffL
          val tp = new String(bytes, pos.toInt + 4, 4, "US-ASCII")
          val (size, hdr) =
            if (size32 == 1 && pos + 16 <= until) (bb.getLong(pos.toInt + 8), 16L)
            else (size32, 8L)
          val start = pos + hdr
          val end = pos + size
          pos = if (size < hdr || end > until) until else end // malformed: stop
          (tp, start, math.min(end, until))
        }
      }
    boxes(0, bytes.length.toLong)
      .collectFirst { case ("moov", s, e) => (s, e) }
      .flatMap { case (s, e) =>
        boxes(s, e).collectFirst { case ("mvhd", ms, me) => (ms, me) }
      }
      .flatMap { case (ms, me) =>
        if (me - ms < 20) None
        else {
          val version = bytes(ms.toInt) & 0xff
          if (version == 0) {
            val timescale = bb.getInt(ms.toInt + 12)
            val duration = bb.getInt(ms.toInt + 16).toLong & 0xffffffffL
            if (timescale > 0) Some((timescale, duration)) else None
          } else if (version == 1 && me - ms >= 32) {
            val timescale = bb.getInt(ms.toInt + 20)
            val duration = bb.getLong(ms.toInt + 24)
            if (timescale > 0 && duration >= 0) Some((timescale, duration)) else None
          } else None
        }
      }
  }

  /** Encode (timescale, durationUnits, payloadLen, seed) columns into
    * REAL MP4 payloads; NULL in any parameter column yields NULL. */
  def encodeMp4Col(df: DataFrame, timescaleCol: String, durationCol: String,
                   lenCol: String, seedCol: String, out: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, BinaryType, nullable = true))
    val ti = df.schema.fieldIndex(timescaleCol)
    val di = df.schema.fieldIndex(durationCol)
    val li = df.schema.fieldIndex(lenCol)
    val si = df.schema.fieldIndex(seedCol)
    val rowEnc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(ti) || r.isNullAt(di) || r.isNullAt(li))
          Row.fromSeq(r.toSeq :+ null)
        else {
          val seed = if (r.isNullAt(si)) Array.empty[Byte] else r.getAs[Array[Byte]](si)
          Row.fromSeq(r.toSeq :+
            encodeMp4Header(r.getInt(ti), r.getLong(di), r.getInt(li), seed))
        }
      }
    }(rowEnc)
  }

  /** Decode a binary column into VIDEO metadata (ISO-BMFF face of
    * [[decodeMeta]]); duration_ms = floor(units * 1000 / timescale). */
  def decodeVideoMeta(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ VideoMetaSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        Option(bytes).flatMap(decodeMp4) match {
          case Some((ts, dur)) => Row.fromSeq(r.toSeq ++
            Seq("video/mp4", ts, dur, dur * 1000L / ts, bytes.length.toLong))
          case None => Row.fromSeq(r.toSeq ++ Seq(null, null, null, null,
            Option(bytes).map(_.length.toLong).orNull))
        }
      }
    }(enc)
  }

  // ===== GIF (real, pure JVM: LZW codec) =====

  /** REAL encoder: GIF89a — logical screen descriptor, 256-entry
    * grayscale global color table (palette[i] = (i,i,i), so the indexed
    * pixel IS its gray value), one image block whose pixel indices cycle
    * `pixelSeed`, LZW-compressed with the standard literal-stream form:
    * min-code-size 8, an initial CLEAR, a CLEAR after every 254 literals
    * (so the dictionary never reaches the 512-entry 10-bit boundary and
    * every code is exactly 9 bits — valid LZW any decoder accepts, with a
    * byte size that stays a closed form of w·h), EOI, sub-block framing,
    * trailer. File size = 794 + db + ceil(db/255), where db =
    * ceil(9·C/8), C = w·h + floor((w·h−1)/254) + 2. */
  def encodeGif(width: Int, height: Int, pixelSeed: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff,
      "encodeGif: dimensions must be in [1, 65535]")
    val n = width * height
    val out = new java.io.ByteArrayOutputStream(820 + n * 9 / 8)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(width); le16(height)
    out.write(0xf7) // GCT present, 8 bits/channel, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    out.write(0x2c) // image descriptor
    le16(0); le16(0); le16(width); le16(height)
    out.write(0) // no LCT, not interlaced
    out.write(8) // LZW min code size
    // 9-bit code stream, LSB-first bit packing (the GIF convention)
    val data = new java.io.ByteArrayOutputStream(n * 9 / 8 + 16)
    var acc = 0L
    var bits = 0
    def emit(code: Int): Unit = {
      acc |= (code.toLong & 0x1ff) << bits
      bits += 9
      while (bits >= 8) { data.write((acc & 0xff).toInt); acc >>= 8; bits -= 8 }
    }
    emit(256) // initial CLEAR
    i = 0
    while (i < n) {
      emit(if (pixelSeed.isEmpty) 0 else pixelSeed(i % pixelSeed.length) & 0xff)
      if (i % 254 == 253 && i < n - 1) emit(256) // keep every code 9-bit
      i += 1
    }
    emit(257) // EOI
    if (bits > 0) data.write((acc & 0xff).toInt)
    val bytes = data.toByteArray
    var off = 0
    while (off < bytes.length) { // <=255-byte sub-blocks
      val len = math.min(255, bytes.length - off)
      out.write(len); out.write(bytes, off, len)
      off += len
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** REAL decoder: GIF header + logical-screen parse ('GIF87a'/'GIF89a'
    * magic, little-endian u16 dimensions). */
  def decodeGif(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes.length < 13) return None
    val magic = new String(bytes, 0, 6, "US-ASCII")
    if (magic != "GIF87a" && magic != "GIF89a") return None
    val w = (bytes(6) & 0xff) | ((bytes(7) & 0xff) << 8)
    val h = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    if (w > 0 && h > 0) Some(("image/gif", w, h)) else None
  }

  /** REAL pixel decoder: GIF — global/local color tables, extension-block
    * skipping, and a FULL LZW decompressor (variable code width 3..12
    * bits, CLEAR/EOI, dictionary rebuild, the KwKwK case) plus 4-pass
    * de-interlace; the first image frame's indices map through the active
    * palette to top-down RGB. This is the whole format for lossless GIFs
    * — nothing stubbed. */
  def decodeGifPixels(bytes: Array[Byte]): Option[(String, Int, Int, Array[Byte])] = {
    if (decodeGif(bytes).isEmpty) return None
    try {
      var pos = 10
      val packed = bytes(pos) & 0xff
      pos += 3 // packed, background, aspect
      var gct: Array[Byte] = null
      if ((packed & 0x80) != 0) {
        val sz = 3 * (1 << ((packed & 7) + 1))
        gct = java.util.Arrays.copyOfRange(bytes, pos, pos + sz)
        pos += sz
      }
      while (pos < bytes.length) {
        (bytes(pos) & 0xff) match {
          case 0x3b => return None // trailer before any image
          case 0x21 => // extension: label + sub-blocks
            pos += 2
            while ((bytes(pos) & 0xff) != 0) pos += 1 + (bytes(pos) & 0xff)
            pos += 1
          case 0x2c =>
            val iw = (bytes(pos + 5) & 0xff) | ((bytes(pos + 6) & 0xff) << 8)
            val ih = (bytes(pos + 7) & 0xff) | ((bytes(pos + 8) & 0xff) << 8)
            val ip = bytes(pos + 9) & 0xff
            pos += 10
            var palette = gct
            if ((ip & 0x80) != 0) {
              val sz = 3 * (1 << ((ip & 7) + 1))
              palette = java.util.Arrays.copyOfRange(bytes, pos, pos + sz)
              pos += sz
            }
            if (palette == null || iw <= 0 || ih <= 0) return None
            val interlaced = (ip & 0x40) != 0
            val minCode = bytes(pos) & 0xff
            pos += 1
            if (minCode < 2 || minCode > 11) return None
            // concatenate the LZW sub-blocks
            val lzw = new java.io.ByteArrayOutputStream()
            while ((bytes(pos) & 0xff) != 0) {
              val len = bytes(pos) & 0xff
              lzw.write(bytes, pos + 1, len)
              pos += 1 + len
            }
            val indices = lzwDecode(lzw.toByteArray, minCode, iw * ih)
              .getOrElse(return None)
            // de-interlace (4 passes: rows 0/8, 4/8, 2/4, 1/2)
            val rows =
              if (!interlaced) indices
              else {
                val outRows = new Array[Byte](iw * ih)
                val passes = Seq((0, 8), (4, 8), (2, 4), (1, 2))
                var src = 0
                for ((start, step) <- passes; y <- start until ih by step) {
                  System.arraycopy(indices, src * iw, outRows, y * iw, iw)
                  src += 1
                }
                outRows
              }
            val rgb = new Array[Byte](iw * ih * 3)
            var k = 0
            while (k < iw * ih) {
              val idx = (rows(k) & 0xff) * 3
              if (idx + 2 >= palette.length) return None
              rgb(3 * k) = palette(idx)
              rgb(3 * k + 1) = palette(idx + 1)
              rgb(3 * k + 2) = palette(idx + 2)
              k += 1
            }
            return Some(("image/gif", iw, ih, rgb))
          case _ => return None
        }
      }
      None
      // truncated payloads surface as out-of-bounds reads anywhere in the
      // walk (sub-block lengths are attacker-controlled); reject, never throw
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** GIF-flavor LZW decompression: LSB-first bit stream, initial width
    * minCode+1, dictionary of (prefix, suffix) chains, width grows at
    * 2^width entries up to 12 bits, CLEAR resets, EOI or `expect` output
    * pixels ends. Returns None on a corrupt stream. */
  private def lzwDecode(data: Array[Byte], minCode: Int,
                        expect: Int): Option[Array[Byte]] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new Array[Byte](expect)
    var outLen = 0
    var dictSize = eoi + 1
    var width = minCode + 1
    var prev = -1
    var acc = 0L
    var bits = 0
    var pos = 0
    val stack = new Array[Byte](4096)
    def emitChain(code: Int): Option[Byte] = {
      var c = code
      var sp = 0
      while (c >= clear) { // walk the chain (codes < clear are literals)
        if (sp >= stack.length || c >= dictSize) return None
        stack(sp) = suffix(c); sp += 1
        c = prefix(c)
      }
      val first = c.toByte
      if (outLen + sp + 1 > out.length) return None
      out(outLen) = first; outLen += 1
      while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
      Some(first)
    }
    while (outLen < expect) {
      while (bits < width) {
        if (pos >= data.length) return None
        acc |= (data(pos) & 0xffL) << bits
        bits += 8; pos += 1
      }
      val code = (acc & ((1L << width) - 1)).toInt
      acc >>= width; bits -= width
      if (code == clear) {
        dictSize = eoi + 1; width = minCode + 1; prev = -1
      } else if (code == eoi) {
        return if (outLen == expect) Some(out) else None
      } else if (prev < 0) {
        if (code >= clear) return None // first code after clear must be literal
        out(outLen) = code.toByte; outLen += 1
        prev = code
      } else {
        val first =
          if (code < dictSize) emitChain(code).getOrElse(return None)
          else if (code == dictSize) { // KwKwK: prev + first(prev)
            var c = prev
            while (c >= clear) c = prefix(c)
            val f = c.toByte
            // emit prev chain then f
            val before = outLen
            emitChain(prev).getOrElse(return None)
            if (outLen >= out.length) return None
            out(outLen) = f; outLen += 1
            if (before == outLen) return None
            f
          } else return None
        if (dictSize < 4096) {
          prefix(dictSize) = prev; suffix(dictSize) = first
          dictSize += 1
          if (dictSize == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    Some(out)
  }

  /** Encode (width, height, seed-bytes) columns into REAL GIF payloads. */
  def encodeGifCol(df: DataFrame, widthCol: String, heightCol: String,
                   seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out)(encodeGif)

  // ===== Pixel decode (real, pure JVM) + perceptual hash =====

  /** REAL pixel decoder: 24-bit BMP — walks to the pixel array via the
    * header's data offset, un-pads rows, flips bottom-up storage, and
    * swaps BGR to RGB. Returns top-down row-major RGB triples. */
  def decodeBmpPixels(bytes: Array[Byte]): Option[(String, Int, Int, Array[Byte])] = {
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOff = bb.getInt(10)
    val w = bb.getInt(18)
    val hRaw = bb.getInt(22)
    val h = math.abs(hRaw)
    val bpp = bb.getShort(28).toInt
    if (w <= 0 || h == 0 || bpp != 24 || dataOff < 54) return None
    val stride = w * 3 + (4 - (w * 3) % 4) % 4
    if (dataOff.toLong + stride.toLong * h > bytes.length) return None
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      // positive height = bottom-up rows (the BMP default)
      val srcRow = if (hRaw > 0) h - 1 - y else y
      val base = dataOff + srcRow * stride
      var x = 0
      while (x < w) {
        out(3 * (y * w + x)) = bytes(base + 3 * x + 2)     // R (stored BGR)
        out(3 * (y * w + x) + 1) = bytes(base + 3 * x + 1) // G
        out(3 * (y * w + x) + 2) = bytes(base + 3 * x)     // B
        x += 1
      }
      y += 1
    }
    Some(("image/bmp", w, h, out))
  }

  /** Offset of the first pixel byte in a P6 payload (after the single
    * whitespace that terminates maxval), with the parsed (w, h, maxval);
    * shared by the pixel decoder and the near-dup planting helper. */
  private def ppmHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes.length < 2 || bytes(0) != 'P'.toByte || bytes(1) != '6'.toByte) return None
    var i = 2
    def skipSeparators(): Unit = {
      var more = true
      while (more && i < bytes.length) {
        val c = bytes(i).toChar
        if (c.isWhitespace) i += 1
        else if (c == '#') { while (i < bytes.length && bytes(i) != '\n'.toByte) i += 1 }
        else more = false
      }
    }
    def readInt(): Option[Int] = {
      skipSeparators()
      var v = 0L
      var any = false
      while (i < bytes.length && bytes(i) >= '0'.toByte && bytes(i) <= '9'.toByte) {
        v = v * 10 + (bytes(i) - '0'.toByte); any = true; i += 1
        if (v > Int.MaxValue) return None
      }
      if (any) Some(v.toInt) else None
    }
    for { w <- readInt(); h <- readInt(); mx <- readInt()
          if w > 0 && h > 0 && i < bytes.length && bytes(i).toChar.isWhitespace }
      yield (w, h, mx, i + 1) // exactly ONE whitespace after maxval, per spec
  }

  /** REAL pixel decoder: binary PPM (P6, maxval 255) — pixels are stored
    * as top-down RGB triples already; slice them out. */
  def decodePpmPixels(bytes: Array[Byte]): Option[(String, Int, Int, Array[Byte])] =
    ppmHeader(bytes).collect {
      case (w, h, 255, off)
        if w.toLong * h * 3 + off <= bytes.length && w.toLong * h * 3 <= Int.MaxValue =>
        ("image/ppm", w, h,
          java.util.Arrays.copyOfRange(bytes, off, off + w * h * 3))
    }

  /** REAL pixel decoder: PNG (8-bit RGB, color type 2) — inflates the
    * IDAT stream and applies the full scanline filter reconstruction of
    * the PNG spec (None/Sub/Up/Average/Paeth), so real-world RGB PNGs
    * decode, not just the stored-block ones our encoder writes. Geometry
    * and checksums are re-verified via [[decodePng]] first. */
  def decodePngPixels(bytes: Array[Byte]): Option[(String, Int, Int, Array[Byte])] = {
    decodePng(bytes) match {
      case Some((fmt, w, h)) if bytes(24) == 8 && bytes(25) == 2 =>
        // re-inflate to a buffer (decodePng only counted the length)
        val idat = new java.io.ByteArrayOutputStream()
        val bb = java.nio.ByteBuffer.wrap(bytes)
        var pos = 33
        while (pos + 8 <= bytes.length) {
          val len = bb.getInt(pos)
          val name = new String(bytes, pos + 4, 4, "US-ASCII")
          if (len < 0 || pos + 12 + len > bytes.length) return None
          if (name == "IDAT") idat.write(bytes, pos + 8, len)
          pos += 12 + len
        }
        val rowBytes = 1 + 3 * w
        val raw = new Array[Byte](h * rowBytes)
        val inf = new java.util.zip.Inflater()
        inf.setInput(idat.toByteArray)
        var total = 0
        try {
          while (!inf.finished() && !inf.needsInput() && total < raw.length)
            total += inf.inflate(raw, total, raw.length - total)
        } catch { case _: java.util.zip.DataFormatException => return None }
        finally inf.end()
        if (total != raw.length) return None
        // scanline filter reconstruction (PNG spec §6): bpp = 3
        val out = new Array[Byte](w * h * 3)
        def paeth(a: Int, b: Int, c: Int): Int = {
          val p = a + b - c
          val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
          if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        var y = 0
        while (y < h) {
          val f = raw(y * rowBytes) & 0xff
          if (f > 4) return None
          var i = 0
          while (i < 3 * w) {
            val x = raw(y * rowBytes + 1 + i) & 0xff
            val left = if (i >= 3) out(y * 3 * w + i - 3) & 0xff else 0
            val up = if (y > 0) out((y - 1) * 3 * w + i) & 0xff else 0
            val upLeft = if (y > 0 && i >= 3) out((y - 1) * 3 * w + i - 3) & 0xff else 0
            val v = f match {
              case 0 => x
              case 1 => x + left
              case 2 => x + up
              case 3 => x + (left + up) / 2
              case 4 => x + paeth(left, up, upLeft)
            }
            out(y * 3 * w + i) = (v & 0xff).toByte
            i += 1
          }
          y += 1
        }
        Some((fmt, w, h, out))
      case _ => None
    }
  }

  /** Magic-byte dispatch over the pixel-level decoders (BMP, PPM, PNG,
    * GIF — JPEG stays header-only: entropy decode needs a codec
    * library). */
  def decodePixelsRgb(bytes: Array[Byte]): Option[(String, Int, Int, Array[Byte])] =
    decodeBmpPixels(bytes).orElse(decodePpmPixels(bytes)).orElse(decodePngPixels(bytes))
      .orElse(decodeGifPixels(bytes)).orElse(decodeTiffPixels(bytes))
      .orElse(Jpeg.decodePixels(bytes))

  /** REAL pixel decoder for our baseline uncompressed RGB TIFF: the IFD
    * walk locates StripOffsets(273)/StripByteCounts(279) (either byte
    * order, Compression must be 1 = none, SamplesPerPixel 3), and the
    * strip IS the RGB byte array. Fifth lossless format feeding the
    * dHash/image-dedup machinery. */
  def decodeTiffPixels(bytes: Array[Byte]): Option[(String, Int, Int, Array[Byte])] = {
    decodeTiff(bytes).flatMap { case (fmt, w, h) =>
      val le = bytes(0) == 'I'.toByte
      val bb = java.nio.ByteBuffer.wrap(bytes).order(
        if (le) java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      scala.util.Try {
        val ifdOff = bb.getInt(4)
        val n = bb.getShort(ifdOff) & 0xffff
        var stripOff = -1
        var stripLen = -1
        var comp = 1
        var spp = 3
        var e = 0
        while (e < n) {
          val off = ifdOff + 2 + e * 12
          val tag = bb.getShort(off) & 0xffff
          val typ = bb.getShort(off + 2) & 0xffff
          val value =
            if (typ == 3) bb.getShort(off + 8) & 0xffff
            else bb.getInt(off + 8)
          if (tag == 259) comp = value
          if (tag == 273) stripOff = value
          if (tag == 277) spp = value
          if (tag == 279) stripLen = value
          e += 1
        }
        if (comp == 1 && spp == 3 && stripOff >= 0 &&
            stripLen == 3 * w * h && stripOff + stripLen <= bytes.length) {
          Some((fmt, w, h,
            java.util.Arrays.copyOfRange(bytes, stripOff, stripOff + stripLen)))
        } else None
      }.toOption.flatten
    }
  }

  /** 64-bit difference hash (dHash) over decoded RGB pixels — the standard
    * perceptual fingerprint: nearest-neighbor-sample a 9x8 grayscale grid
    * (gray = r+g+b, integer — no luma weights, so any SQL engine replays
    * it exactly), set bit y*8+x iff grid(y, x) > grid(y, x+1). Images that
    * differ by small pixel perturbations land within a few bits, so the
    * existing Hamming-banded join machinery turns this into IMAGE-content
    * near-dup — the pass a multimodal training pipeline runs first, and
    * one that byte-level dedup cannot do (the same picture re-encoded in
    * another format shares no payload bytes but has the SAME dHash). */
  def dhash64(width: Int, height: Int, rgb: Array[Byte]): Long = {
    require(width > 0 && height > 0 && rgb.length >= 3 * width * height,
      "dhash64: need a full RGB buffer")
    def gray(gx: Int, gy: Int): Int = {
      val p = 3 * (gy * width + gx)
      (rgb(p) & 0xff) + (rgb(p + 1) & 0xff) + (rgb(p + 2) & 0xff)
    }
    var hash = 0L
    var y = 0
    while (y < 8) {
      val sy = y * height / 8
      var x = 0
      while (x < 8) {
        if (gray(x * width / 9, sy) > gray((x + 1) * width / 9, sy))
          hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Pixel-level image features, decoded per partition like [[decodeMeta]]:
    * per-channel byte sums (exact — integer) and means, plus the [[dhash64]]
    * perceptual fingerprint. Payloads without a pixel-decodable format
    * (JPEG/WAV/MP4/garbage) get NULL features but keep their header-level
    * media_format when one parses. */
  val ImageFeatureSchema: StructType = StructType(Seq(
    StructField("media_format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_bytes", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true),
    StructField("dhash", LongType, nullable = true)))

  def decodeImageFeatures(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ ImageFeatureSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val decoded = Option(bytes).flatMap(decodePixelsRgb)
        decoded match {
          case Some((fmt, w, h, rgb)) =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var i = 0
            while (i < 3 * w * h) {
              sr += rgb(i) & 0xff; sg += rgb(i + 1) & 0xff; sb += rgb(i + 2) & 0xff
              i += 3
            }
            val n = w.toLong * h
            Row.fromSeq(r.toSeq ++ Seq(fmt, w, h, bytes.length.toLong,
              sr, sg, sb, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
              dhash64(w, h, rgb)))
          case None =>
            val fmt = Option(bytes).map(decodeAny).map(_._1).filter(_ != "fake/raw").orNull
            Row.fromSeq(r.toSeq ++ Seq(fmt, null, null,
              Option(bytes).map(_.length.toLong).orNull,
              null, null, null, null, null, null, null))
        }
      }
    }(enc)
  }

  /** Near-dup PLANTING tool for image-dedup gates: add 1 (mod 256) to ONE
    * pixel byte of a P6 payload (header located by its parsed length).
    * Payloads that are not P6 or too short pass through unchanged. */
  def perturbPpmPixel(df: DataFrame, binCol: String, pixelIndex: Int,
                      out: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, BinaryType, nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val perturbed = Option(bytes).map { b =>
          ppmHeader(b) match {
            case Some((_, _, _, off)) if off + pixelIndex < b.length =>
              val c = b.clone()
              c(off + pixelIndex) = (((c(off + pixelIndex) & 0xff) + 1) % 256).toByte
              c
            case _ => b
          }
        }.orNull
        Row.fromSeq(r.toSeq :+ perturbed)
      }
    }(enc)
  }

  /** STUB image decode — the fallback for formats with no codec here at
    * all (since round 8 every shipped image format decodes for real:
    * BMP/PPM/PNG/GIF/TIFF pixels losslessly and baseline JPEG through
    * the full Huffman+IDCT pipeline in [[Jpeg]]; of the remaining
    * surface only progressive JPEG and the audio/video containers stop
    * at the metadata walk). Derives deterministic dimensions from the
    * payload bytes so tests are stable; a real codec library call goes
    * here. */
  def fakeDecode(bytes: Array[Byte]): (String, Int, Int) = {
    // STUB: pretend the first bytes are a header; a real decoder goes here.
    val w = if (bytes.isEmpty) 0 else ((bytes(0) & 0xff) % 64) + 1
    val h = if (bytes.length < 2) 0 else ((bytes(1) & 0xff) % 64) + 1
    ("fake/raw", w, h)
  }

  /** Magic-byte dispatch: real codecs first (BMP, PPM, PNG, JPEG, GIF,
    * TIFF), stub fallback. */
  def decodeAny(bytes: Array[Byte]): (String, Int, Int) =
    decodeBmp(bytes).orElse(decodePpm(bytes)).orElse(decodePng(bytes))
      .orElse(decodeJpeg(bytes)).orElse(decodeGif(bytes))
      .orElse(decodeTiff(bytes))
      .getOrElse(fakeDecode(bytes))

  /** REAL encoder: minimal little-endian baseline TIFF — "II*\0" header,
    * uncompressed RGB strip at offset 8, one IFD after the pixel data
    * with the nine baseline tags a reader checks (ImageWidth 256,
    * ImageLength 257, BitsPerSample 258 → out-of-line [8,8,8],
    * Compression 259 = 1, Photometric 262 = 2 (RGB), StripOffsets 273,
    * SamplesPerPixel 277 = 3, RowsPerStrip 278, StripByteCounts 279),
    * ascending tag order as the spec requires. Pixel bytes cycle through
    * `pixelSeed`. File size is closed-form: 8 header + 3wh pixels +
    * 2 count + 9·12 entries + 4 next-IFD + 6 bits array = 128 + 3wh. */
  def encodeTiffRgb(width: Int, height: Int, pixelSeed: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "encodeTiffRgb: need positive dimensions")
    val pixLen = 3 * width * height
    val ifdOff = 8 + pixLen
    val bitsOff = ifdOff + 2 + 9 * 12 + 4
    val buf = java.nio.ByteBuffer.allocate(bitsOff + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    var i = 0
    while (i < pixLen) {
      buf.put(if (pixelSeed.isEmpty) 0.toByte else pixelSeed(i % pixelSeed.length))
      i += 1
    }
    buf.putShort(9)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      buf.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) buf.putShort(value.toShort).putShort(0)
      else buf.putInt(value)
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 3, bitsOff)
    entry(259, 3, 1, 1)
    entry(262, 3, 1, 2)
    entry(273, 4, 1, 8)
    entry(277, 3, 1, 3)
    entry(278, 4, 1, height)
    entry(279, 4, 1, pixLen)
    buf.putInt(0) // next-IFD terminator
    buf.putShort(8).putShort(8).putShort(8)
    buf.array()
  }

  /** REAL decoder: TIFF IFD walk in EITHER byte order ("II*\0" little /
    * "MM\0*" big): first-IFD offset from the header, entry scan for
    * ImageWidth(256)/ImageLength(257) honoring the value TYPE — SHORT(3)
    * reads the low two bytes of the value field in the file's byte
    * order, LONG(4) all four. Truncated or garbage structures return
    * None (never throw — the fuzz contract all codecs share). */
  def decodeTiff(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes.length < 8) return None
    val le = bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte &&
      bytes(2) == 42.toByte && bytes(3) == 0.toByte
    val be = bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte &&
      bytes(2) == 0.toByte && bytes(3) == 42.toByte
    if (!le && !be) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (le) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    scala.util.Try {
      val ifdOff = bb.getInt(4)
      val n = bb.getShort(ifdOff) & 0xffff
      var w = -1
      var h = -1
      var e = 0
      while (e < n && (w < 0 || h < 0)) {
        val off = ifdOff + 2 + e * 12
        val tag = bb.getShort(off) & 0xffff
        val typ = bb.getShort(off + 2) & 0xffff
        val value =
          if (typ == 3) bb.getShort(off + 8) & 0xffff
          else bb.getInt(off + 8)
        if (tag == 256) w = value
        if (tag == 257) h = value
        e += 1
      }
      if (w > 0 && h > 0) Some(("image/tiff", w, h)) else None
    }.toOption.flatten
  }

  /** Encode (width, height, seed-bytes) columns into REAL TIFF payloads. */
  def encodeTiff(df: DataFrame, widthCol: String, heightCol: String,
                 seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out)(encodeTiffRgb)

  /** REAL encoder: binary PPM (P6) — ASCII header "P6\n{w} {h}\n255\n"
    * followed by w·h RGB byte triples cycling through `pixelSeed`. */
  def encodePpm6(width: Int, height: Int, pixelSeed: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "encodePpm6: need positive dimensions")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val n = width * height * 3
    val out = java.util.Arrays.copyOf(header, header.length + n)
    var i = 0
    while (i < n) {
      out(header.length + i) = if (pixelSeed.isEmpty) 0 else pixelSeed(i % pixelSeed.length)
      i += 1
    }
    out
  }

  /** Shared encoder plumbing (mapPartitions, same shape as decodeMeta):
    * NULL width/height rows produce a NULL payload. */
  private def encodeWith(df: DataFrame, widthCol: String, heightCol: String,
                         seedCol: String, out: String)
                        (enc: (Int, Int, Array[Byte]) => Array[Byte]): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, BinaryType, nullable = true))
    val wi = df.schema.fieldIndex(widthCol)
    val hi = df.schema.fieldIndex(heightCol)
    val si = df.schema.fieldIndex(seedCol)
    val rowEnc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(wi) || r.isNullAt(hi)) Row.fromSeq(r.toSeq :+ null)
        else {
          val seed = if (r.isNullAt(si)) Array.empty[Byte] else r.getAs[Array[Byte]](si)
          Row.fromSeq(r.toSeq :+ enc(r.getInt(wi), r.getInt(hi), seed))
        }
      }
    }(rowEnc)
  }

  /** Encode (width, height, seed-bytes) columns into REAL BMP payloads. */
  def encodeBmp(df: DataFrame, widthCol: String, heightCol: String,
                seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out)(encodeBmp24)

  /** Encode (width, height, seed-bytes) columns into REAL PPM payloads. */
  def encodePpm(df: DataFrame, widthCol: String, heightCol: String,
                seedCol: String, out: String): DataFrame =
    encodeWith(df, widthCol, heightCol, seedCol, out)(encodePpm6)

  /** Decode a binary column into media metadata via mapPartitions — the
    * real plumbing a codec needs: per-partition setup, row-iterator batch
    * shape, explicit output schema. Dispatches to the REAL header codecs
    * (BMP/PPM) by magic bytes; unrecognized payloads go through the
    * marked stub. */
  def decodeMeta(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ MediaMetaSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      // per-partition codec init would happen HERE (once, not per row)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null) Row.fromSeq(r.toSeq ++ Seq(null, null, null, null))
        else {
          val (fmt, w, h) = decodeAny(bytes)
          Row.fromSeq(r.toSeq ++ Seq(fmt, w, h, bytes.length.toLong))
        }
      }
    }(enc)
  }

  /** Feature extraction stub: fixed-size feature vector per payload
    * (deterministic byte projection — a real extractor would run a model
    * here, batched per partition). Reads RAW bytes via hex parse — a
    * string cast would re-decode UTF-8 and corrupt positions/values on
    * any non-ASCII payload — and positions past the payload end read 0. */
  def extractFeatures(df: DataFrame, binCol: String, dim: Int, out: String): DataFrame = {
    df.withColumn(out, transform(sequence(lit(0), lit(dim - 1)), i =>
      // STUB feature: byte at stride position, normalized to [0,1)
      coalesce(
        conv(hex(substring(col(binCol), i + 1, lit(1))), 16, 10).cast("double"),
        lit(0.0)) / 256.0))
  }
}

package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (4L, "completely different words entirely unrelated content here")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per identical text") {
    val out = Dedup.exact(docs, "text", "doc_id")
    assert(rows(out.select("doc_id").orderBy("doc_id")).flatten == Seq(1L, 2L, 4L))
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
    assert(rows(groups.filter(col("n_copies") === 2).select("keeper")).flatten == Seq(1L))
  }

  test("shingles builds word n-grams; short docs degrade to whole text") {
    import graft.functions.ShingleHashExpression.shingle_hash_sorted
    val texts = Seq("a b c d", "a b").toDF("t")
    val toks = TextAnalysis.tokens(col("t"))
    def hashed(shingles: String*): Seq[Long] =
      rows(shingles.toDF("s").select(xxhash64(col("s")))).map(_.head.asInstanceOf[Long]).sorted
    // "a b c d" gives two 3-token windows; "a b" one whole-document shingle
    assert(rows(texts.select(shingle_hash_sorted(toks, 3))).map(_.head) ==
      Seq(hashed("a b c", "b c d"), hashed("a b")))
    assert(rows(texts.select(TextReference.shinglesFromTokens(toks, 3))).map(_.head) ==
      Seq(Seq("a b c", "b c d"), Seq("a b")))
  }

  test("jaccard on shingle sets") {
    val df = Seq(("a b", "a c")).toDF("x", "y")
      .select(Dedup.jaccard(split(col("x"), " "), split(col("y"), " ")).as("j"))
    assert(rows(df).head.head == 1.0 / 3.0)
  }

  test("minhash near-dups find the planted near-duplicate, not the unrelated doc") {
    withPartitionings(docs) { d =>
      val pairs = rows(Dedup.minhashNearDups(d, "doc_id", "text",
        threshold = 0.3, numHashes = 16, bands = 8, shingleLen = 2)
        .select("id1", "id2").orderBy("id1", "id2")).map(r => (r(0), r(1)))
      assert(pairs.contains((1L, 3L))) // exact dup always survives
      assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 3L))) // near-dup
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    }
  }

  test("incremental minhash near-dedup equals full run restricted to delta-touching pairs") {
    val emb = graft.Tables.documents(spark, sf())
    val full = rows(Dedup.minhashNearDups(emb, "doc_id", "text",
      threshold = 0.7, numHashes = 48, bands = 24, shingleLen = 3)
      .select("id1", "id2").orderBy("id1", "id2")).map(r => (r(0), r(1)))
    val incr = rows(Dedup.incrementalMinhashNearDups(
      emb.where(col("doc_id") % 2 === 0), emb.where(col("doc_id") % 2 =!= 0),
      "doc_id", "text", threshold = 0.7, numHashes = 48, bands = 24,
      shingleLen = 3).select("id1", "id2").orderBy("id1", "id2"))
      .map(r => (r(0), r(1)))
    val expected = full.filter(p =>
      p._1.asInstanceOf[Long] % 2 == 1 || p._2.asInstanceOf[Long] % 2 == 1)
    assert(incr == expected, s"incr=$incr expected=$expected")
    assert(incr.nonEmpty, "corpus has planted near-dups; empty result is a harness bug")
    // no history×history pair may appear
    assert(!incr.exists(p =>
      p._1.asInstanceOf[Long] % 2 == 0 && p._2.asInstanceOf[Long] % 2 == 0))
  }

  test("simhash: identical docs have hamming 0, unrelated docs differ") {
    val out = Dedup.simhashCandidates(docs, "doc_id", "text")
    val m = rows(out.select("id1", "id2", "hamming"))
      .map(r => (r(0), r(1)) -> r(2)).toMap
    assert(m((1L, 3L)) == 0L)
    assert(!m.contains((1L, 4L)) || m((1L, 4L)).asInstanceOf[Long] > 0)
  }

  test("portable simhash: exact pairs within the guaranteed radius") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // identical
      (3L, "completely different words entirely unrelated content here now")).toDF("doc_id", "text")
    val got = rows(Dedup.simhashPortablePairs(d, "doc_id", "text")
      .orderBy("id1", "id2").select("id1", "id2", "hamming"))
    // identical docs: hamming 0; the unrelated doc pairs with neither
    assert(got == Seq(Seq(1L, 2L, 0)))
    // radius > 3 is rejected: banding cannot guarantee exact semantics there
    intercept[IllegalArgumentException] {
      Dedup.simhashPortablePairs(d, "doc_id", "text", maxHamming = 5)
    }
  }

  test("cosine and brute-force top-k") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val out = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qv", 3)
    assert(rows(out.orderBy("rank").select("vec_id")).flatten == Seq(1L, 2L, 3L))
  }

  test("lsh signature buckets equal vectors together") {
    val emb = Seq.tabulate(6)(i => (i.toLong, Array.fill(64)(if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val cand = Similarity.lshCandidates(emb, "vec_id", "embedding", nPlanes = 8)
    val pairs = rows(cand.select("id1", "id2")).map(r => (r(0), r(1))).toSet
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((0L, 1L)))
  }

  test("text analysis: tokens, bpe-ish, punct, langid, fingerprint") {
    val df = Seq("The cat and the dog!  Extra   spaces.").toDF("t")
    assert(rows(df.select(TextAnalysis.tokenCount(col("t")))).head.head == 7)
    assert(rows(df.select(TextAnalysis.punctCount(col("t")))).head.head == 2)
    assert(rows(df.select(TextAnalysis.bpeishTokenCount(col("t")))).head.head == 9)
    assert(rows(df.select(TextAnalysis.langId(col("t")))).head.head == "en")
    val de = Seq("der hund und die katze das ist gut").toDF("t")
    assert(rows(de.select(TextAnalysis.langId(col("t")))).head.head == "de")
    // fingerprint is whitespace/case-insensitive
    val fp = Seq(("A  b", "a b")).toDF("x", "y")
      .select(TextAnalysis.fingerprint(col("x")) === TextAnalysis.fingerprint(col("y")))
    assert(rows(fp).head.head == true)
  }

  test("empty and whitespace-only documents yield zero tokens") {
    // split("", ...) returns [""] in Spark — TextAnalysis.tokens guards
    // this so no phantom empty token reaches stats/shingle pipelines
    val df = Seq(("", 0), ("   \t \n ", 1), ("one two", 2)).toDF("t", "i")
    assert(rows(df.orderBy("i").select(TextAnalysis.tokenCount(col("t"))))
      .flatten == Seq(0, 0, 2))
    assert(rows(df.orderBy("i").select(size(TextAnalysis.tokens(col("t")))))
      .flatten == Seq(0, 0, 2))
    // NULL text stays NULL tokens
    val n = Seq(Option.empty[String]).toDF("t")
    assert(rows(n.select(TextAnalysis.tokens(col("t")))).head.head == null)
    // meanTokenLen of a zero-token doc is 0, not NaN
    assert(rows(df.where(col("i") === 0)
      .select(TextAnalysis.meanTokenLen(col("t")))).head.head == 0.0)
  }

  test("multimodal: binary plumbing, frame sampling, stubbed decode") {
    val df = Seq((1L, "hello world this is binary payload content")).toDF("doc_id", "text")
    val b = Multimodal.asBinary(df, "text", "payload")
    val meta = Multimodal.decodeMeta(b, "payload")
    val r = rows(meta.select("media_format", "width", "height", "n_bytes")).head
    assert(r(0) == "fake/raw" && r(3) == 42L)
    assert(r(1) == ('h'.toInt % 64) + 1 && r(2) == ('e'.toInt % 64) + 1)
    val framed = Multimodal.frameSample(b, "payload", n = 3, frameBytes = 10, out = "fr")
    val frames = rows(framed.select(col("fr"))).head.head.asInstanceOf[scala.collection.Seq[Array[Byte]]]
    assert(frames.length == 3 && frames.head.length == 10)
    val feats = Multimodal.extractFeatures(b, "payload", dim = 8, out = "f")
    assert(rows(feats.select(size(col("f")))).head.head == 8)
    // features read RAW bytes (0xFF stays 255 — a string cast would
    // mangle non-UTF8 payloads) and zero-fill past the payload end
    val bin = Seq(Tuple1(Array[Byte](-1, 0, 65))).toDF("payload")
    val f = rows(Multimodal.extractFeatures(bin, "payload", dim = 4, out = "f")
      .select(col("f"))).head.head.asInstanceOf[scala.collection.Seq[Double]]
    assert(f == Seq(255.0 / 256, 0.0, 65.0 / 256, 0.0))
  }

  test("multimodal: REAL BMP codec round trip and magic-byte dispatch") {
    // encode -> decode recovers exact dimensions; file size matches the
    // BMP layout (54-byte header + 4-byte-padded 3-byte-pixel rows)
    val bmp = Multimodal.encodeBmp24(5, 3, Array[Byte](1, 2, 3))
    assert(bmp.length == 54 + (15 + 1) * 3) // rowBytes 15, pad 1
    assert(Multimodal.decodeBmp(bmp).contains(("image/bmp", 5, 3)))
    assert(Multimodal.decodeAny(bmp) == ("image/bmp", 5, 3))
    // negative (top-down) height reads as magnitude
    val td = bmp.clone()
    val bb = java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -3)
    assert(Multimodal.decodeBmp(td).contains(("image/bmp", 5, 3)))
    // corrupting the magic falls back to the stub, not a misparse
    val bad = bmp.clone(); bad(0) = 'X'.toByte
    assert(Multimodal.decodeAny(bad)._1 == "fake/raw")
    // PPM P6 header with a comment line parses for real
    val ppm = "P6\n# a comment\n640 480\n255\n".getBytes ++ Array[Byte](0, 0, 0)
    assert(Multimodal.decodePpm(ppm).contains(("image/ppm", 640, 480)))
    assert(Multimodal.decodePpm("P6\nnope".getBytes).isEmpty)
    // dataframe path: encodeBmp column -> decodeMeta dispatch
    val df = Seq((7L, 5, 3, "seed"), (8L, 2, 2, "x")).toDF("id", "w", "h", "t")
      .withColumn("seed", col("t").cast("binary"))
    val enc = Multimodal.encodeBmp(df, "w", "h", "seed", "payload")
    val meta = Multimodal.decodeMeta(enc, "payload")
      .select("id", "media_format", "width", "height", "n_bytes")
    assert(rows(meta.orderBy("id")) == Seq(
      Seq(7L, "image/bmp", 5, 3, 54L + 48L),
      Seq(8L, "image/bmp", 2, 2, 54L + 16L)))
  }

  test("multimodal: REAL PNG codec — ImageIO cross-validation, CRC + inflate rejects") {
    val seed = Array[Byte](10, 20, 30, 40, 50)
    val png = Multimodal.encodePng(5, 3, seed)
    // size law: 63 + raw + 5*ceil(raw/65535), raw = h*(1+3w)
    val raw = 3 * (1 + 3 * 5)
    assert(png.length == 63 + raw + 5)
    assert(Multimodal.decodePng(png).contains(("image/png", 5, 3)))
    assert(Multimodal.decodeAny(png) == ("image/png", 5, 3))
    // the JDK's OWN PNG decoder accepts the file and reads back the exact
    // pixel bytes the encoder cycled in — proof the emitted signature,
    // IHDR, zlib stream and checksums are spec-conformant, not just
    // self-consistent
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 5 && img.getHeight == 3)
    var i = 0
    for (y <- 0 until 3; x <- 0 until 5) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == (seed(i % 5) & 0xff)); i += 1
      assert(((rgb >> 8) & 0xff) == (seed(i % 5) & 0xff)); i += 1
      assert((rgb & 0xff) == (seed(i % 5) & 0xff)); i += 1
    }
    // corrupt IHDR CRC -> reject (header checks are real)
    val badCrc = png.clone(); badCrc(29) = (badCrc(29) ^ 0x7f).toByte
    assert(Multimodal.decodePng(badCrc).isEmpty)
    // corrupt a pixel byte inside IDAT -> Adler-32 mismatch on inflate
    val badPix = png.clone(); badPix(50) = (badPix(50) ^ 0x7f).toByte
    assert(Multimodal.decodePng(badPix).isEmpty)
    // truncated payload rejects rather than misparsing
    assert(Multimodal.decodePng(png.take(40)).isEmpty)
  }

  test("multimodal: REAL JPEG header codec — marker walk, ImageIO cross-check") {
    val jpg = Multimodal.encodeJpegHeader(33, 21, Array[Byte](1, 2, 0xff.toByte))
    // size law: 124 framing bytes (SOI+APP0+DQT+SOF0+SOS+EOI) + w*h scan
    assert(jpg.length == 124 + 33 * 21)
    // the decoder must SKIP APP0 and DQT by their big-endian length
    // fields to reach the SOF0 geometry — offsets are walked, not fixed
    assert(Multimodal.decodeJpeg(jpg).contains(("image/jpeg", 33, 21)))
    assert(Multimodal.decodeAny(jpg) == ("image/jpeg", 33, 21))
    // the JDK's OWN JPEG reader agrees on the header geometry — the
    // marker stream is spec-conformant, not just self-consistent
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
    assert(it.hasNext, "JDK JPEG reader missing")
    val reader = it.next()
    reader.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(jpg)))
    assert(reader.getWidth(0) == 33 && reader.getHeight(0) == 21)
    reader.dispose()
    // 0xFF seed bytes are mapped away, so scan data needs no byte
    // stuffing and the size law above holds for any seed
    assert(!jpg.slice(122, jpg.length - 2).contains(0xff.toByte))
    // truncation, SOS/EOI-before-SOF, and bad magic all reject (fall
    // through to the stub rather than misparse)
    assert(Multimodal.decodeJpeg(jpg.take(20)).isEmpty)
    assert(Multimodal.decodeJpeg(jpg.take(100)).isEmpty)
    assert(Multimodal.decodeJpeg(
      Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
    assert(Multimodal.decodeJpeg("not a jpeg".getBytes).isEmpty)
    // dataframe path: encodeJpegCol -> decodeMeta dispatch
    val df = Seq((7L, 5, 3, "seed"), (8L, 2, 2, "x")).toDF("id", "w", "h", "t")
      .withColumn("seed", col("t").cast("binary"))
    val meta = Multimodal.decodeMeta(
      Multimodal.encodeJpegCol(df, "w", "h", "seed", "payload"), "payload")
      .select("id", "media_format", "width", "height", "n_bytes")
    assert(rows(meta.orderBy("id")) == Seq(
      Seq(7L, "image/jpeg", 5, 3, 124L + 15L),
      Seq(8L, "image/jpeg", 2, 2, 124L + 4L)))
  }

  test("multimodal: pixel decode — PNG defilter (all 5 types) vs ImageIO; formats agree") {
    // the three pixel decoders must return the SAME top-down RGB array
    // for identically-seeded images, regardless of on-disk layout (PNG
    // filtered scanlines, PPM raw, BMP bottom-up BGR + row padding)
    val seed = Array[Byte](10, 20, 30, 40, 50, 60, 70)
    val w = 5; val h = 3
    val Some((_, _, _, pngPx)) = Multimodal.decodePngPixels(Multimodal.encodePng(w, h, seed))
    val Some((_, _, _, ppmPx)) = Multimodal.decodePpmPixels(Multimodal.encodePpm6(w, h, seed))
    val Some((_, _, _, bmpPx)) = Multimodal.decodeBmpPixels(Multimodal.encodeBmp24(w, h, seed))
    assert(pngPx.toSeq == ppmPx.toSeq, "PNG and PPM pixels must agree")
    assert(pngPx.toSeq == (0 until 3 * w * h).map(i => seed(i % seed.length)),
      "pixels must be the cycled seed, top-down RGB")
    // BMP stores BOTTOM-UP BGR: the cycled seed lands in reversed row
    // order AND reversed channel order per pixel; the decoder undoes both
    val rowLen = 3 * w
    val expectedBmp = (0 until h).flatMap { y =>
      val srcRow = h - 1 - y
      (0 until w).flatMap { x =>
        Seq(2, 1, 0).map(c => seed((srcRow * rowLen + 3 * x + c) % seed.length))
      }
    }
    assert(bmpPx.toSeq == expectedBmp)
    // full scanline-filter reconstruction: craft a PNG whose four rows use
    // filters Sub/Up/Average/Paeth with a REAL Deflater stream, and check
    // our defilter against BOTH a hand computation and the JDK's own
    // decoder reading the very same file
    val raw = Array[Byte](
      1, 10, 20, 30, 5, 5, 5, // Sub
      2, 1, 1, 1, 2, 2, 2, // Up
      3, 4, 4, 4, 6, 6, 6, // Average
      4, 7, 7, 7, 8, 8, 8) // Paeth
    def chunk(name: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(name.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(out.array(), 4, 4 + data.length)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new Array[Byte](1024)
    val zlen = defl.deflate(zbuf)
    defl.end()
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(2).putInt(4)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val filtered = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte) ++
      chunk("IHDR", ihdr.array()) ++ chunk("IDAT", zbuf.take(zlen)) ++
      chunk("IEND", Array.empty[Byte])
    val Some((_, 2, 4, fpx)) = Multimodal.decodePngPixels(filtered)
    val hand = Seq(
      10, 20, 30, 15, 25, 35, // Sub: second pixel adds left
      11, 21, 31, 17, 27, 37, // Up: adds row above
      9, 14, 19, 19, 26, 34, // Average: floor((left+up)/2)
      16, 21, 26, 27, 34, 42) // Paeth: nearest-of-three predictor
    assert(fpx.map(_ & 0xff).toSeq == hand)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(filtered))
    for (y <- 0 until 4; x <- 0 until 2) {
      val rgb = img.getRGB(x, y)
      val p = 3 * (y * 2 + x)
      assert(((rgb >> 16) & 0xff) == (fpx(p) & 0xff) &&
        ((rgb >> 8) & 0xff) == (fpx(p + 1) & 0xff) &&
        (rgb & 0xff) == (fpx(p + 2) & 0xff),
        s"JDK decoder disagrees at ($x,$y)")
    }
    // JPEG stays header-only (entropy decode needs a codec library)
    assert(Multimodal.decodePixelsRgb(
      Multimodal.encodeJpegHeader(5, 3, seed)).isEmpty)
  }

  test("multimodal: dHash — format-invariant, 1-pixel perturbation stays within Hamming 1") {
    val seed = "the quick brown fox jumps over the lazy dog".getBytes
    val w = 20; val h = 17
    val Some((_, _, _, png)) = Multimodal.decodePngPixels(Multimodal.encodePng(w, h, seed))
    val Some((_, _, _, ppm)) = Multimodal.decodePpmPixels(Multimodal.encodePpm6(w, h, seed))
    val hPng = Multimodal.dhash64(w, h, png)
    val hPpm = Multimodal.dhash64(w, h, ppm)
    assert(hPng == hPpm, "same image, different format => same dHash")
    // a flat image has no gradient anywhere => hash 0
    assert(Multimodal.dhash64(4, 4, Array.fill[Byte](48)(7)) == 0L)
    // nudging ONE pixel byte moves the hash by at most 1 bit when every
    // source pixel is sampled by at most one 9x8 grid point (w,h >= 16)
    for (p <- Seq(0, 3, 3 * (5 * w + 7))) {
      val mut = ppm.clone()
      mut(p) = (((mut(p) & 0xff) + 1) % 256).toByte
      val ham = java.lang.Long.bitCount(hPpm ^ Multimodal.dhash64(w, h, mut))
      assert(ham <= 1, s"perturbation at $p moved $ham bits")
    }
    // perturbPpmPixel plants exactly that: one pixel byte, +1 mod 256
    val df = Seq((1L, w, h)).toDF("id", "w", "h")
      .withColumn("seed", lit(seed))
    val enc = Multimodal.encodePpm(df, "w", "h", "seed", "payload")
    val pert = Multimodal.perturbPpmPixel(enc, "payload", 0, "p2")
    val r = pert.select("payload", "p2").head()
    val orig = r.getAs[Array[Byte]](0); val mod = r.getAs[Array[Byte]](1)
    val diffs = orig.indices.filter(i => orig(i) != mod(i))
    val hdrLen = s"P6\n$w $h\n255\n".length
    assert(diffs == Seq(hdrLen) &&
      ((mod(hdrLen) & 0xff) == ((orig(hdrLen) & 0xff) + 1) % 256))
    // non-PPM payloads pass through unchanged
    val rawDf = Seq(Tuple1("not a ppm".getBytes)).toDF("payload")
    val same = Multimodal.perturbPpmPixel(rawDf, "payload", 0, "p2").head()
    assert(java.util.Arrays.equals(same.getAs[Array[Byte]](0), same.getAs[Array[Byte]](1)))
  }

  test("multimodal: REAL GIF codec — LZW both ways, ImageIO cross-validation") {
    val seed = Array[Byte](5, 200.toByte, 33, 90, 7)
    val w = 9; val h = 4
    val gif = Multimodal.encodeGif(w, h, seed)
    // size law: 794 fixed + db + ceil(db/255), db = ceil(9*C/8),
    // C = n + (n-1)/254 + 2 literal/clear/EOI codes
    val n = w * h
    val c = n + (n - 1) / 254 + 2
    val db = (9 * c + 7) / 8
    assert(gif.length == 794 + db + (db + 254) / 255)
    assert(Multimodal.decodeGif(gif).contains(("image/gif", w, h)))
    assert(Multimodal.decodeAny(gif) == ("image/gif", w, h))
    // our own decode: grayscale palette makes pixel (r,g,b) = seed byte x3
    val Some((_, _, _, px)) = Multimodal.decodeGifPixels(gif)
    assert(px.toSeq == (0 until n).flatMap(i => Seq.fill(3)(seed(i % seed.length))))
    // the JDK's OWN GIF reader accepts the file and agrees on every pixel
    // — the emitted LZW stream and palette are spec-conformant
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val v = seed((y * w + x) % seed.length) & 0xff
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == v && ((rgb >> 8) & 0xff) == v && (rgb & 0xff) == v,
        s"JDK GIF reader disagrees at ($x,$y)")
    }
    // the OTHER direction: the JDK's GIF WRITER produces real
    // variable-width LZW (growing dictionary, not our 9-bit literal
    // stream) — our full LZW decoder must reproduce the JDK's own
    // read-back byte for byte
    val src = new java.awt.image.BufferedImage(40, 25,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 25; x <- 0 until 40)
      src.setRGB(x, y, ((x * 6) << 16) | ((y * 10) << 8) | ((x + y) * 3))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "gif", bos), "JDK GIF writer missing")
    val jdkGif = bos.toByteArray
    val Some((_, 40, 25, ours)) = Multimodal.decodeGifPixels(jdkGif)
    val theirs = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jdkGif))
    for (y <- 0 until 25; x <- 0 until 40) {
      val rgb = theirs.getRGB(x, y)
      val p = 3 * (y * 40 + x)
      assert(((rgb >> 16) & 0xff) == (ours(p) & 0xff) &&
        ((rgb >> 8) & 0xff) == (ours(p + 1) & 0xff) &&
        (rgb & 0xff) == (ours(p + 2) & 0xff),
        s"LZW decode disagrees with the JDK at ($x,$y)")
    }
    // garbage and truncation reject instead of misparsing
    assert(Multimodal.decodeGif("GIF89a".getBytes).isEmpty)
    assert(Multimodal.decodeGifPixels(gif.take(800)).isEmpty)
    assert(Multimodal.decodeGifPixels("not a gif at all".getBytes).isEmpty)
  }

  test("multimodal: WAV sample decode — signed LE int16 frames, per-channel stats") {
    // seed with a high bit set exercises the signed reconstruction:
    // frame bytes (lo, hi) cycle the seed, so sample 0 = (0x90 << 8) | 0x01
    // = 0x9001 = -28671 signed
    val seed = Array[Byte](0x01, 0x90.toByte, 0x02, 0x03)
    val wav = Multimodal.encodeWavPcm16(2, 8000, 3, seed)
    val Some((ch, rate, samples)) = Multimodal.decodeWavSamples(wav)
    assert(ch == 2 && rate == 8000 && samples.length == 6)
    val expected = (0 until 6).map { i =>
      val lo = seed((2 * i) % 4) & 0xff
      val hi = seed((2 * i + 1) % 4) & 0xff
      ((hi << 8) | lo).toShort
    }
    assert(samples.toSeq == expected)
    assert(samples(0) == -28671) // the signed case, pinned
    // non-PCM16 and garbage reject
    assert(Multimodal.decodeWavSamples("RIFFnope".getBytes).isEmpty)
    // dataframe path: per-channel sums/means/|amplitude| over real frames
    val df = Seq((1L, 2, 8000, 3)).toDF("id", "ch", "rate", "ns")
      .withColumn("seed", lit(seed))
    val feat = Multimodal.decodeAudioFeatures(
      Multimodal.encodeWavCol(df, "ch", "rate", "ns", "seed", "payload"), "payload")
    val r = feat.select("channels", "n_samples", "sum_ch", "mean_ch", "sum_abs_ch").head()
    assert(r.getInt(0) == 2 && r.getLong(1) == 3L)
    val byCh = expected.zipWithIndex.groupBy(_._2 % 2)
    val sums = (0 to 1).map(c => byCh(c).map(_._1.toLong).sum)
    assert(r.getSeq[Long](2) == sums)
    assert(r.getSeq[Double](3) == sums.map(_.toDouble / 3))
    assert(r.getSeq[Long](4) == (0 to 1).map(c => byCh(c).map(x => math.abs(x._1.toLong)).sum))
  }

  test("multimodal: audioHash64 — header-invariant, 1-sample perturbation stays local") {
    val seed = "some seed text for pcm frames with varied bytes".getBytes
    // same samples under different rate headers hash identically
    val w1 = Multimodal.encodeWavPcm16(2, 8000, 150, seed)
    val w2 = Multimodal.encodeWavPcm16(2, 44100, 150, seed)
    val Some((_, _, s1)) = Multimodal.decodeWavSamples(w1)
    val Some((_, _, s2)) = Multimodal.decodeWavSamples(w2)
    val h1 = Multimodal.audioHash64(s1)
    assert(h1 == Multimodal.audioHash64(s2), "rate header must not change the hash")
    // fewer samples than windows: defined zero, not garbage
    assert(Multimodal.audioHash64(s1.take(64)) == 0L)
    // one perturbed sample moves at most 1 comparison bit
    val mut = s1.clone()
    mut(0) = (mut(0) + 1).toShort
    assert(java.lang.Long.bitCount(h1 ^ Multimodal.audioHash64(mut)) <= 1)
    // perturbWavSample nudges exactly the first data byte via the RIFF walk
    val df = Seq((1L, 2, 8000, 150)).toDF("id", "ch", "rate", "ns")
      .withColumn("seed", lit(seed))
    val enc = Multimodal.encodeWavCol(df, "ch", "rate", "ns", "seed", "payload")
    val pert = Multimodal.perturbWavSample(enc, "payload", "p2")
    val r = pert.select("payload", "p2").head()
    val orig = r.getAs[Array[Byte]](0); val mod = r.getAs[Array[Byte]](1)
    val diffs = orig.indices.filter(i => orig(i) != mod(i))
    assert(diffs == Seq(44), s"expected only the first data byte to change, got $diffs")
    // non-WAV passes through unchanged
    val same = Multimodal.perturbWavSample(
      Seq(Tuple1("not a wav".getBytes)).toDF("payload"), "payload", "p2").head()
    assert(java.util.Arrays.equals(same.getAs[Array[Byte]](0), same.getAs[Array[Byte]](1)))
    // decodeAudioFeatures surfaces the hash
    val feat = Multimodal.decodeAudioFeatures(enc, "payload").select("ahash").head()
    assert(feat.getLong(0) == h1)
  }

  test("hammingPairs64: exact pairs at radius <= 3, banded — and radius > 3 rejects") {
    val sigs = Seq(
      (1L, 0L), (2L, 1L), // hamming 1
      (3L, 0x0FL), // hamming(1,3)=3, hamming(2,3)=3... vs id1: 4 bits
      (4L, -1L), // far from everything
      (5L, -1L ^ (1L << 63))) // hamming(4,5)=1 across the sign bit
      .toDF("id", "sig")
    val pairs = rows(Dedup.hammingPairs64(sigs, "id", "sig").orderBy("id1", "id2"))
    // brute-force expectation over all 10 pairs at radius <= 3
    val m = Map(1L -> 0L, 2L -> 1L, 3L -> 0x0FL, 4L -> -1L, 5L -> (-1L ^ (1L << 63)))
    val expect = (for {
      a <- m.keys; b <- m.keys if a < b
      ham = java.lang.Long.bitCount(m(a) ^ m(b)) if ham <= 3
    } yield Seq(a, b, ham)).toSeq.sortBy(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
    assert(pairs == expect)
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs64(sigs, "id", "sig", maxHamming = 4)
    }
  }

  test("multimodal resize: nearest-neighbor byte sampling to target length") {
    val df = Seq((1L, "abcdefgh"), (2L, "")).toDF("doc_id", "text")
    val b = Multimodal.asBinary(df, "text", "payload")
    val out = Multimodal.resizeStub(b, "payload", dstLen = 4, out = "thumb")
      .select(col("doc_id"), col("thumb").cast("string"))
    // src 8 bytes -> dst 4: positions floor(i*8/4) = 0,2,4,6 -> "aceg";
    // empty payload stays empty
    assert(rows(out.orderBy("doc_id")) == Seq(Seq(1L, "aceg"), Seq(2L, "")))
  }

  test("multimodal: REAL TIFF codec — IFD walk both byte orders, ImageIO cross-check") {
    val t = Multimodal.encodeTiffRgb(13, 7, "seedbytes".getBytes("US-ASCII"))
    assert(t.length == 128 + 3 * 13 * 7)
    assert(Multimodal.decodeTiff(t).contains(("image/tiff", 13, 7)))
    // the JDK's own TIFF reader must agree with our literal encoder
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
    assert(img != null, "ImageIO could not parse our TIFF")
    assert(img.getWidth == 13 && img.getHeight == 7)
    // big-endian variant: hand-build an MM header with one SHORT-typed
    // width and LONG-typed height entry
    val bb = java.nio.ByteBuffer.allocate(8 + 2 + 2 * 12 + 4)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put('M'.toByte).put('M'.toByte).putShort(42).putInt(8)
    bb.putShort(2)
    bb.putShort(256).putShort(3).putInt(1).putShort(99).putShort(0)
    bb.putShort(257).putShort(4).putInt(1).putInt(44)
    bb.putInt(0)
    assert(Multimodal.decodeTiff(bb.array()).contains(("image/tiff", 99, 44)))
    // fuzz contract: garbage, truncation and wrong magic return None
    assert(Multimodal.decodeTiff(Array[Byte]('I', 'I', 42, 0)).isEmpty)
    assert(Multimodal.decodeTiff("IIxx12345678".getBytes).isEmpty)
    assert(Multimodal.decodeTiff(t.take(40).toArray).isEmpty)
    assert(Multimodal.decodeTiff(Array.fill[Byte](64)(0x7f)).isEmpty)
    // dispatch: decodeAny routes TIFF payloads to the real parser
    assert(Multimodal.decodeAny(t) == ("image/tiff", 13, 7))
  }

  test("pca2d: collinear points put all variance on one component") {
    import spark.implicits._
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0))
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = rows(Profile.pca2d(df, "g", "x", "y")).head
    val lam2 = r(6).asInstanceOf[Double]
    val expl = r(7).asInstanceOf[Double]
    val theta = r(8).asInstanceOf[Double]
    assert(math.abs(lam2) < 1e-9)
    assert(math.abs(expl - 1.0) < 1e-9)
    // principal axis of y = 2x is atan(2), rounded to 6 dp
    assert(math.abs(theta - 1.107149) < 1e-6)
    // lam1 + lam2 = var_x + var_y (trace preserved)
    val varSum = r(2).asInstanceOf[Double] + r(3).asInstanceOf[Double]
    assert(math.abs(r(5).asInstanceOf[Double] + lam2 - varSum) < 1e-9)
  }

  test("fisherExact2x2 matches the tea-tasting exact p-values") {
    import spark.implicits._
    // the classic 4/0/0/4 table: p_two = 2/70, p_right = 1/70, p_left = 1
    val df = (Seq.fill(4)((true, true)) ++ Seq.fill(4)((false, false)))
      .toDF("g", "s")
    val r = rows(Profile.fisherExact2x2(df, col("g"), col("s"))).head
    assert(r.take(5) == Seq(4L, 0L, 0L, 4L, 8L))
    // 6-dp ln rounding accumulates ~1e-5 absolute error by design —
    // DETERMINISTIC error (both engines replay it), not noise
    assert(math.abs(r(5).asInstanceOf[Double] - 1.0 / 70) < 1e-5) // pmf_obs
    assert(math.abs(r(6).asInstanceOf[Double] - 2.0 / 70) < 1e-5) // p_two
    assert(math.abs(r(7).asInstanceOf[Double] - 1.0) < 1e-5)      // p_left
    assert(math.abs(r(8).asInstanceOf[Double] - 1.0 / 70) < 1e-5) // p_right
    // pmf mass sums to 1: p_left + p_right - pmf_obs = 1
    assert(math.abs(r(7).asInstanceOf[Double] + r(8).asInstanceOf[Double]
      - r(5).asInstanceOf[Double] - 1.0) < 1e-5)
  }
}

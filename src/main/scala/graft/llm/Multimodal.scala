package graft.llm

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{NamedQuery, Tables}

/** Multimodal-column plumbing: image/audio/video ride as opaque `binary`
  * columns with typed metadata; decode/feature-extraction runs as a
  * partition-wise operator over batches of byte arrays.
  *
  * Container-HEADER decode is REAL ([[Multimodal.HeaderDecoder]]:
  * pure-JVM PNG IHDR / JPEG SOFn / GIF parsing, spec-tested against
  * ImageIO-synthesized bytes), and PIXEL decode is REAL too
  * ([[Multimodal.PixelDecoder]]: the JDK's own `javax.imageio` readers
  * decode PNG/JPEG/GIF pixels with no external media library, feeding
  * channel-statistics embeddings). [[Multimodal.FakeDecoder]] remains
  * only as the deterministic fallback for non-image payloads and as
  * the DuckDB-reproducible path the fixture ORACLE queries pin (the
  * fixture's payloads are text bytes — no container to decode).
  * Everything Spark-side — the binary schema, the partition-wise
  * batching, the metadata struct the decoder returns, the partition
  * sizing — is shared across all three decoders: swapping in a
  * JNI/FFI video decoder changes one function.
  *
  * Scale: decode is the canonical CPU-heavy map stage. No shuffle at
  * all; partition sizing (`spark.sql.files.maxPartitionBytes`) controls
  * batch memory; at 100 TB this runs as a pure scan with
  * `repartition(n)` only if the source files skew.
  */
object Multimodal {

  /** Decoded-media metadata (what a real image decoder would return). */
  final case class MediaMeta(
      doc_id: Long, byte_len: Long, width: Int, height: Int, channels: Int)

  object FakeDecoder {
    /** Deterministic pseudo-metadata from the payload size — the
      * fallback for payloads that are no decodable container (real
      * header decode lives in [[HeaderDecoder]], real pixel decode in
      * [[PixelDecoder]]). Deriving the fake dimensions from
      * `payload.length` alone keeps the fixture decode
      * DuckDB-reproducible (byte length = octet_length of the text) so
      * the whole partition-wise path is oracle-checked end to end. */
    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      val n = payload.length.toLong
      MediaMeta(docId, n,
        (64 + (n * 31 + 7) % 1024).toInt,
        (64 + (n * 131 + 17) % 1024).toInt,
        (1 + (n * 7 + 3) % 4).toInt)
    }
  }

  /** REAL pure-JVM container-header decode — PNG IHDR, JPEG SOFn and
    * GIF87a/89a logical-screen headers are fixed-layout byte fields the
    * JDK can read without any media library (the round-9 "no media
    * libraries" rationale only applied to pixel decoding). Behind the
    * same `(docId, payload) => MediaMeta` interface as [[FakeDecoder]],
    * so the Spark-side plumbing is shared; payloads that are none of
    * the three containers fall back to the deterministic fake (the
    * fixture's text-byte payloads take that path, keeping the oracle
    * query byte-for-byte unchanged).
    *
    *  - PNG:  8-byte signature, then IHDR: width/height as 4-byte BE at
    *    offsets 16/20, color type at 25 → channels (0 gray=1, 2 RGB=3,
    *    3 indexed=1, 4 gray+alpha=2, 6 RGBA=4).
    *  - JPEG: FF D8, then marker scan to SOF0/1/2/3/5/6/7/9/A/B/D/E/F:
    *    payload = precision(1), height(2 BE), width(2 BE), nComponents.
    *  - GIF:  "GIF87a"/"GIF89a", then width/height as 2-byte LE;
    *    palette RGB → 3 channels.
    */
  object HeaderDecoder {
    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def u16be(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
    private def u16le(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def u32be(b: Array[Byte], i: Int): Long =
      (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

    private[llm] def parsePng(b: Array[Byte]): Option[(Int, Int, Int)] =
      if (b.length < 26 ||
          !(u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
            u8(b, 4) == 0x0d && u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a) ||
          !(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) None
      else {
        val channels = u8(b, 25) match {
          case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
          case _ => return None
        }
        Some((u32be(b, 16).toInt, u32be(b, 20).toInt, channels))
      }

    private val jpegSof = Set(0xc0, 0xc1, 0xc2, 0xc3, 0xc5, 0xc6, 0xc7,
      0xc9, 0xca, 0xcb, 0xcd, 0xce, 0xcf)

    private[llm] def parseJpeg(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return None
        var m = u8(b, i + 1)
        // fill bytes: consecutive FFs before the marker id
        var j = i + 1
        while (m == 0xff && j + 1 < b.length) { j += 1; m = u8(b, j) }
        if (jpegSof(m)) {
          // segment: len(2) precision(1) height(2) width(2) nComp(1)
          val p = j + 3
          if (p + 5 >= b.length) return None
          return Some((u16be(b, p + 3), u16be(b, p + 1), u8(b, p + 5)))
        } else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) {
          i = j + 1 // standalone marker, no length field
        } else {
          if (j + 3 >= b.length) return None
          i = j + 1 + u16be(b, j + 1)
        }
      }
      None
    }

    private[llm] def parseGif(b: Array[Byte]): Option[(Int, Int, Int)] =
      if (b.length < 10 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
          b(3) != '8' || !(b(4) == '7' || b(4) == '9') || b(5) != 'a') None
      else Some((u16le(b, 6), u16le(b, 8), 3))

    /** (width, height, channels) when `payload` is a recognized
      * container. */
    def parse(payload: Array[Byte]): Option[(Int, Int, Int)] =
      parsePng(payload).orElse(parseJpeg(payload)).orElse(parseGif(payload))

    def decode(docId: Long, payload: Array[Byte]): MediaMeta = parse(payload) match {
      case Some((w, h, c)) => MediaMeta(docId, payload.length.toLong, w, h, c)
      case None            => FakeDecoder.decode(docId, payload)
    }
  }

  /** REAL pixel decode via the JDK's own ImageIO (the PNG/JPEG/GIF
    * readers ship with every JRE — the "no media libraries in this
    * container" constraint only ever applied to video/audio codecs).
    * Pixels are normalized through `getRGB` (sRGB, palette-expanded),
    * so indexed GIFs and gray PNGs produce comparable statistics;
    * `channels` reports the color model's COLOR component count for
    * palette-indexed models (3 — [[HeaderDecoder]]'s GIF convention,
    * alpha from transparent palette entries excluded) and the full
    * component count otherwise (gray 1, gray+alpha 2, RGB 3, RGBA 4 —
    * matching HeaderDecoder's PNG mapping; the one divergence is
    * indexed PNG, where the container header says 1 byte/pixel but
    * decoded pixels are palette RGB). Dimensions are pre-checked from
    * the container header against [[PixelDecoder.MaxPixels]] before
    * any raster is allocated, so decompression-bomb payloads cannot
    * OOM an executor. A production bulk path would read the raster buffer
    * directly; per-pixel getRGB keeps this dependency-free and exact.
    * Corrupt or non-image payloads fall back to [[FakeDecoder]], so
    * the operator stays total over a mixed 100 TB corpus. */
  object PixelDecoder {
    final case class PixelStats(width: Int, height: Int, channels: Int,
        meanR: Double, meanG: Double, meanB: Double,
        meanLuma: Double, stdLuma: Double)

    /** Per-payload pixel budget: a payload whose header declares more
      * than this many pixels (W×H) is refused BEFORE the raster is
      * allocated, so a decompression-bomb container (tiny bytes, huge
      * declared dimensions) cannot OOM an executor — it just takes the
      * deterministic fallback like any other undecodable payload.
      * 2^24 ≈ 16.8 MP ≈ 64 MB of ARGB raster per concurrent task. */
    val MaxPixels: Long = 1L << 24

    /** Decoded-pixel statistics, or None when ImageIO does not
      * recognize the payload (its readers return null / throw on
      * truncated containers — both map to the fallback) or when the
      * declared dimensions exceed `maxPixels`. Dimensions are read from
      * the container header via the ImageReader BEFORE `read(0)`
      * decodes pixels, so oversized declarations never allocate. */
    def stats(payload: Array[Byte], maxPixels: Long = MaxPixels): Option[PixelStats] = {
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        if (iis == null) return None
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val w = reader.getWidth(0); val h = reader.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) return None
            val bi = reader.read(0)
            var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var sl2 = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = bi.getRGB(x, y)
                val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
                val l = (r + g + b) / 3.0
                sr += r; sg += g; sb += b; sl += l; sl2 += l * l
                x += 1
              }
              y += 1
            }
            val n = w.toDouble * h
            val ml = sl / n
            // palette-indexed models report 3 (palette RGB, HeaderDecoder's
            // GIF convention) even when a transparent entry adds an alpha
            // component; non-indexed models keep the alpha-inclusive count
            // (PNG gray+alpha 2, RGBA 4) that HeaderDecoder also reports.
            val channels = bi.getColorModel match {
              case _: java.awt.image.IndexColorModel => 3
              case cm                                => cm.getNumComponents
            }
            Some(PixelStats(w, h, channels,
              sr / n, sg / n, sb / n, ml,
              math.sqrt(math.max(0.0, sl2 / n - ml * ml))))
          } finally reader.dispose()
        } finally iis.close()
      } catch { case _: Exception => None }
    }

    def decode(docId: Long, payload: Array[Byte]): MediaMeta = stats(payload) match {
      case Some(s) => MediaMeta(docId, payload.length.toLong, s.width, s.height, s.channels)
      case None    => FakeDecoder.decode(docId, payload)
    }

    /** The real channel-statistics embedding (8-dim): decoded images
      * yield [w, h, channels, meanR, meanG, meanB, meanLuma, stdLuma];
      * non-image payloads fall back to [[embedStub]]'s byte-statistics
      * vector zero-padded to the same width, so one fixed schema covers
      * a mixed corpus. */
    def vector(payload: Array[Byte]): Array[Float] = stats(payload) match {
      case Some(s) => Array(s.width.toFloat, s.height.toFloat, s.channels.toFloat,
        s.meanR.toFloat, s.meanG.toFloat, s.meanB.toFloat,
        s.meanLuma.toFloat, s.stdLuma.toFloat)
      case None =>
        val n = math.max(1, payload.length)
        val mean = payload.foldLeft(0L)(_ + _).toFloat / n
        val mx = if (payload.isEmpty) 0f else payload.max.toFloat
        val mn = if (payload.isEmpty) 0f else payload.min.toFloat
        Array(n.toFloat, mean, mn, mx, 0f, 0f, 0f, 0f)
    }
  }

  /** Partition-wise decode of an `(id: long, payload: binary)` frame
    * with any decoder — the production entry point. No shuffle; batch
    * memory bounded by `spark.sql.files.maxPartitionBytes`. */
  def decodeFrame(df: DataFrame,
      decoder: (Long, Array[Byte]) => MediaMeta): DataFrame = {
    implicit val enc = Encoders.product[MediaMeta]
    df.as[(Long, Array[Byte])](Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it => it.map { case (id, bytes) => decoder(id, bytes) } }
      .toDF()
  }

  /** Attach a synthetic binary column (documents' text bytes standing in
    * for the media payload) and run the partition-wise decode through
    * [[HeaderDecoder]] — text bytes are no recognized container, so
    * every row takes the deterministic fallback, which keeps this
    * DuckDB-oracle-checkable while exercising the REAL decoder's
    * dispatch on every row. */
  def decodeMeta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    decodeFrame(docs, HeaderDecoder.decode).orderBy(col("doc_id"))
  }

  val decodeMetaSql: String =
    """WITH b AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
      |)
      |SELECT doc_id, CAST(n AS BIGINT) AS byte_len,
      |  CAST(64 + (n * 31 + 7) % 1024 AS INT) AS width,
      |  CAST(64 + (n * 131 + 17) % 1024 AS INT) AS height,
      |  CAST(1 + (n * 7 + 3) % 4 AS INT) AS channels
      |FROM b ORDER BY doc_id""".stripMargin

  /** Batched feature extraction: the model-inference shape. Rows are
    * drained per partition in fixed-size batches (the way a real
    * vision/audio model consumes tensors), each batch "infers" in one
    * call, and results flatten back to rows. The fake embedding is
    * deterministic byte statistics; a real model swaps one function and
    * keeps the batching, schema and partition sizing. */
  final case class MediaEmbed(doc_id: Long, batch_size: Int, embedding: Array[Float])

  def embedStub(spark: SparkSession, dir: String, batchSize: Int = 16): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    implicit val enc = Encoders.product[MediaEmbed]
    docs.as[(Long, Array[Byte])](Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "model call" per batch: batch.size rows in, |batch| vectors out
          batch.map { case (id, bytes) =>
            val n = math.max(1, bytes.length)
            val mean = bytes.foldLeft(0L)(_ + _).toFloat / n
            val mx = if (bytes.isEmpty) 0f else bytes.max.toFloat
            val mn = if (bytes.isEmpty) 0f else bytes.min.toFloat
            MediaEmbed(id, batch.size, Array(n.toFloat, mean, mn, mx))
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Production twin of [[embedStub]]: the SAME partition-wise batched
    * "model call" shape, but each batch decodes REAL pixels through
    * [[PixelDecoder]] and emits channel-statistics vectors — the
    * drop-in point where a vision model replaces the statistics with
    * learned features while batching, schema and partition sizing stay
    * untouched. */
  def embedFrame(df: DataFrame, batchSize: Int = 16): DataFrame = {
    implicit val enc = Encoders.product[MediaEmbed]
    df.as[(Long, Array[Byte])](Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "model call" per batch: batch.size rows in, |batch| vectors out
          batch.map { case (id, bytes) =>
            MediaEmbed(id, batch.size, PixelDecoder.vector(bytes))
          }
        }
      }
      .toDF()
  }

  /** Harness twin of [[embedStub]]: identical partition-wise batched
    * "model call" shape, but the fake vector is derived from `n_chars`
    * and emitted as scalar columns, so a DuckDB oracle hash-checks the
    * whole batching path (the driver's compare can't sort array
    * columns). `batch_size` stays out of the output — it depends on
    * partition boundaries, which an oracle can't reproduce. */
  final case class MediaEmbedVec(doc_id: Long, e0: Double, e1: Double, e2: Double, e3: Double)

  def embedBatch(spark: SparkSession, dir: String, batchSize: Int = 16): DataFrame = {
    val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    implicit val enc = Encoders.product[MediaEmbedVec]
    docs.as[(Long, Long)](Encoders.product[(Long, Long)])
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "model call" per batch: batch.size rows in, |batch| vectors out
          batch.map { case (id, n) =>
            MediaEmbedVec(id, n.toDouble,
              ((n * 31 + 7) % 1009).toDouble,
              ((n * 131 + 17) % 1013).toDouble,
              ((n * 1021 + 5) % 997).toDouble)
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  val embedBatchSql: String =
    """SELECT doc_id,
      |  CAST(n_chars AS DOUBLE) AS e0,
      |  CAST((n_chars * 31 + 7) % 1009 AS DOUBLE) AS e1,
      |  CAST((n_chars * 131 + 17) % 1013 AS DOUBLE) AS e2,
      |  CAST((n_chars * 1021 + 5) % 997 AS DOUBLE) AS e3
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Perceptual average-hash (aHash) — the image near-duplicate
    * fingerprint: partition the image into a coarse block grid, set
    * bit i when block i's mean luma exceeds the global mean. Nearly
    * identical images (recompressions, small edits, brightness-
    * preserving resizes) land within a small Hamming distance; the
    * same trick CSAM/copyright/dedup pipelines run at crawl scale.
    * 48 bits here (an 8x6 block grid) so `1 << i` stays in BIGINT
    * range on both engines and the 12-bit bucket prefix leaves 36
    * bits of discriminating tail.
    *
    * Image payloads hash the REAL decoded raster (same ImageIO path
    * and decompression-bomb guard as [[PixelDecoder]]); non-image
    * payloads (the fixture's text bytes) take the byte-stripe
    * fallback — the same mean rule over 48 payload stripes — which
    * keeps the whole pair pipeline DuckDB-reproducible. All
    * comparisons are exact integer cross-products (sum_i * n >
    * total * cnt_i), so no float ulp can flip a bit in either engine.
    */
  object PHash {
    val Stripes = 48

    /** Exact a·b > c·d for non-negative longs via 128-bit products.
      * The stripe-vs-mean vote compares sums(i)·n against total·cnts(i);
      * in plain Long that overflows once 255·n² exceeds 2⁶³ (payloads
      * past ~190 MB — the doc positions the byte fallback for audio/
      * video blobs), silently corrupting hash bits. Lexicographic
      * (multiplyHigh, unsigned-low) comparison is exact at any size. */
    private[llm] def prodGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
      val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
      val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
      if (hi1 != hi2) hi1 > hi2
      else java.lang.Long.compareUnsigned(lo1, lo2) > 0
    }

    def ahash(payload: Array[Byte], maxPixels: Long = PixelDecoder.MaxPixels): Long =
      ahashImage(payload, maxPixels).getOrElse(ahashBytes(payload))

    /** Byte-stripe fallback hash (oracle-reproducible). */
    def ahashBytes(payload: Array[Byte]): Long = {
      val n = payload.length
      if (n == 0) return 0L
      val sums = new Array[Long](Stripes)
      val cnts = new Array[Long](Stripes)
      var total = 0L
      var j = 0
      while (j < n) {
        val v = payload(j) & 0xff
        val i = (j.toLong * Stripes / n).toInt
        sums(i) += v; cnts(i) += 1; total += v
        j += 1
      }
      var h = 0L
      var i = 0
      while (i < Stripes) {
        if (cnts(i) > 0 && prodGt(sums(i), n, total, cnts(i))) h |= 1L << i
        i += 1
      }
      h
    }

    /** Real-pixel aHash over an 8x6 luma-block grid, or None when the
      * payload is no decodable image (or exceeds the pixel budget). */
    def ahashImage(payload: Array[Byte],
        maxPixels: Long = PixelDecoder.MaxPixels): Option[Long] = {
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        if (iis == null) return None
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val w = reader.getWidth(0); val h = reader.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) return None
            val bi = reader.read(0)
            val sums = new Array[Long](Stripes)
            val cnts = new Array[Long](Stripes)
            var total = 0L
            var y = 0
            while (y < h) {
              val by = y.toLong * 6 / h
              var x = 0
              while (x < w) {
                val rgb = bi.getRGB(x, y)
                // 3x the mean luma keeps the block statistic integral
                val l3 = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                val i = (by * 8 + x.toLong * 8 / w).toInt
                sums(i) += l3; cnts(i) += 1; total += l3
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            var hash = 0L
            var i = 0
            while (i < Stripes) {
              if (cnts(i) > 0 && prodGt(sums(i), n, total, cnts(i))) hash |= 1L << i
              i += 1
            }
            Some(hash)
          } finally reader.dispose()
        } finally iis.close()
      } catch { case _: Exception => None }
    }
  }

  /** Image near-duplicate pairs by perceptual hash: per-payload aHash
    * (real pixels for images, byte-stripe fallback for the fixture),
    * single-band LSH on the hash's 12-bit prefix (the dedup_simhash
    * bucketing), Hamming <= 12 of 48 within the bucket.
    *
    * Scale shape: the hash is a partition-local projection over the
    * binary column (no shuffle); candidates form per 12-bit bucket via
    * ONE collect_list shuffle and stream out of the posting-list
    * Generate pair — never a doc-level self-join — so candidate volume
    * is sum-of-C(bucket,2), bounded by how hard the corpus actually
    * collides (the dedup_simhash_pairs contract, measured 12.6k
    * candidates for 5k docs at sf0.1). */
  final case class PhashSig(doc_id: Long, phash: Long)

  def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.table(spark, dir, "documents"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    implicit val enc = Encoders.product[PhashSig]
    val sigs = docs.as[(Long, Array[Byte])](Encoders.product[(Long, Array[Byte])])
      .mapPartitions(_.map { case (id, bytes) => PhashSig(id, PHash.ahash(bytes)) })
      .toDF()
      // prefix width from the one LSH knob (graft.ops.Lsh — default 12
      // of 48, oracle-stable; a 10⁶-image corpus sets ~20 via bitsFor)
      .withColumn("bucket",
        shiftright(col("phash"), 48 - graft.ops.Lsh.prefixBits(12, 48)))
    val posting = sigs
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("phash")))).as("xs"))
      .filter(size(col("xs")) >= 2)
    posting
      .select(col("xs"), posexplode(col("xs")).as(Seq("i", "a")))
      .select(col("a"), explode(expr("slice(xs, i + 2, size(xs))")).as("b"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 12)
      .orderBy(col("a_id"), col("b_id"))
  }

  // The twin indexes the UTF-8 blob BYTE-exactly: hex(encode(text))
  // spells each byte as two hex digits, and strpos over the 15-char
  // digit alphabet maps a digit to its value ('0' falls through to
  // strpos = 0, its value). The previous form read CHARACTERS
  // (ord(substring(text, j, 1))) while j ranged over bytes — any
  // non-ASCII document diverged from the Spark side's raw-byte hash,
  // and j past the character length made ord('') error outright.
  def phashPairsSql: String =
    s"""WITH pos AS (
      |  SELECT doc_id, n, j,
      |    strpos('123456789ABCDEF', substring(hx, 2*j-1, 1)) * 16
      |      + strpos('123456789ABCDEF', substring(hx, 2*j, 1)) AS v,
      |    ((j - 1) * 48) // n AS stripe
      |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
      |          octet_length(encode(text)) AS n FROM documents),
      |    unnest(range(1, n + 1)) AS t(j)
      |), st AS (
      |  SELECT doc_id, n, stripe, sum(v) AS sv, count(*) AS cv
      |  FROM pos GROUP BY doc_id, n, stripe
      |), tot AS (
      |  SELECT doc_id, sum(v) AS tv FROM pos GROUP BY doc_id
      |), sig AS (
      |  SELECT s.doc_id,
      |    CAST(sum(CASE WHEN s.sv * s.n > t.tv * s.cv
      |      THEN (1::BIGINT << s.stripe) ELSE 0 END) AS BIGINT) AS phash
      |  FROM st s JOIN tot t USING (doc_id) GROUP BY s.doc_id
      |  UNION ALL
      |  -- zero-length payloads hash to 0 on the Spark side (ahashBytes
      |  -- returns 0 for n = 0); emit them here too so both engines pair
      |  -- empty documents identically if the fixture ever gains any
      |  SELECT doc_id, CAST(0 AS BIGINT) AS phash FROM documents
      |  WHERE octet_length(encode(text)) = 0
      |), b AS (
      |  SELECT doc_id, phash,
      |    phash >> ${48 - graft.ops.Lsh.prefixBits(12, 48)} AS bucket FROM sig
      |)
      |SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
      |  CAST(bit_count(xor(a.phash, b2.phash)) AS BIGINT) AS hamming
      |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
      |WHERE bit_count(xor(a.phash, b2.phash)) <= 12
      |ORDER BY a_id, b_id""".stripMargin
}

/** Relational halves of the multimodal pipeline — the resize planning
  * and video frame-sampling math that runs BEFORE any decoder touches
  * bytes. Media dimensions are derived deterministically from `n_chars`
  * (the harness stand-in for real header metadata), which keeps both
  * operators DuckDB-checkable end to end.
  */
object MultimodalPlan {
  import graft.ops.Registry.rnd

  /** Fit-within-224x224 resize planning, aspect ratio preserved. */
  def resizePlan(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        (lit(64) + pmod(col("n_chars"), lit(1024))).cast("int").as("width"),
        (lit(64) + pmod(col("n_chars") * 7, lit(1024))).cast("int").as("height"))
      .withColumn("scale",
        rnd(least(lit(224.0) / col("width"), lit(224.0) / col("height"), lit(1.0)), 6))
      .withColumn("target_w", floor(col("width") * col("scale")).cast("int"))
      .withColumn("target_h", floor(col("height") * col("scale")).cast("int"))
      .orderBy(col("doc_id"))

  val resizePlanSql: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |    CAST(64 + n_chars % 1024 AS INT) AS width,
      |    CAST(64 + (n_chars * 7) % 1024 AS INT) AS height
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, width, height,
      |    CAST(round(CAST(least(224.0 / width, 224.0 / height, 1.0) AS DECIMAL(18,8)), 6) AS DOUBLE) AS scale
      |  FROM dims
      |)
      |SELECT doc_id, width, height, scale,
      |  CAST(floor(width * scale) AS INT) AS target_w,
      |  CAST(floor(height * scale) AS INT) AS target_h
      |FROM s ORDER BY doc_id""".stripMargin

  /** Video frame sampling: duration from the stand-in metadata, one
    * frame every 2 s, at most 8 frames per clip, with the byte offset a
    * seek-based decoder would jump to. The explode is the partition-
    * local fan-out a frame-extraction stage feeds from. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), (col("n_chars") * 40).cast("long").as("duration_ms"))
      .withColumn("n_frames",
        least(lit(8L), (col("duration_ms") / lit(2000)).cast("long") + 1L))
      .select(col("doc_id"), col("duration_ms"),
        posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("frame_idx", "f")))
      .select(col("doc_id"), col("duration_ms"), col("frame_idx").cast("long").as("frame_idx"),
        (col("f") * 2000L).as("ts_ms"),
        (col("f") * 2000L * 256L).as("byte_offset"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val frameSampleSql: String =
    """WITH clips AS (
      |  SELECT doc_id, CAST(n_chars * 40 AS BIGINT) AS duration_ms,
      |    least(8, duration_ms // 2000 + 1) AS n_frames
      |  FROM documents
      |)
      |SELECT doc_id, duration_ms,
      |  CAST(f AS BIGINT) AS frame_idx,
      |  CAST(f * 2000 AS BIGINT) AS ts_ms,
      |  CAST(f * 2000 * 256 AS BIGINT) AS byte_offset
      |FROM clips, unnest(generate_series(0, n_frames - 1)) AS t(f)
      |ORDER BY doc_id, frame_idx""".stripMargin
}

/** Audio-modality plumbing: REAL RIFF/WAVE PCM container build + parse
  * (44-byte canonical header — fixed little-endian byte fields the JVM
  * reads without any media library, the PNG-IHDR rationale applied to
  * audio), and the per-language PCM feature card a speech-data curator
  * reads: RMS energy, zero-crossing rate (the classic cheap
  * voiced/unvoiced + noise discriminator), silence fraction, and peak.
  *
  * Fixture payloads: the documents' text codepoints stand in as 8-bit
  * centered PCM samples (s_i = codepoint_i − 128) — deterministic and
  * DuckDB-reproducible (ord(substr)), exactly the FakeDecoder
  * convention for images. The CONTAINER leg is not faked: every row
  * round-trips its bytes through [[WavCodec.build]] → [[WavCodec.parse]]
  * in the executor task, and the output's byte/duration columns come
  * from the PARSED header, so a header-layout bug breaks the oracle
  * hash (WavCodecSpec additionally pins a hand-assembled golden WAV and
  * malformed-container rejection).
  *
  * Determinism: every feature total is exact integer arithmetic
  * (sums of s², sign flips, |s| < 16 counts, max |s|) aggregated
  * per-language; the three ratios (rms, zcr, silence) divide exact
  * integer totals and snap at DECIMAL scale 12 (the sim_dim_stats tie
  * lesson). No per-doc float ever crosses an aggregation boundary.
  *
  * Scale shape: ONE embarrassingly-parallel corpus pass (partition-wise
  * build/parse/fold — the canonical CPU-heavy decode map stage, zero
  * shuffle) + ONE |langs|-key aggregation with map-side partials.
  */
object MultimodalAudio {
  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Canonical PCM sample rate for the fixture payloads (8-bit mono). */
  val SampleRate = 16000

  object WavCodec {
    /** 44-byte canonical RIFF/WAVE PCM header + data. */
    def build(data: Array[Byte], sampleRate: Int = SampleRate,
        channels: Int = 1, bitsPerSample: Int = 8): Array[Byte] = {
      val byteRate = sampleRate * channels * (bitsPerSample / 8)
      val blockAlign = channels * (bitsPerSample / 8)
      val out = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort) // PCM
        .putShort(channels.toShort).putInt(sampleRate).putInt(byteRate)
        .putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
        .put("data".getBytes("US-ASCII")).putInt(data.length)
        .put(data)
      out.array()
    }

    final case class WavMeta(sampleRate: Int, channels: Int,
        bitsPerSample: Int, dataLen: Long) {
      /** Integer milliseconds, floor — both engines' `DIV`. */
      def durationMs: Long =
        dataLen * 1000L / (sampleRate.toLong * channels * (bitsPerSample / 8))
    }

    private def tag(b: Array[Byte], off: Int, s: String): Boolean =
      b.length >= off + 4 && s.zipWithIndex.forall { case (c, i) => b(off + i) == c.toByte }
    private def u32le(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    /** Parse a canonical-layout PCM WAV; None on anything malformed. */
    def parse(b: Array[Byte]): Option[WavMeta] =
      if (b.length < 44 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE") ||
          !tag(b, 12, "fmt ") || u32le(b, 16) != 16 || u16le(b, 20) != 1 ||
          !tag(b, 36, "data")) None
      else {
        val channels = u16le(b, 22)
        val rate = u32le(b, 24).toInt
        val bits = u16le(b, 34)
        val dataLen = u32le(b, 40)
        if (channels < 1 || rate <= 0 || bits % 8 != 0 || bits == 0 ||
            dataLen != b.length - 44L) None
        else Some(WavMeta(rate, channels, bits, dataLen))
      }
  }

  /** One document folded: parsed container meta + exact integer PCM
    * feature totals over the codepoint samples. */
  final case class AudioRow(doc_id: Long, lang: String, data_len: Long,
      duration_ms: Long, n_samples: Long, sum_sq: Long, flips: Long,
      silent: Long, peak: Int)

  private[llm] def fold(docId: Long, lang: String, text: String): AudioRow = {
    val bytes = text.getBytes("UTF-8")
    val meta = WavCodec.parse(WavCodec.build(bytes)).getOrElse(
      sys.error(s"wav round-trip failed for doc $docId"))
    var prev = 0; var first = true
    var ssq = 0L; var flips = 0L; var silent = 0L; var peak = 0; var n = 0L
    val it = text.codePoints().iterator()
    while (it.hasNext) {
      val s = it.nextInt() - 128
      ssq += s.toLong * s
      if (!first && prev * s < 0) flips += 1
      if (math.abs(s) < 16) silent += 1
      if (math.abs(s) > peak) peak = math.abs(s)
      prev = s; first = false; n += 1
    }
    AudioRow(docId, lang, meta.dataLen, meta.durationMs, n, ssq, flips, silent, peak)
  }

  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    def snap12(c: org.apache.spark.sql.Column, s: Int) =
      round(c.cast("decimal(38,12)"), s).cast("double")
    implicit val enc = Encoders.product[AudioRow]
    val rows = Tables.table(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)](Encoders.product[(Long, String, String)])
      .mapPartitions(_.map { case (id, lg, tx) => fold(id, lg, tx) })
      .toDF()
    rows.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_samples")).as("n_samples"),
        sum(col("data_len")).as("total_bytes"),
        sum(col("duration_ms")).as("total_ms"),
        sum(col("sum_sq")).as("sum_sq"),
        sum(col("flips")).as("flips"),
        sum(col("silent")).as("silent"),
        max(col("peak")).as("peak"))
      .select(col("lang"), col("n_docs"), col("n_samples"), col("total_bytes"),
        col("total_ms"), col("sum_sq"), col("flips"), col("silent"), col("peak"),
        snap12(sqrt(col("sum_sq").cast("double") / col("n_samples")), 6).as("rms"),
        snap12(col("flips").cast("double") / (col("n_samples") - col("n_docs")), 6)
          .as("zcr"),
        snap12(col("silent").cast("double") / col("n_samples"), 6)
          .as("silence_frac"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // Acoustic fingerprint dedup — the audio twin of multimodal_phash
  // _pairs, on the chromaprint core idea reduced to its integer
  // essence: frame the PCM into 16-sample frames, bit f of the 32-bit
  // fingerprint = [energy(f+1) > energy(f)] (energy DELTAS survive
  // gain changes and re-encoding; absolute energies don't). Candidate
  // generation is prefix-bucketed exactly like phash/simhash (the one
  // LSH knob sizes the prefix), pairs confirm on Hamming <= 6 — never
  // all-pairs.
  //
  // Determinism: energies are exact integer sums of squared centered
  // codepoint samples (the audioFeatures convention — DuckDB
  // re-derives them with ord(substr), character-indexed on BOTH
  // sides); the fingerprint is 32 strict integer comparisons; Hamming
  // is bit_count(xor). No float exists anywhere.
  //
  // Scale shape: one embarrassingly-parallel fold to (doc, fp), one
  // bucket exchange over the prefix, pairwise only inside buckets
  // (posting-list slice — each pair materializes once), knob-bounded
  // occupancy. 100 TB of audio shards the same way.
  final case class AudioFp(doc_id: Long, fp: Long)
  private val FpFrames = 33
  private val FpFrameLen = 16

  private[llm] def audioFp(text: String): Long = {
    val e = new Array[Long](FpFrames)
    var i = 0
    val it = text.codePoints().iterator()
    while (it.hasNext) {
      val s = it.nextInt() - 128
      val f = i / FpFrameLen
      if (f < FpFrames) e(f) += s.toLong * s
      i += 1
    }
    var fp = 0L
    var f = 0
    while (f < FpFrames - 1) {
      if (e(f + 1) > e(f)) fp |= 1L << (31 - f)
      f += 1
    }
    fp
  }

  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val bits = graft.ops.Lsh.prefixBits(12, 32)
    implicit val enc = Encoders.product[AudioFp]
    val sigs = Tables.fanOut(Tables.table(spark, dir, "documents"))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)](Encoders.product[(Long, String)])
      .mapPartitions(_.map { case (id, tx) => AudioFp(id, audioFp(tx)) })
      .toDF()
      .withColumn("bucket", shiftright(col("fp"), 32 - bits))
    sigs.groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("fp")))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .select(col("xs"), posexplode(col("xs")).as(Seq("i", "a")))
      .select(col("a"), explode(expr("slice(xs, i + 2, size(xs))")).as("b"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy(col("a_id"), col("b_id"))
  }

  def audioFingerprintSql: String = {
    val bits = graft.ops.Lsh.prefixBits(12, 32)
    s"""WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
      |), ener AS (
      |  SELECT doc_id,
      |    list_transform(range(0, $FpFrames), f ->
      |      coalesce(list_sum(list_transform(
      |        range(1 + f * $FpFrameLen, least(n, (f + 1) * $FpFrameLen) + 1),
      |        i -> CAST((ord(substr(text, CAST(i AS INT), 1)) - 128)
      |             * (ord(substr(text, CAST(i AS INT), 1)) - 128) AS BIGINT))), 0)) AS e
      |  FROM d
      |), sig AS (
      |  SELECT doc_id,
      |    CAST(coalesce(list_sum(list_transform(range(0, ${FpFrames - 1}), f ->
      |      CASE WHEN e[CAST(f AS INT) + 2] > e[CAST(f AS INT) + 1]
      |        THEN (CAST(1 AS BIGINT) << CAST(31 - f AS INT)) ELSE 0 END)), 0) AS BIGINT) AS fp
      |  FROM ener
      |), bucketed AS (
      |  SELECT doc_id, fp, fp >> ${32 - bits} AS bucket FROM sig
      |)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      |FROM bucketed a JOIN bucketed b
      |  ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 6
      |ORDER BY a_id, b_id""".stripMargin
  }

  val audioFeaturesSql: String =
    """WITH s AS (
      |  SELECT lang, octet_length(encode(text)) AS blen, length(text) AS n,
      |    list_transform(range(1, length(text) + 1),
      |      i -> ord(substr(text, i, 1)) - 128) AS sm
      |  FROM documents WHERE length(text) > 0
      |), f AS (
      |  SELECT lang, blen, n,
      |    CAST(blen * 1000 // 16000 AS BIGINT) AS dur,
      |    list_sum(list_transform(sm, x -> CAST(x * x AS BIGINT))) AS ssq,
      |    coalesce(list_sum(list_transform(range(1, n),
      |      i -> CASE WHEN sm[i] * sm[i + 1] < 0 THEN 1 ELSE 0 END)), 0) AS flips,
      |    coalesce(list_sum(list_transform(sm,
      |      x -> CASE WHEN abs(x) < 16 THEN 1 ELSE 0 END)), 0) AS silent,
      |    list_max(list_transform(sm, x -> abs(x))) AS peak
      |  FROM s
      |), a AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n) AS BIGINT) AS n_samples,
      |    CAST(sum(blen) AS BIGINT) AS total_bytes,
      |    CAST(sum(dur) AS BIGINT) AS total_ms,
      |    CAST(sum(ssq) AS BIGINT) AS sum_sq,
      |    CAST(sum(flips) AS BIGINT) AS flips,
      |    CAST(sum(silent) AS BIGINT) AS silent,
      |    CAST(max(peak) AS INT) AS peak
      |  FROM f GROUP BY lang
      |)
      |SELECT lang, n_docs, n_samples, total_bytes, total_ms, sum_sq, flips,
      |  silent, peak,
      |  CAST(round(CAST(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) AS DECIMAL(38,12)), 6) AS DOUBLE) AS rms,
      |  CAST(round(CAST(CAST(flips AS DOUBLE) / (n_samples - n_docs) AS DECIMAL(38,12)), 6) AS DOUBLE) AS zcr,
      |  CAST(round(CAST(CAST(silent AS DOUBLE) / n_samples AS DECIMAL(38,12)), 6) AS DOUBLE) AS silence_frac
      |FROM a ORDER BY lang""".stripMargin
}

object MultimodalQueries {
  def queries: Vector[NamedQuery] = Vector(
    NamedQuery("multimodal_decode_meta",
      (s, d) => Multimodal.decodeMeta(s, d), Some(Multimodal.decodeMetaSql)),
    NamedQuery("multimodal_audio_features",
      (s, d) => MultimodalAudio.audioFeatures(s, d),
      Some(MultimodalAudio.audioFeaturesSql)),
    NamedQuery("multimodal_audio_fingerprint",
      (s, d) => MultimodalAudio.audioFingerprint(s, d),
      Some(MultimodalAudio.audioFingerprintSql)),
    NamedQuery("multimodal_embed_batch",
      (s, d) => Multimodal.embedBatch(s, d), Some(Multimodal.embedBatchSql)),
    NamedQuery("multimodal_resize_plan",
      (s, d) => MultimodalPlan.resizePlan(s, d), Some(MultimodalPlan.resizePlanSql)),
    NamedQuery("multimodal_frame_sample",
      (s, d) => MultimodalPlan.frameSample(s, d), Some(MultimodalPlan.frameSampleSql)),
    NamedQuery("multimodal_phash_pairs",
      (s, d) => Multimodal.phashPairs(s, d), Some(Multimodal.phashPairsSql)),
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}

/** Multimodal column plumbing (SURVEY.md §2 G): media as opaque
  * `binary` payloads + typed metadata, decoded partition-wise in
  * fixed-size batches (the shape a vectorized image decoder needs).
  * Every gated query in this file runs a REAL codec — javax.imageio
  * parsing genuine BMP/PNG/JPEG bytes (headers, strides, bottom-up
  * row order, zlib streams) — over a corpus whose pixels are planted
  * deterministic functions of the row, so each decode is provable:
  * the generated DuckDB oracle recomputes what the decoder MUST
  * yield. (The r1–r12 stub tier — deterministic fakes over utf-8
  * payload bytes — is retired: the three stub queries are re-pointed
  * at real pixels below, and video "frames" now exercise a real
  * container walk + per-frame decode instead of a byte probe.)
  */
object Multimodal {

  // javax.imageio defaults to DISK-backed stream caches: every
  // convenience read/write (`ImageIO.read(InputStream)` /
  // `ImageIO.write(..., OutputStream)`) creates — and deletes — a
  // temp FILE per image when `ImageIO.getUseCache()` is true (the
  // JDK default). Our payloads are in-memory byte arrays of a few
  // KB, so the cache file is pure overhead: measured ~10 ms per
  // tiny image on this ext4 sandbox (r14 JobProbe: mm_decode_meta
  // burned ~50 CPU-seconds over 5000 8-31 px images, dominated by
  // file create/delete, the same pathology as the shuffle-file fix
  // in [[graft.core.ShuffleIo]]). Memory-cached streams are the
  // right mode for byte-array payloads at ANY scale — a production
  // executor decoding blobs from a columnar scan has them in memory
  // already. Set once per JVM before any codec call; every ImageIO
  // call in this file (and the streaming twins, which call through
  // these batch functions) is inside this object, so the object
  // initializer is the single choke point.
  javax.imageio.ImageIO.setUseCache(false)

  /** An opaque media blob: what a 100 TB corpus actually stores —
    * bytes plus routing metadata, never decoded until needed. */
  final case class MediaBlob(doc_id: Long, fmt: String, payload: Array[Byte])

  /** Typed metadata a decoder would extract. */
  final case class MediaMeta(doc_id: Long, fmt: String, width: Int,
      height: Int, n_frames: Int, size_bytes: Long)

  /** Batch size for the partition-wise decode loop — a real decoder
    * amortizes codec setup over a batch (GPU transfer, JNI call). */
  private val DecodeBatchSize = 32

  /** One image's pixel histogram (8 gray bins). */
  final case class ByteHist(doc_id: Long, bins: Array[Long])

  // ==================================================================
  // REAL DECODE — a genuine pure-JVM image codec path (javax.imageio,
  // BMP): the corpus is rendered as real 24-bit BMP files whose
  // dimensions and pixels are deterministic functions of the row, so
  // the decoder is REAL (ImageIO parses actual headers, strides, and
  // bottom-up row order) while the oracle stays generated: DuckDB
  // recomputes what the decode MUST yield from the planted parameters
  // (BMP is lossless by construction). The stub path above is kept as
  // the integration cross-reference for codecs that don't ship in a
  // JRE (video/audio).
  // ==================================================================

  /** Planted image geometry — ONE Scala source of truth shared by the
    * renderer, the Spark queries, and the generated DuckDB oracles.
    * Width rides doc_id, height rides the codepoint text length
    * (computed engine-side by `length(text)` so both engines count
    * codepoints), pixels are a linear congruential gradient. */
  private[graft] def plantedW(docId: Long): Int = (8 + docId % 24).toInt
  private[graft] def plantedH(tlen: Int): Int = 8 + tlen % 16
  private[graft] def plantedGray(docId: Long, x: Int, y: Int): Int =
    ((x * 7L + y * 13L + docId * 31L) % 256L).toInt

  /** Minimal 24-bit uncompressed BMP encoder (BITMAPINFOHEADER,
    * bottom-up rows, 4-byte row padding, B-G-R pixel order) — pure
    * JVM, so the decode side exercises a REAL codec without any
    * native library. `pix(x, y)` is top-origin gray (B = G = R). */
  private[graft] def bmpBytes(w: Int, h: Int,
      pix: (Int, Int) => Int): Array[Byte] = {
    val rowSize = (3 * w + 3) / 4 * 4
    val fileSize = 54 + rowSize * h
    val out = new Array[Byte](fileSize)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, fileSize); le32(10, 54)           // data offset
    le32(14, 40)                              // BITMAPINFOHEADER
    le32(18, w); le32(22, h)                  // positive h = bottom-up
    out(26) = 1                               // planes
    out(28) = 24                              // bpp
    le32(30, 0)                               // BI_RGB
    le32(34, rowSize * h)
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * rowSize // bottom-up file order
      var x = 0
      while (x < w) {
        val g = (pix(x, y) & 0xff).toByte
        out(rowOff + 3 * x) = g               // B
        out(rowOff + 3 * x + 1) = g           // G
        out(rowOff + 3 * x + 2) = g           // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** The rendered image corpus: one real BMP per document, generated
    * map-side (at 100 TB this column arrives from `binaryFile`
    * ingestion — [[graft.sources.IO]]; rendering here plants a
    * corpus whose decode is provable). No shuffle, bytes never reach
    * the driver. */
  def imageBlobs(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(col("doc_id"), length(col("text")).cast("int").as("tlen"))
      .as[(Long, Int)]
      .map { case (id, tlen) =>
        MediaBlob(id, "image",
          bmpBytes(plantedW(id), plantedH(tlen), plantedGray(id, _, _)))
      }
  }

  /** Planted pixels encoded as `fmt` ("bmp" | "png" | "jpeg" — the
    * formats real corpora carry; javax.imageio bundles all three
    * writers). PNG is lossless, so the PNG corpus decodes to
    * byte-identical pixels and every pixel-level fingerprint
    * (hist/dHash/aHash/pHash) matches the gated BMP chain exactly
    * (MultimodalSpec pins it). JPEG is lossy by design — only
    * geometry (width/height/frames) is format-invariant there. */
  private[graft] def imageBytes(fmt: String, w: Int, h: Int,
      pix: (Int, Int) => Int): Array[Byte] = fmt match {
    case "bmp" => bmpBytes(w, h, pix)
    case f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = pix(x, y) & 0xff
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, f, bos),
        s"mm_encode: no ImageIO writer for format $f")
      bos.toByteArray
  }

  /** The planted corpus re-encoded per-doc by `fmtFor(doc_id)` — the
    * format-mixed corpus a real ingest sees (the decode tier below is
    * already format-agnostic: ImageIO sniffs each payload). The
    * MediaBlob.fmt column carries the true format so downstream
    * per-format routing/stats stay possible. */
  private[graft] def imageBlobsAs(spark: SparkSession, dir: String,
      fmtFor: Long => String): Dataset[MediaBlob] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(col("doc_id"), length(col("text")).cast("int").as("tlen"))
      .as[(Long, Int)]
      .map { case (id, tlen) =>
        val f = fmtFor(id)
        MediaBlob(id, f,
          imageBytes(f, plantedW(id), plantedH(tlen), plantedGray(id, _, _)))
      }
  }

  /** BMP/PNG-mixed corpus (both lossless — every pixel-level query
    * must produce identical rows to the all-BMP chain). */
  private[graft] def imageBlobsMixedLossless(spark: SparkSession,
      dir: String): Dataset[MediaBlob] =
    imageBlobsAs(spark, dir, id => if (id % 2 == 0) "bmp" else "png")

  /** REAL batched decode: javax.imageio parses each BMP's header and
    * pixel grid. Same batch integration contract as the stub
    * [[decodeBatch]] — swap-in point for any other codec. */
  private[graft] def decodeImageBatch(batch: Seq[MediaBlob]): Seq[MediaMeta] =
    batch.map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b.payload))
      require(img != null, s"mm_decode: undecodable image, doc ${b.doc_id}")
      MediaMeta(b.doc_id, b.fmt, img.getWidth, img.getHeight,
        n_frames = 1, size_bytes = b.payload.length.toLong)
    }

  /** REAL batched pixel decode → 8-bin gray histogram per image (the
    * feature-extraction stand-in over genuine decoded pixels; gray =
    * blue channel, images are rendered achromatic). */
  private[graft] def pixelHistBatch(batch: Seq[MediaBlob]): Seq[ByteHist] =
    batch.map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b.payload))
      require(img != null, s"mm_decode: undecodable image, doc ${b.doc_id}")
      val bins = new Array[Long](8)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          bins((img.getRGB(x, y) & 0xff) / 32) += 1L
          x += 1
        }
        y += 1
      }
      ByteHist(b.doc_id, bins)
    }

  /** Per-shard metadata stats over the REALLY-decoded corpus — widths
    * and heights read back out of actual BMP headers by ImageIO, then
    * declarative aggregation. Oracle-checked BY CONSTRUCTION: DuckDB
    * recomputes the planted geometry (and the BMP file-size formula
    * `54 + h·rowSize`, which doubles as a check on the encoder's
    * stride math). Map-side decode, one tiny 4-group aggregate. */
  def decodeMetaReal(spark: SparkSession, dir: String): DataFrame =
    decodeMetaRealOf(imageBlobs(spark, dir))

  /** [[decodeMetaReal]] over ANY blob source (format-agnostic —
    * ImageIO sniffs BMP/PNG/JPEG per payload; spec surface for the
    * mixed-format corpora). */
  private[graft] def decodeMetaRealOf(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeImageBatch))
      .groupBy((col("doc_id") % 4).as("shard"))
      .agg(count(lit(1)).as("n"),
        round(avg("width"), 6).as("avg_w"),
        round(avg("height"), 6).as("avg_h"),
        sum("size_bytes").as("total_bytes"))
      .orderBy("shard")
  }

  /** Corpus-wide gray histogram over REALLY-decoded pixels: batched
    * map-side decode → fixed-size per-image bins → one 8-group
    * aggregate. The oracle regenerates every pixel from the planted
    * gradient (lossless BMP ⇒ exact), so a single off-by-one in
    * stride, padding, or bottom-up row order fails the hash. */
  def pixelHistReal(spark: SparkSession, dir: String): DataFrame =
    pixelHistRealOf(imageBlobs(spark, dir))

  /** [[pixelHistReal]] over the FORMAT-MIXED lossless corpus — gated
    * against the SAME planted-pixel oracle (see
    * [[nearDupHammingMixed]]'s contract): every histogram bin must
    * come out identical whether the payload was BMP or PNG. */
  def pixelHistRealMixed(spark: SparkSession, dir: String): DataFrame =
    pixelHistRealOf(imageBlobsMixedLossless(spark, dir))

  /** [[pixelHistReal]] over ANY blob source. */
  private[graft] def pixelHistRealOf(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(pixelHistBatch))
      .select(posexplode(col("bins")))
      .select(col("pos").cast("int").as("bin"), col("col").as("cnt"))
      .groupBy("bin")
      .agg(sum("cnt").as("n_px"))
      .orderBy("bin")
  }

  // ==================================================================
  // r13 PROMOTIONS — the former stub queries re-pointed at the real
  // codec path: per-format metadata over the mixed corpus, a real
  // container walk + per-frame decode, an executed resample, pixel
  // moments, and histogram-signature near-dup over decoded pixels.
  // ==================================================================

  /** Planted frame count for the video-strip corpus (1..7 — small so
    * the uniform-stride sampler exercises every stride). */
  private[graft] def plantedFrames(docId: Long): Int = (1 + docId % 7).toInt

  /** Frames sampled per video. */
  private[graft] val FrameSampleK = 4

  /** The planted VIDEO corpus: each document renders as a strip of
    * [[plantedFrames]] concatenated single-frame BMPs — a minimal
    * real container (production video arrives as a codec stream; the
    * container-walk + per-frame-decode SHAPE is identical, and the
    * BMP file-size field makes the walk a genuine header parse, not
    * a fixed-stride split). Frame f's pixels ride
    * `plantedGray(doc_id + f, x, y)`, so the oracle regenerates every
    * sampled frame. Map-side render, bytes never reach the driver. */
  def videoBlobs(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(col("doc_id"), length(col("text")).cast("int").as("tlen"))
      .as[(Long, Int)]
      .map { case (id, tlen) =>
        val (w, h) = (plantedW(id), plantedH(tlen))
        MediaBlob(id, "video",
          (0 until plantedFrames(id))
            .map(f => bmpBytes(w, h, plantedGray(id + f, _, _)))
            .reduce(_ ++ _))
      }
  }

  /** Walk a BMP-strip container: each frame starts 'B''M' and carries
    * its own little-endian file size at offset 2 — the walk reads the
    * REAL header field, so a stride bug in the encoder (or a
    * truncated frame) fails loudly instead of desynchronizing. */
  private[graft] def splitFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var off = 0
    while (off < payload.length) {
      require(off + 6 <= payload.length &&
        payload(off) == 'B' && payload(off + 1) == 'M',
        s"mm_frames: no BMP header at container offset $off")
      val sz = (payload(off + 2) & 0xff) | ((payload(off + 3) & 0xff) << 8) |
        ((payload(off + 4) & 0xff) << 16) | ((payload(off + 5) & 0xff) << 24)
      require(sz > 0 && off + sz <= payload.length,
        s"mm_frames: frame size $sz overruns container at offset $off")
      out += java.util.Arrays.copyOfRange(payload, off, off + sz)
      off += sz
    }
    out.result()
  }

  /** REAL frame sampling, one batch: walk the container, uniform-
    * stride sample ≤ k frames (stride = ceil(n/k) — the standard way
    * a training pipeline thins video), ImageIO-decode each SAMPLED
    * frame only (never the skipped ones — at 100 TB the decode is
    * the cost), and emit its exact mean gray in integer milli-units
    * (`Σ·1000 div n_px`, truncating — both engines floor on
    * non-negative operands). */
  private[graft] def frameMeanBatch(batch: Seq[MediaBlob],
      k: Int): Seq[(Long, Int, Long)] =
    batch.flatMap { b =>
      val frames = splitFrames(b.payload)
      val n = frames.length
      val stride = (n + k - 1) / k
      (0 until n by stride).map { fi =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(frames(fi)))
        require(img != null, s"mm_frames: undecodable frame $fi, doc ${b.doc_id}")
        var s = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { s += img.getRGB(x, y) & 0xff; x += 1 }
          y += 1
        }
        (b.doc_id, fi, s * 1000L / (img.getWidth.toLong * img.getHeight))
      }
    }

  /** Per-sampled-frame table over the really-decoded video strips —
    * map-side batched container walk + decode, no shuffle; one strip
    * fans out to ≤ [[FrameSampleK]] frame rows. Oracle regenerates
    * each sampled frame's planted pixels and the stride rule. */
  def frameSampleReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoBlobs(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize)
        .flatMap(frameMeanBatch(_, FrameSampleK)))
      .toDF("doc_id", "frame_idx", "mean_milli")
      .sortWithinPartitions("doc_id", "frame_idx")
  }

  /** Generated DuckDB oracle for [[frameSampleReal]]: planted frame
    * count, the ceil-stride sampling rule, and every sampled frame's
    * mean gray regenerated from the planted gradient. */
  def frameSampleRealOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h,
              1 + doc_id % 7 AS n FROM documents),
       f AS (SELECT doc_id, w, h, fi FROM d, generate_series(0, 6) g(fi)
             WHERE fi < n AND fi % ((n + ${FrameSampleK - 1}) // $FrameSampleK) = 0),
       px AS (SELECT doc_id, fi,
                CAST(sum((x * 7 + y * 13 + (doc_id + fi) * 31) % 256) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS np
              FROM f, generate_series(0, 30) gx(x), generate_series(0, 22) gy(y)
              WHERE x < w AND y < h GROUP BY 1, 2)
       SELECT doc_id, CAST(fi AS INT) AS frame_idx,
              s * 1000 // np AS mean_milli
       FROM px ORDER BY doc_id, frame_idx"""

  /** REAL resize, one batch: decode, derive the fit-into-224×224
    * aspect-preserving plan (integer div), then EXECUTE the resample
    * — nearest-neighbor `src = dst·dim div new_dim`, the same integer
    * mapping the perceptual-hash thumbnails use — and emit the
    * resized image's exact gray checksum, so the oracle proves the
    * resample ran over real decoded pixels (a planning-only pass
    * can't produce it). One bounded row per image, map-side. */
  private[graft] def resizeBatch(
      batch: Seq[MediaBlob]): Seq[(Long, Int, Int, Int, Int, Long)] =
    batch.map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b.payload))
      require(img != null, s"mm_resize: undecodable image, doc ${b.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      val (nw, nh) =
        if (w >= h) (224, h * 224 / w) else (w * 224 / h, 224)
      // UPSCALING (the planted corpus: sources ≤ 31×23 → ≥ 224 on the
      // long side): read each SOURCE pixel once into a flat array
      // (≤ w·h getRGB calls — each pays a ColorModel conversion), then
      // let the resample loop (nw·nh ≈ 224² reads, a ~70× read
      // amplification on these small sources) hit the array instead of
      // re-decoding the same pixel through getRGB per target cell.
      // Same pixels, same integer mapping — the checksum is
      // bit-identical (hash-gated); measured ~3× on mm_resize.
      // DOWNSCALING or pathological dimensions (r13 ADVICE: a large
      // source pays w·h prefetch reads for ≤ nw·nh ≤ 224² uses, and
      // w·h can overflow Int): only prefetch when the source is small
      // enough that every pixel is plausibly read; otherwise getRGB
      // per TARGET cell — fewer reads by construction, no w·h alloc.
      var sum = 0L
      if (w.toLong * h <= nw.toLong * nh) {
        val src = new Array[Int](w * h)
        var sy = 0
        while (sy < h) {
          var sx = 0
          while (sx < w) {
            src(sy * w + sx) = img.getRGB(sx, sy) & 0xff
            sx += 1
          }
          sy += 1
        }
        var ty = 0
        while (ty < nh) {
          val row = (ty * h / nh) * w
          var tx = 0
          while (tx < nw) {
            sum += src(row + tx * w / nw)
            tx += 1
          }
          ty += 1
        }
      } else {
        var ty = 0
        while (ty < nh) {
          val sy = ty * h / nh
          var tx = 0
          while (tx < nw) {
            sum += img.getRGB(tx * w / nw, sy) & 0xff
            tx += 1
          }
          ty += 1
        }
      }
      (b.doc_id, w, h, nw, nh, sum)
    }

  /** The executed-resize table over the really-decoded corpus. */
  def resizeReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageBlobs(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(resizeBatch))
      .toDF("doc_id", "width", "height", "new_w", "new_h", "checksum")
      .sortWithinPartitions("doc_id")
  }

  /** Generated DuckDB oracle for [[resizeReal]]: planted geometry,
    * the integer fit plan, and the checksum regenerated through the
    * identical nearest-neighbor source mapping. */
  def resizeRealOracleSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents),
       r AS (SELECT doc_id, w, h,
               CASE WHEN w >= h THEN 224 ELSE (w * 224) // h END AS nw,
               CASE WHEN w >= h THEN (h * 224) // w ELSE 224 END AS nh
             FROM d),
       s AS (SELECT doc_id, w, h, nw, nh,
               CAST(sum(((tx * w // nw) * 7 + (ty * h // nh) * 13
                         + doc_id * 31) % 256) AS BIGINT) AS checksum
             FROM r, generate_series(0, 223) gx(tx), generate_series(0, 223) gy(ty)
             WHERE tx < nw AND ty < nh GROUP BY 1, 2, 3, 4, 5)
       SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
              CAST(nw AS INT) AS new_w, CAST(nh AS INT) AS new_h, checksum
       FROM s ORDER BY doc_id"""

  /** REAL pixel moments, one batch: count, sum, and sum-of-squares of
    * the decoded gray values — the exact-integer feature vector a
    * quality gate reads (mean/variance derive from them without any
    * cross-engine float), plus the floor mean in milli-units. */
  private[graft] def momentsBatch(
      batch: Seq[MediaBlob]): Seq[(Long, Long, Long, Long, Long)] =
    batch.map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b.payload))
      require(img != null, s"mm_features: undecodable image, doc ${b.doc_id}")
      var (n, s, s2) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val g = img.getRGB(x, y) & 0xff
          n += 1; s += g; s2 += g.toLong * g
          x += 1
        }
        y += 1
      }
      (b.doc_id, n, s, s2, s * 1000L / n)
    }

  /** Per-image moment features over the really-decoded corpus —
    * map-side batched decode, one fixed-size row per image. */
  def pixelMomentsReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageBlobs(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(momentsBatch))
      .toDF("doc_id", "n_px", "sum_gray", "sum_sq", "mean_milli")
      .sortWithinPartitions("doc_id")
  }

  /** Generated DuckDB oracle for [[pixelMomentsReal]]. */
  def pixelMomentsRealOracleSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents),
       p AS (SELECT doc_id, (x * 7 + y * 13 + doc_id * 31) % 256 AS g
             FROM d, generate_series(0, 30) gx(x), generate_series(0, 22) gy(y)
             WHERE x < w AND y < h)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
              CAST(sum(g) AS BIGINT) AS sum_gray,
              CAST(sum(g * g) AS BIGINT) AS sum_sq,
              CAST(sum(g) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT)
                AS mean_milli
       FROM p GROUP BY doc_id ORDER BY doc_id"""

  /** Per-FORMAT metadata stats over the really-decoded MIXED corpus
    * (even doc_ids BMP, odd PNG) — the per-format routing profile an
    * ingest pipeline reads first. Geometry comes out of real headers
    * (ImageIO sniffs each payload); total_px instead of total_bytes
    * because a PNG's encoded length is codec-dependent (not
    * plantable), while its pixel grid is — the oracle stays
    * generated. */
  def metaStatsMixed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{avg, count, round, sum}
    val blobs = imageBlobsMixedLossless(spark, dir)
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeImageBatch))
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n"),
        round(avg("width"), 6).as("avg_w"),
        round(avg("height"), 6).as("avg_h"),
        sum(col("width").cast("long") * col("height")).as("total_px"))
      .orderBy("fmt")
  }

  /** Generated DuckDB oracle for [[metaStatsMixed]]. */
  def metaStatsMixedOracleSql: String =
    """WITH d AS (SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
              8 + doc_id % 24 AS w, 8 + length(text) % 16 AS h
            FROM documents)
       SELECT fmt, count(*) AS n,
              round(avg(w), 6) AS avg_w, round(avg(h), 6) AS avg_h,
              CAST(sum(w * h) AS BIGINT) AS total_px
       FROM d GROUP BY fmt ORDER BY fmt"""

  /** REAL perceptual hash — the decode → resample → fingerprint chain
    * every image-dedup pipeline runs, on genuine pixels: each decoded
    * BMP is thumbnailed to a fixed 8×8 grid by nearest-neighbor
    * (`src = thumb·dim div 8` — the integer resample that consumes
    * [[resizeSpecs]]-style planning), then dHash'd: bit (x, y) = 1
    * iff thumb(x+1, y) > thumb(x, y), 7×8 = 56 bits (BIGINT-safe).
    * Per-image state is ONE long however large the payload; the
    * whole chain is map-side batched decode, no shuffle. */
  private[graft] def dhashBatch(batch: Seq[MediaBlob]): Seq[(Long, Long)] =
    batch.map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b.payload))
      require(img != null, s"mm_dhash: undecodable image, doc ${b.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      def g(tx: Int, ty: Int): Int =
        img.getRGB(tx * w / 8, ty * h / 8) & 0xff
      var hash = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 7) {
          if (g(x + 1, y) > g(x, y)) hash |= 1L << (y * 7 + x)
          x += 1
        }
        y += 1
      }
      (b.doc_id, hash)
    }

  /** The dHash fingerprint table over the really-decoded corpus —
    * joins into [[nearDupMedia]]-style grouping downstream (equal
    * hashes ⇒ near-identical luminance structure). Oracle regenerates
    * each of the 56 comparison bits from the planted gradient through
    * the SAME integer thumbnail mapping. */
  def mediaDhash(spark: SparkSession, dir: String): DataFrame =
    mediaDhashOf(imageBlobs(spark, dir))

  /** [[mediaDhash]] over ANY blob source. */
  private[graft] def mediaDhashOf(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(dhashBatch))
      .toDF("doc_id", "dhash")
      .sortWithinPartitions("doc_id")
  }

  /** Near-duplicate detection over the REAL perceptual hashes — the
    * [[nearDupMedia]] grouping shape applied to [[mediaDhash]]: equal
    * 56-bit fingerprints (near-identical luminance structure in the
    * genuinely decoded thumbnails) fall out of ONE groupBy; no
    * pairwise compare, payloads never shuffle. */
  def nearDupDhash(spark: SparkSession, dir: String): DataFrame =
    mediaDhash(spark, dir)
      .groupBy(col("dhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)
      .sortWithinPartitions("dhash")

  /** Generated DuckDB oracle for [[nearDupDhash]] — the dHash oracle
    * regrouped. */
  def nearDupDhashOracleSql: String =
    s"""WITH h AS (${mediaDhashOracleSql.replace("ORDER BY doc_id", "")})
       SELECT dhash, count(*) AS n_docs, min(doc_id) AS keep_id
       FROM h GROUP BY dhash HAVING count(*) > 1 ORDER BY dhash"""

  /** REAL aHash — the MEAN-THRESHOLD perceptual fingerprint that
    * completes the trio ([[dhashBatch]] reads local gradients,
    * [[phashBatch]] global frequencies; aHash reads absolute
    * brightness — the cheapest and the one most robust to small
    * translations): bit (x, y) = 1 iff thumb(x, y) > mean(thumb),
    * with the integer floor mean (`Σ div 64`) so no float enters.
    * 63 bits — position (7,7) is dropped to stay BIGINT-safe (the
    * 56-bit dHash discipline; bit 63 would be the long's sign).
    * Same zero-exchange batched decode chain. */
  private[graft] def ahashBatch(batch: Seq[MediaBlob]): Seq[(Long, Long)] =
    batch.map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b.payload))
      require(img != null, s"mm_ahash: undecodable image, doc ${b.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      val t = Array.tabulate(8, 8)((y, x) => img.getRGB(x * w / 8, y * h / 8) & 0xff)
      var s = 0L
      var y = 0
      while (y < 8) { var x = 0; while (x < 8) { s += t(y)(x); x += 1 }; y += 1 }
      val mean = s / 64
      var hash = 0L
      y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val bit = y * 8 + x
          if (bit < 63 && t(y)(x) > mean) hash |= 1L << bit
          x += 1
        }
        y += 1
      }
      (b.doc_id, hash)
    }

  /** The aHash fingerprint table over the really-decoded corpus. */
  def mediaAhash(spark: SparkSession, dir: String): DataFrame =
    mediaAhashOf(imageBlobs(spark, dir))

  /** [[mediaAhash]] over ANY blob source. */
  private[graft] def mediaAhashOf(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(ahashBatch))
      .toDF("doc_id", "ahash")
      .sortWithinPartitions("doc_id")
  }

  /** Generated DuckDB oracle for [[mediaAhash]] — every thumbnail
    * pixel regenerated from the planted gradient through the same
    * integer resample, the same floor mean, the same 63-bit pack. */
  val mediaAhashOracleSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents),
       t AS (SELECT doc_id, x, y,
               ((x * w // 8) * 7 + (y * h // 8) * 13 + doc_id * 31) % 256 AS v
             FROM d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
       m AS (SELECT doc_id, CAST(sum(v) AS BIGINT) // 64 AS mean
             FROM t GROUP BY 1),
       b AS (SELECT t.doc_id,
               CASE WHEN y * 8 + x < 63 AND v > m.mean
                    THEN (CAST(1 AS BIGINT) << (y * 8 + x)) ELSE 0 END AS bit
             FROM t JOIN m ON m.doc_id = t.doc_id)
       SELECT doc_id, CAST(sum(bit) AS BIGINT) AS ahash
       FROM b GROUP BY doc_id ORDER BY doc_id"""

  /** Fixed-point 8×8 DCT-II basis, scale 2¹⁶, orthonormal s(u)
    * factors folded in: `B(u)(x) = round(s(u)·cos((2x+1)uπ/16)·2¹⁶)`.
    * Generated ONCE here and embedded as literals in the oracle, so
    * the two engines share the identical integer matrix by
    * construction (the LSH-hyperplane discipline). */
  private[graft] val DctB: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
    val s = if (u == 0) math.sqrt(1.0 / 8) else math.sqrt(2.0 / 8)
    math.round(s * math.cos((2 * x + 1) * u * math.Pi / 16) * 65536.0)
  }

  /** REAL pHash — the DCT perceptual fingerprint ([[dhashBatch]]'s
    * frequency-domain sibling, the other hash every image-dedup
    * pipeline ships): decode → 8×8 nearest-neighbor thumbnail →
    * integer 2D DCT-II ([[DctB]] fixed point — every coefficient is
    * an exact BIGINT sum of g·B·B products, ≤ 2⁴⁴) → one bit per
    * non-DC coefficient vs the lower MEDIAN of the 63 (selection by
    * the (value, u, v) total order — deterministic under ties).
    * 63 bits, one long per image, map-side batched decode. */
  private[graft] def phashBatch(batch: Seq[MediaBlob]): Seq[(Long, Long)] =
    batch.map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b.payload))
      require(img != null, s"mm_phash: undecodable image, doc ${b.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      val g = Array.tabulate(8, 8)((x, y) =>
        (img.getRGB(x * w / 8, y * h / 8) & 0xff).toLong)
      val coefs = for {
        u <- 0 until 8; v <- 0 until 8 if !(u == 0 && v == 0)
      } yield {
        var c = 0L
        var x = 0
        while (x < 8) {
          var y = 0
          while (y < 8) {
            c += g(x)(y) * DctB(u)(x) * DctB(v)(y)
            y += 1
          }
          x += 1
        }
        (u, v, c)
      }
      val med = coefs.sortBy(t => (t._3, t._1, t._2)).apply(31)._3
      var hv = 0L
      coefs.foreach { case (u, v, c) =>
        if (c > med) hv |= 1L << (u * 8 + v - 1)
      }
      (b.doc_id, hv)
    }

  /** The pHash fingerprint table over the really-decoded corpus —
    * [[mediaDhash]]'s DCT sibling; the oracle regenerates every
    * planted pixel AND replays the integer DCT with the same
    * embedded basis. */
  def mediaPhash(spark: SparkSession, dir: String): DataFrame =
    mediaPhashOf(imageBlobs(spark, dir))

  /** [[mediaPhash]] over ANY blob source. */
  private[graft] def mediaPhashOf(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(phashBatch))
      .toDF("doc_id", "phash")
      .sortWithinPartitions("doc_id")
  }

  /** Generated DuckDB oracle for [[mediaPhash]]: planted-geometry
    * thumbnail pixels × the embedded basis literals, lower-median
    * selection by (value, u, v), bit-packed. */
  def mediaPhashOracleSql: String = {
    val basis = (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${DctB(u)(x)})").mkString(", ")
    s"""WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents),
       g AS (SELECT doc_id,
               x, y,
               (((x * w // 8) * 7 + (y * h // 8) * 13
                 + doc_id * 31) % 256) AS px
             FROM d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
       bq AS (SELECT * FROM (VALUES $basis) AS t(u, x, bv)),
       coef AS (SELECT g.doc_id, bu.u, bv.u AS v,
                       CAST(sum(g.px * bu.bv * bv.bv) AS BIGINT) AS c
                FROM g JOIN bq bu ON bu.x = g.x
                       JOIN bq bv ON bv.x = g.y
                GROUP BY 1, 2, 3),
       lf AS (SELECT doc_id, u, v, c FROM coef WHERE NOT (u = 0 AND v = 0)),
       med AS (SELECT doc_id, c AS mval FROM (
                 SELECT doc_id, c,
                        row_number() OVER (PARTITION BY doc_id
                          ORDER BY c, u, v) AS rn
                 FROM lf) WHERE rn = 32)
       SELECT lf.doc_id,
              CAST(sum(CASE WHEN lf.c > med.mval
                       THEN (CAST(1 AS BIGINT) << (lf.u * 8 + lf.v - 1))
                       ELSE 0 END) AS BIGINT) AS phash
       FROM lf JOIN med ON med.doc_id = lf.doc_id
       GROUP BY lf.doc_id ORDER BY lf.doc_id"""
  }

  /** Generated DuckDB oracle for [[nearDupPhash]] — the pHash oracle
    * chunk-bucketed and xor-verified over its 63 bits. */
  def nearDupPhashOracleSql: String = {
    val n = 4 // maxHamming 3 + 1
    val chunkArms = (0 until n).map { c =>
      val lo = c * 63 / n
      val width = (c + 1) * 63 / n - lo
      s"'$c#' || CAST(((phash >> $lo) & ${(1L << width) - 1}) AS VARCHAR)"
    }.mkString(", ")
    s"""WITH h AS (${mediaPhashOracleSql.replace("ORDER BY lf.doc_id", "")}),
       chunks AS (SELECT doc_id, phash, unnest([$chunkArms]) AS ck FROM h),
       pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                        bit_count(xor(a.phash, b.phash)) AS hamming
                 FROM chunks a JOIN chunks b
                   ON a.ck = b.ck AND a.doc_id < b.doc_id)
       SELECT d1, d2, hamming FROM pairs
       WHERE hamming <= 3 ORDER BY d1, d2"""
  }

  /** The mean-threshold member: [[mediaAhash]] fingerprints through
    * the same chunk-bucket probe (63 hash bits) — completing the
    * Hamming-tolerant trio (gradient dHash, frequency pHash, mean
    * aHash fail on DIFFERENT perturbations, so production pipelines
    * run all three and union the verdicts). */
  def nearDupAhash(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    nearDupHammingOf(
      mediaAhash(spark, dir).select(col("doc_id"),
        col("ahash").as("dhash")), maxHamming, bits = 63)

  /** Generated DuckDB oracle for [[nearDupAhash]] — the aHash oracle
    * chunk-bucketed and xor-verified. */
  def nearDupAhashOracleSql: String = {
    val n = 4 // maxHamming 3 + 1
    val chunkArms = (0 until n).map { c =>
      val lo = c * 63 / n
      val width = (c + 1) * 63 / n - lo
      s"'$c#' || CAST(((ahash >> $lo) & ${(1L << width) - 1}) AS VARCHAR)"
    }.mkString(", ")
    s"""WITH h AS (${mediaAhashOracleSql.replace("ORDER BY doc_id", "")}),
       chunks AS (SELECT doc_id, ahash, unnest([$chunkArms]) AS ck FROM h),
       pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                        bit_count(xor(a.ahash, b.ahash)) AS hamming
                 FROM chunks a JOIN chunks b
                   ON a.ck = b.ck AND a.doc_id < b.doc_id)
       SELECT d1, d2, hamming FROM pairs
       WHERE hamming <= 3 ORDER BY d1, d2"""
  }

  /** HAMMING-TOLERANT perceptual near-dup — [[nearDupDhash]] catches
    * only bit-exact fingerprints; real near-dups (recompressed,
    * slightly cropped, brightness-jittered copies) land a few bits
    * away. Pigeonhole chunk bucketing, the [[Dedup.simhashDf]]
    * discipline applied to the 56-bit dHash: split the hash into
    * `maxHamming + 1` disjoint chunks — two hashes within Hamming ≤
    * maxHamming must agree on at least one chunk — bucket-join on
    * chunk equality, then verify candidates with one codegen'd
    * `bit_count(xor)`. No pairwise compare, payloads never shuffle;
    * candidate volume is bounded by bucket occupancy (14-bit chunks),
    * exactly the LSH-style bound that survives a 100× corpus. */
  def nearDupHamming(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    nearDupHammingOf(
      mediaDhash(spark, dir).select(col("doc_id"), col("dhash")), maxHamming)

  /** [[nearDupHamming]] over the FORMAT-MIXED lossless corpus (even
    * doc_ids BMP, odd PNG): ImageIO sniffs each payload, and PNG
    * decodes to byte-identical pixels, so this query is gated against
    * the SAME planted-pixel oracle as the all-BMP chain — the
    * driver's hash gate itself (not just MultimodalSpec's parity pin)
    * proves the PNG decode path end to end. A lossy format in the mix
    * (JPEG) would hash-fail here by design. */
  def nearDupHammingMixed(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    nearDupHammingOf(
      mediaDhashOf(imageBlobsMixedLossless(spark, dir))
        .select(col("doc_id"), col("dhash")), maxHamming)

  /** The DCT twin: [[mediaPhash]] fingerprints through the same
    * chunk-bucket probe (63 hash bits). A dHash-tolerant AND a
    * pHash-tolerant pass together are the standard production pair —
    * gradient structure and frequency structure fail differently. */
  def nearDupPhash(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    nearDupHammingOf(
      mediaPhash(spark, dir).select(col("doc_id"),
        col("phash").as("dhash")), maxHamming, bits = 63)

  /** The chunk-bucket probe over ANY (doc_id, dhash) table
    * (spec surface; [[nearDupHamming]]/[[nearDupPhash]] derive the
    * hashes inline; `bits` = fingerprint width the chunks cover). */
  private[graft] def nearDupHammingOf(hashes: DataFrame,
      maxHamming: Int, bits: Int = 56): DataFrame = {
    val n = maxHamming + 1
    val chunked = hashes.select(col("doc_id"), col("dhash"),
      explode(dhashChunks(col("dhash"), n, bits)).as("ck"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        graft.functions.Shingles.hamming(col("a.dhash"), col("b.dhash"))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .sortWithinPartitions("d1", "d2")
  }

  /** The `n` disjoint contiguous chunks of a `bits`-wide hash, as
    * prefixed string keys (chunk c covers bits [c·bits/n, (c+1)·bits/n)
    * — together they cover all bits, the pigeonhole premise). */
  private def dhashChunks(h: Column, n: Int, bits: Int): Column =
    array((0 until n).map { c =>
      val lo = c * bits / n
      val width = (c + 1) * bits / n - lo
      concat(lit(s"$c#"),
        shiftright(h, lo).bitwiseAND(lit((1L << width) - 1)).cast("string"))
    }: _*)

  /** Generated DuckDB oracle for [[nearDupHamming]] — the dHash
    * oracle chunk-bucketed and xor-verified (the bucket rule IS the
    * operator's semantics, so the oracle replays it). */
  def nearDupHammingOracleSql: String = {
    val n = 4 // maxHamming 3 + 1
    val chunkArms = (0 until n).map { c =>
      val lo = c * 56 / n
      val width = (c + 1) * 56 / n - lo
      s"'$c#' || CAST(((dhash >> $lo) & ${(1L << width) - 1}) AS VARCHAR)"
    }.mkString(", ")
    s"""WITH h AS (${mediaDhashOracleSql.replace("ORDER BY doc_id", "")}),
       chunks AS (SELECT doc_id, dhash, unnest([$chunkArms]) AS ck FROM h),
       pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                        bit_count(xor(a.dhash, b.dhash)) AS hamming
                 FROM chunks a JOIN chunks b
                   ON a.ck = b.ck AND a.doc_id < b.doc_id)
       SELECT d1, d2, hamming FROM pairs
       WHERE hamming <= 3 ORDER BY d1, d2"""
  }

  /** Generated DuckDB oracle for [[mediaDhash]]. */
  def mediaDhashOracleSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents),
       b AS (SELECT doc_id,
               CASE WHEN (((x + 1) * w // 8) * 7 + (y * h // 8) * 13
                          + doc_id * 31) % 256
                       > ((x * w // 8) * 7 + (y * h // 8) * 13
                          + doc_id * 31) % 256
                    THEN (CAST(1 AS BIGINT) << (y * 7 + x)) ELSE 0 END AS bit
             FROM d, generate_series(0, 6) gx(x), generate_series(0, 7) gy(y))
       SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
       FROM b GROUP BY doc_id ORDER BY doc_id"""

  /** Generated DuckDB oracle for [[decodeMetaReal]]: the planted
    * geometry + the BMP size formula. */
  def decodeMetaRealOracleSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents)
       SELECT doc_id % 4 AS shard, count(*) AS n,
              round(avg(w), 6) AS avg_w, round(avg(h), 6) AS avg_h,
              CAST(sum(54 + h * ((3 * w + 3) // 4 * 4)) AS BIGINT) AS total_bytes
       FROM d GROUP BY shard ORDER BY shard"""

  /** Generated DuckDB oracle for [[pixelHistReal]]: regenerate every
    * planted pixel (bounded series cross join, filtered to each
    * image's true extent) and histogram it. */
  def pixelHistRealOracleSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents),
       p AS (SELECT ((x * 7 + y * 13 + doc_id * 31) % 256) // 32 AS bin
             FROM d, generate_series(0, 30) gx(x), generate_series(0, 22) gy(y)
             WHERE x < w AND y < h)
       SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n_px
       FROM p GROUP BY bin ORDER BY bin"""

  /** Quantized-histogram signature for one image: per-mille bin
    * shares floored to buckets of `q` per-mille, absent bins skipped,
    * joined `-` in bin order. Pure integer arithmetic — the DuckDB
    * oracle rebuilds the identical string. Two images whose byte
    * distributions differ by less than the bucket width collide —
    * that's the point: collision = near-duplicate. */
  private[graft] def histSig(bins: Array[Long], q: Int): String = {
    val n = bins.sum
    bins.filter(_ > 0).map(c => (c * 1000 / n) / q).mkString("-")
  }

  /** Near-duplicate media detection — the multimodal twin of
    * [[Dedup]]'s text operators, over REAL decoded pixels: partition-
    * wise batched decode → 8-bin gray histogram per image
    * ([[pixelHistBatch]]) → a per-image quantized signature computed
    * MAP-SIDE (fixed-size state per image regardless of payload
    * bytes) → one groupBy on the short signature string. No pairwise
    * compare anywhere: like SimHash bucketing, duplicate sets fall
    * out of an exact group-by on the quantized signature, so the
    * shuffle carries |images| signature rows, not payloads, and
    * never N². Distribution-level (coarser than the bit-level
    * d/a/pHash trio — a brightness-profile blocking key, the first
    * cheap pass a media-dedup pipeline runs). */
  def nearDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageBlobs(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(pixelHistBatch))
      .map(h => (h.doc_id, histSig(h.bins, 25)))
      .toDF("doc_id", "sig")
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)
      .sortWithinPartitions("sig")
  }

  /** Generated DuckDB oracle for [[nearDupMedia]]: per-image 8-bin
    * histogram regenerated from the planted pixels, the identical
    * integer signature arithmetic (per-mille share // 25, absent bins
    * skipped, '-'-joined in bin order), grouped. */
  def nearDupMediaOracleSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
              8 + length(text) % 16 AS h FROM documents),
       p AS (SELECT doc_id,
               ((x * 7 + y * 13 + doc_id * 31) % 256) // 32 AS bin
             FROM d, generate_series(0, 30) gx(x), generate_series(0, 22) gy(y)
             WHERE x < w AND y < h),
       hb AS (SELECT doc_id, bin, count(*) AS cnt FROM p GROUP BY 1, 2),
       tot AS (SELECT doc_id, sum(cnt) AS n FROM hb GROUP BY 1),
       sg AS (SELECT hb.doc_id,
                     string_agg(CAST((cnt * 1000 // n) // 25 AS VARCHAR),
                                '-' ORDER BY bin) AS sig
              FROM hb JOIN tot ON hb.doc_id = tot.doc_id
              GROUP BY hb.doc_id)
       SELECT sig, count(*) AS n_docs, min(doc_id) AS keep_id
       FROM sg GROUP BY sig HAVING count(*) > 1 ORDER BY sig"""

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // REAL decode: per-format metadata over the BMP/PNG-mixed corpus,
    // a real container walk + per-frame decode, an EXECUTED
    // checksummed resample, exact pixel moments, and
    // histogram-signature near-dup over decoded pixels. Each oracle
    // recomputes what the codec MUST yield from the planted
    // geometry/pixels (generated from Multimodal's single source of
    // truth), so a header-parse, container-walk, resample, or moment
    // bug on either side fails the hash.
    Query("mm_meta_stats", metaStatsMixed, metaStatsMixedOracleSql),
    Query("mm_frame_sample", frameSampleReal, frameSampleRealOracleSql),
    Query("mm_resize", resizeReal, resizeRealOracleSql),
    Query("mm_features", pixelMomentsReal, pixelMomentsRealOracleSql),
    Query("mm_dedup", nearDupMedia, nearDupMediaOracleSql),
    // REAL-decode pair: the Spark side renders genuine BMP bytes and
    // decodes them with javax.imageio; these oracles recompute what
    // the decode MUST yield from the planted geometry (generated from
    // Multimodal's single source of truth — BMP is lossless, so a
    // stride/padding/row-order bug on either side fails the hash).
    Query("mm_decode_meta", decodeMetaReal, decodeMetaRealOracleSql),
    Query("mm_decode_hist", pixelHistReal, pixelHistRealOracleSql),
    // decode → 8x8 nearest-neighbor thumbnail → 56-bit dHash, all on
    // genuine decoded pixels; oracle rebuilds every comparison bit
    // through the same integer resample mapping
    Query("mm_dhash", mediaDhash, mediaDhashOracleSql),
    Query("mm_phash", mediaPhash, mediaPhashOracleSql),
    Query("mm_ahash", mediaAhash, mediaAhashOracleSql),
    Query("mm_dedup_real", nearDupDhash, nearDupDhashOracleSql),
    Query("mm_dedup_hamming", (s, d) => nearDupHamming(s, d), nearDupHammingOracleSql),
    // the same chain over a half-BMP/half-PNG corpus — the hash gate
    // itself proves the PNG decode path (lossless ⇒ same oracle)
    // the mixed BMP/PNG corpus is gated against the IDENTICAL
    // planted-pixel oracles — lossless decode means format-invariant
    // rows, so a PNG-path bug hash-fails at the oracle gate
    Query("mm_dedup_hamming_mixed", (s, d) => nearDupHammingMixed(s, d), nearDupHammingOracleSql),
    Query("mm_decode_hist_mixed", pixelHistRealMixed, pixelHistRealOracleSql),
    Query("mm_dedup_phash", (s, d) => nearDupPhash(s, d), nearDupPhashOracleSql),
    Query("mm_dedup_ahash", (s, d) => nearDupAhash(s, d), nearDupAhashOracleSql),
  )
}

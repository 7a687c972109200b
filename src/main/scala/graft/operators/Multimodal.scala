package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2, m01–m04): treat
  * image/audio/video payloads as opaque `binary` columns with a typed
  * metadata struct, and run decode/feature-extraction as a typed
  * per-partition batch transform (`mapPartitions`, the Scala analogue
  * of `mapInPandas` batches).
  *
  * The image path (m04) is a REAL codec: `javax.imageio` PNG
  * encode/decode + integer nearest-neighbor resize, JDK-only — no
  * external media libraries needed. Audio/video (m02 byte features,
  * m03 frame windows) remain codec-free byte-level transforms in the
  * same batch shape, since the JDK ships no audio/video codecs.
  */
object Multimodal {

  /** One media object entering the decode stage. */
  case class MediaRow(doc_id: Long, payload: Array[Byte], mime: String)

  /** Decode output: fixed-shape features + header stats. */
  case class DecodedRow(doc_id: Long, mime: String, n_bytes: Int,
                        header_sum: Int, features: Array[Double])

  /** m01: attach a binary payload + typed metadata struct to each
    * document (documents play the role of media objects; the payload is
    * the text's bytes so every derived value is oracle-checkable).
    * Narrow projection — stays in WholeStageCodegen, no shuffle. */
  def binaryWithMeta(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        when(pmod(col("doc_id"), lit(3)) === 0, "image/png")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        (pmod(col("n_chars"), lit(64)) * 16).cast("int").as("width"),
        (pmod(col("n_chars"), lit(48)) * 16).cast("int").as("height")).as("meta"))

  /** m01 verification projection: unpack the struct + payload digest —
    * proves the binary round-trips byte-exactly (md5 parity with the
    * DuckDB oracle) and the struct fields are typed/addressable. */
  def binaryMetaSummary(documents: DataFrame): DataFrame =
    binaryWithMeta(documents).select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("digest"))

  /** m02: codec-free byte-level feature extraction — a header checksum
    * over the first 16 bytes (container-parsing stand-in for formats
    * the JDK has no codec for: audio PCM, video) and an 8-bucket
    * normalized byte histogram as the fixed-shape feature vector.
    * Deliberately pure byte math so the DuckDB oracle can recompute it
    * exactly; the REAL codec path for images is [[decodeImages]] (m04).
    *
    * The plumbing is the shared contract: a typed `Dataset[MediaRow] →
    * Dataset[DecodedRow]` per-partition batch transform —
    * `mapPartitions` receives each partition as one iterator (the batch
    * shape `mapInPandas` gives Python codecs), is partition-preserving
    * (no shuffle — decode parallelism = input partitioning, set
    * upstream by `repartition` on whatever key balances media sizes),
    * and codec state (dictionaries, model weights) can be initialized
    * once per partition before the row loop. */
  def byteFeatures(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // per-partition init would go here (codec contexts, buffers)
      batch.map { m =>
        val bytes = if (m.payload == null) Array.emptyByteArray else m.payload
        val headerSum = bytes.take(16).map(_ & 0xff).sum
        val hist = new Array[Double](8)
        bytes.foreach(b => hist((b & 0xff) / 32) += 1.0)
        val n = math.max(bytes.length, 1).toDouble
        DecodedRow(m.doc_id, m.mime, bytes.length, headerSum, hist.map(_ / n))
      }
    }
  }

  /** One sampled frame leaving the frame-extraction stage. */
  case class FrameRow(doc_id: Long, frame_idx: Int, byte_offset: Int,
                      n_bytes: Int, frame_hash: String)

  /** m03: video frame sampling — every `stride` bytes, take a
    * `frameSize`-byte window, up to `maxFrames` per object. In
    * production the window is a container-aware keyframe extraction
    * (the codec seeks to sample points and decodes one frame); the
    * STUB takes the raw byte window — same plumbing, same shape,
    * deterministic, so the oracle can verify every sampled window
    * byte-for-byte via its digest.
    *
    * Same per-partition batch contract as [[byteFeatures]]: typed
    * `Dataset → Dataset`, partition-preserving (no shuffle; frame
    * parallelism = input partitioning), codec/digest state initialized
    * once per partition, and the fan-out is streamed through the
    * iterator — a 2-hour video never materializes all its frames in
    * memory at once. */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int = 32,
                   stride: Int = 64, maxFrames: Int = 4): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val md = java.security.MessageDigest.getInstance("MD5") // per-partition init
      batch.flatMap { m =>
        val bytes = if (m.payload == null) Array.emptyByteArray else m.payload
        (0 until maxFrames).iterator
          .map(i => (i, i * stride))
          .takeWhile(_._2 < bytes.length)
          .map { case (i, off) =>
            val fr = bytes.slice(off, math.min(off + frameSize, bytes.length))
            md.reset()
            val hex = graft.Exact.hex(md.digest(fr))
            FrameRow(m.doc_id, i, off, fr.length, hex)
          }
      }
    }
  }

  /** One decoded image leaving the real-codec decode stage. */
  case class ImageRow(doc_id: Long, width: Int, height: Int, n_bytes: Int,
                      pixel_md5: String, mean_luma: Double)

  /** Deterministic PNG synthesis: payload bytes → a REAL PNG through
    * the REAL `javax.imageio` encoder. The container ships no sample
    * media, so test/bench images are derived from document bytes —
    * but unlike m02's codec-free byte features, everything downstream
    * of this stage exercises the true codec: the emitted payload is a
    * spec-compliant PNG container whose pixels are the payload bytes
    * laid out row-major in RGB (width/height derived from the byte
    * count, so geometry round-trips are meaningful).
    *
    * Same per-partition batch contract as [[byteFeatures]]: encoder
    * buffers initialized once per partition, partition-preserving,
    * streamed through the iterator. */
  /** The image synthesis LAW — the pure payload-bytes → pixels
    * function [[encodePng]] renders through the real codec. Factored
    * out (round-13) so the GOLDEN ORACLE generator
    * ([[graft.GoldenGen]]) can state the expected decode output from
    * the same single definition WITHOUT touching the decoder: golden
    * values derive from this law, the declared query derives them
    * from encode(law) → real-codec decode, and the driver's hash
    * compare of the two IS the codec round-trip proof. Returns
    * (width, height, packed 0xRRGGBB pixels row-major). */
  private[graft] def imageLaw(payload: Array[Byte],
                              maxDim: Int = 16): (Int, Int, Array[Int]) = {
    val bytes = if (payload == null) Array.emptyByteArray else payload
    val w = 1 + math.floorMod(bytes.length, maxDim)
    val h = 1 + math.floorMod(bytes.map(_ & 0xff).sum, maxDim)
    val px = new Array[Int](w * h)
    var i = 0
    while (i < w * h) {
      val r = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff
      val g = if (bytes.isEmpty) 0 else bytes((i * 7 + 3) % bytes.length) & 0xff
      val b = if (bytes.isEmpty) 0 else bytes((i * 13 + 5) % bytes.length) & 0xff
      px(i) = (r << 16) | (g << 8) | b
      i += 1
    }
    (w, h, px)
  }

  /** Render a law pixel array into a real container via the REAL
    * JDK PNG encoder — shared by [[encodePng]] and [[graft.GoldenGen]]
    * (the golden's n_bytes column is the fixture synthesizer's own
    * output size; everything else in the golden comes from the law
    * alone). */
  private[graft] def renderPng(w: Int, h: Int, px: Array[Int],
                               buf: java.io.ByteArrayOutputStream): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < w * h) { img.setRGB(i % w, i / w, px(i)); i += 1 }
    buf.reset()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  def encodePng(media: Dataset[MediaRow], maxDim: Int = 16): Dataset[MediaRow] = {
    require(maxDim >= 1, s"maxDim must be >= 1, got $maxDim")
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val buf = new java.io.ByteArrayOutputStream(1 << 12) // per-partition init
      batch.map { m =>
        val (w, h, px) = imageLaw(m.payload, maxDim)
        MediaRow(m.doc_id, renderPng(w, h, px, buf), "image/png")
      }
    }
  }

  /** m04: REAL image decode — `javax.imageio.ImageIO.read` (the JDK's
    * actual PNG/JPEG/BMP/GIF codec, no external libs), in the same
    * per-partition batch shape the stub documented: codec state and
    * the digest instance initialized once per partition, rows streamed
    * through the iterator, partition-preserving (decode parallelism =
    * input partitioning). Output is the decoded geometry, a
    * codec-independent content digest (md5 over row-major RGB pixels,
    * NOT over the container bytes — two encoders producing different
    * but pixel-identical PNGs hash equal), and mean luminance.
    * Undecodable payloads fail LOUDLY with the doc id — silent nulls
    * at 100 TB mean a corrupt-media stratum goes unnoticed. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[ImageRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val md = java.security.MessageDigest.getInstance("MD5") // per-partition init
      batch.map { m =>
        require(m.payload != null,
          s"decodeImages: null payload for doc ${m.doc_id}")
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        require(img != null,
          s"decodeImages: undecodable ${m.mime} payload for doc ${m.doc_id}")
        val w = img.getWidth; val h = img.getHeight
        md.reset()
        var lumaSum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            md.update((rgb >> 16).toByte); md.update((rgb >> 8).toByte)
            md.update(rgb.toByte)
            lumaSum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        ImageRow(m.doc_id, w, h, m.payload.length, graft.Exact.hex(md.digest()),
          lumaSum.toDouble / (3.0 * w * h))
      }
    }
  }

  /** m04 resize: integer nearest-neighbor scaling + re-encode through
    * the real PNG codec. A hand-rolled pixel loop, not Graphics2D —
    * `dst(x,y) = src(x*sw/dw, y*sh/dh)` is pure integer math, so the
    * resized pixels (and hence [[decodeImages]]'s content digest) are
    * bit-deterministic across JVMs/render pipelines. Same
    * per-partition batch contract as the other stages. */
  def resizeImages(media: Dataset[MediaRow], dw: Int, dh: Int): Dataset[MediaRow] = {
    require(dw >= 1 && dh >= 1, s"resize target must be >= 1x1, got ${dw}x$dh")
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val buf = new java.io.ByteArrayOutputStream(1 << 12) // per-partition init
      batch.map { m =>
        val src = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        require(src != null,
          s"resizeImages: undecodable ${m.mime} payload for doc ${m.doc_id}")
        val sw = src.getWidth; val sh = src.getHeight
        val dst = new java.awt.image.BufferedImage(
          dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < dh) {
          var x = 0
          while (x < dw) {
            dst.setRGB(x, y, src.getRGB(x * sw / dw, y * sh / dh) & 0xffffff)
            x += 1
          }
          y += 1
        }
        buf.reset()
        javax.imageio.ImageIO.write(dst, "png", buf)
        MediaRow(m.doc_id, buf.toByteArray, "image/png")
      }
    }
  }

  case class DHashRow(doc_id: Long, width: Int, height: Int, dhash: String)

  /** m07: PERCEPTUAL image hash — the difference hash (dHash), the
    * published workhorse of large-scale image dedup (the same
    * family — aHash/dHash/pHash — every public image-dataset
    * pipeline, e.g. LAION's dedup tooling, keys on): decode with the
    * real JDK codec, integer nearest-neighbor downsample to a 9×8
    * grayscale grid (m04's bit-deterministic `x·sw/dw` resize law —
    * no Graphics2D, no float filtering), then 64 bits of
    * "is the left neighbor brighter" gradient signs. Container-
    * insensitive and scale-TOLERANT: two encodings of the SAME pixels
    * hash IDENTICALLY (the grid reads decoded pixels, not bytes) —
    * that exact guarantee holds only for same-pixel re-encodes. A
    * rescaled copy samples different source pixels through the
    * integer-NN grid, so bits near grid boundaries can flip; rescales
    * and global brightness/contrast shifts (which preserve gradient
    * SIGNS) land NEAR — within a few bits — not equal (round-12
    * ADVICE: the earlier 'scale-insensitive by construction' claim
    * overstated this).
    *
    * The hash is emitted as q23's 64-char '0'/'1' bitstring so the
    * whole SimHash toolchain applies unchanged: banding, bucket-local
    * expansion and the codegen'd `graft_hamming` verify — see
    * [[imageNearDupPairs]]. Same per-partition batch contract as
    * every decode stage; undecodable payloads fail loudly. */
  /** The 64-bit dHash of a pixel field — pure grid math over any
    * (x, y) → 0xRRGGBB accessor, shared by [[dhashImages]] (decoded
    * image) and [[graft.GoldenGen]] (law pixel array), so the hash
    * definition cannot diverge between the query and its golden
    * oracle. 9×8 integer-NN grayscale grid; gray = r+g+b (scale-free —
    * only COMPARISONS matter, so no division, no rounding). */
  private[graft] def dhashBits(sw: Int, sh: Int,
                               px: (Int, Int) => Int): String = {
    val g = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val rgb = px(x * sw / 9, y * sh / 8)
        g(y)(x) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    val bits = new java.lang.StringBuilder(64)
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        bits.append(if (g(y)(x) > g(y)(x + 1)) '1' else '0')
        x += 1
      }
      y += 1
    }
    bits.toString
  }

  def dhashImages(media: Dataset[MediaRow]): Dataset[DHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        require(m.payload != null,
          s"dhashImages: null payload for doc ${m.doc_id}")
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        require(img != null,
          s"dhashImages: undecodable ${m.mime} payload for doc ${m.doc_id}")
        val sw = img.getWidth; val sh = img.getHeight
        DHashRow(m.doc_id, sw, sh, dhashBits(sw, sh, img.getRGB))
      }
    }
  }

  /** m07 pair detection: perceptual near-dup image pairs within
    * `maxHamming` bits — q23's banded-Hamming machinery verbatim
    * ([[graft.operators.Dedup.hammingBandPairs]]: band buckets →
    * bucket-local expansion → codegen'd Hamming verify, Σ bucket²
    * cost, never n²), applied to the dHash fingerprints. */
  def imageNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 6,
                        bands: Int = 4): DataFrame =
    Dedup.hammingBandPairs(
      dhashImages(media).toDF().select(col("doc_id"), col("dhash").as("fp")),
      maxHamming, bands)

  /** m07 as a flat verification frame: synthesize real PNGs from the
    * image-mime documents, hash them perceptually. Rows-only driver
    * check (no SQL engine decodes PNG); determinism, container
    * insensitivity, perturbation tolerance and the pair semantics are
    * pinned in MultimodalSpec. */
  /** The image-mime media frame (m04/m07/s13 shared input shape) —
    * works on batch AND streaming documents frames (pure row-wise
    * projection). */
  private[graft] def imageMedia(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    binaryWithMeta(documents)
      .filter(col("meta.mime") === "image/png")
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[MediaRow]
  }

  def imageDhashSummary(documents: DataFrame): DataFrame =
    dhashImages(encodePng(imageMedia(documents))).toDF()

  case class ImageEmbRow(doc_id: Long, width: Int, height: Int,
                         emb: Array[Long])

  /** The grid-luminance sampling shared by [[embedImages]] (decoded
    * image) and [[graft.GoldenGen]] (law pixel array) — m07's
    * dhashBits factoring applied to the embedding, so the vector
    * definition cannot diverge between the query and its golden
    * oracle. Integer NN sampling (`x·sw/g`, m04's bit-deterministic
    * resize law), gray = r+g+b (scale-free integers, the dHash
    * convention). */
  private[graft] def gridLuma(sw: Int, sh: Int, grid: Int,
                              px: (Int, Int) => Int): Array[Long] = {
    val emb = new Array[Long](grid * grid)
    var j = 0
    while (j < emb.length) {
      val rgb = px((j % grid) * sw / grid, (j / grid) * sh / grid)
      emb(j) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      j += 1
    }
    emb
  }

  /** m09: IMAGE → VECTOR — the multimodal on-ramp to the semantic
    * family (round-12 verdict #6): m07 gives Hamming near-dup, but
    * q57/q26/q46-style semantic machinery needs a VECTOR per image.
    * This is the image analogue of q92's text embedding: decode
    * through the real JDK codec, integer-NN sample a `grid`×`grid`
    * luminance field (m04's bit-deterministic resize law — no float
    * filtering, no codec-dependent interpolation), emit the
    * `grid²`-dim INTEGER vector. Integer embeddings are the point
    * (q92's rationale verbatim): no float summation order to diverge,
    * so the full vector identity is golden-oracle-hash-checkable, and
    * every downstream dot/norm chain is exact.
    *
    * The vector is a real perceptual embedding in the published
    * sense: GIST-like downsampled luminance is the classic baseline
    * image descriptor, cosine-near for re-encodes (identical),
    * brightness-scaled copies (parallel vectors) and mild crops/
    * rescales (NN grid tolerance) — exactly the dup classes SemDeDup
    * over images targets. Same per-partition batch contract and
    * fail-loud undecodable handling as every decode stage. */
  def embedImages(media: Dataset[MediaRow], grid: Int = 8): Dataset[ImageEmbRow] = {
    require(grid >= 1, s"grid must be >= 1, got $grid")
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        require(m.payload != null,
          s"embedImages: null payload for doc ${m.doc_id}")
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        require(img != null,
          s"embedImages: undecodable ${m.mime} payload for doc ${m.doc_id}")
        val sw = img.getWidth; val sh = img.getHeight
        ImageEmbRow(m.doc_id, sw, sh, gridLuma(sw, sh, grid, img.getRGB))
      }
    }
  }

  /** m09 as a flat verification frame: the embedding identity (space-
    * joined, q92's `emb` convention) plus its exact integer norm² —
    * golden-oracle-checked against the law pixels, so the decode →
    * grid-sample stage is hash-verified end to end. */
  def imageEmbedSummary(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{aggregate => fAggregate}
    embedImages(encodePng(imageMedia(documents))).toDF()
      .select(col("doc_id"), col("width"), col("height"),
        array_join(col("emb"), " ").as("emb"),
        fAggregate(col("emb"), lit(0L), (a, x) => a + x * x).as("nrm2"))
  }

  /** q97's embedding frame: the m09 grid vector MEAN-CENTERED, in
    * exact integer arithmetic — `v'_j = g²·v_j − Σv` (scaling by g²
    * instead of dividing the mean keeps every component an integer;
    * cosine is scale-invariant, so this IS the centered cosine). Raw
    * luminance vectors all point into the positive orthant — measured
    * median pairwise cosine 0.97 on the test corpus, no tau can
    * separate dups — while centered vectors measure PATTERN
    * correlation (median 0.0, max 0.876 across distinct images, 1.0
    * for same-pixels copies): the continuous analogue of m07's
    * gradient signs, and brightness/contrast-INVARIANT (an affine
    * luma shift a·v+b centers to a·v', same direction).
    *
    * FLAT frames (constant luminance) center to the zero vector,
    * whose cosine is 0/0 — NaN, with engine-DIVERGENT comparison
    * semantics (Spark: NaN >= tau is false; DuckDB orders NaN above
    * everything). They instead embed as a canonical unit-axis vector:
    * every flat frame is the same blank image up to brightness —
    * exactly the equivalence the centering encodes — so flat frames
    * dedup among themselves (cosine 1) and compare harmlessly
    * against everything else. */
  def imageSemanticFrame(documents: DataFrame, grid: Int = 8): DataFrame =
    centeredEmbedFrame(encodePng(imageMedia(documents)), grid)

  /** The centering law over an already-decodable media set — factored
    * (round 14) so the streaming s14 spec and any caller holding raw
    * image payloads can build the SAME centered frame without the
    * document-synthesis stage. */
  private[graft] def centeredEmbedFrame(media: Dataset[MediaRow],
                                        grid: Int = 8): DataFrame = {
    val unitE0 = lit((1.0 +: Array.fill(grid * grid - 1)(0.0)).toArray)
    // Σemb precomputed as a column — embedding the aggregate inside
    // the transform lambda would re-evaluate it per element (g²× per
    // row; round-13 review)
    embedImages(media, grid).toDF()
      .withColumn("s", aggregate(col("emb"), lit(0L), (a, x) => a + x))
      .select(col("doc_id").as("vec_id"),
        when(array_min(col("emb")) === array_max(col("emb")), unitE0)
          .otherwise(transform(col("emb"),
            x => (lit(grid.toLong * grid) * x - col("s")).cast("double")))
          .as("embedding"))
  }

  /** m04 as a flat verification frame: synthesize real PNGs from the
    * image-mime documents, decode them with the real codec, and carry
    * the geometry + content digest out. Driver-checked rows-only (no
    * SQL engine decodes PNG); the encode→decode round trip itself is
    * pinned bit-exactly in MultimodalSpec. */
  def imageDecodeSummary(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val media = binaryWithMeta(documents)
      .filter(col("meta.mime") === "image/png")
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[MediaRow]
    decodeImages(encodePng(media)).toDF()
  }

  /** m03 as a flat verification frame: video-mime objects only. */
  def frameSummary(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val media = binaryWithMeta(documents)
      .filter(col("meta.mime") === "video/mp4")
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[MediaRow]
    sampleFrames(media).toDF()
  }

  /** m02 as a flat verification frame. The stub decode is a pure
    * function of the payload bytes, so it IS oracle-checkable: the
    * DuckDB side recomputes the header checksum and histogram buckets
    * from `ord()` over the same (ASCII) text. Ratios go through
    * Exact.dround — they are small-denominator rationals, the exact
    * case where engine round() implementations disagree. */
  def byteFeatureSummary(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val media = binaryWithMeta(documents)
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[MediaRow]
    byteFeatures(media).toDF()
      .select(col("doc_id"), col("mime"), col("n_bytes"), col("header_sum"),
        graft.Exact.dround(element_at(col("features"), 1)).as("f0"),
        graft.Exact.dround(element_at(col("features"), 4)).as("f3"))
  }

  /** One decoded audio object leaving the real-codec decode stage. */
  case class AudioRow(doc_id: Long, channels: Int, sample_rate: Int,
                      n_frames: Long, duration_ms: Long, n_bytes: Int,
                      pcm_md5: String, rms: Double)

  /** m05: deterministic WAV synthesis — payload bytes → a REAL RIFF/
    * WAVE container through the REAL `javax.sound.sampled` encoder
    * (`AudioSystem.write`, the JDK's actual WAV codec — m04's pattern
    * applied to the audio modality). 16-bit signed PCM, mono,
    * little-endian; sample count and values derive from the payload
    * bytes, so geometry and content round-trips are meaningful. Same
    * per-partition batch contract: encoder buffer initialized once per
    * partition, partition-preserving, streamed. */
  /** The audio synthesis LAW — payload bytes → little-endian 16-bit
    * mono PCM. Factored out (round-13, same rationale as
    * [[imageLaw]]): the golden oracle's pcm digest / rms / sample
    * count derive from this law alone; the declared query reaches the
    * same values through the real RIFF writer AND parser. */
  private[graft] def pcmLaw(payload: Array[Byte]): Array[Byte] = {
    val bytes = if (payload == null) Array.emptyByteArray else payload
    val n = 64 + math.floorMod(bytes.map(_ & 0xff).sum, 128)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = if (bytes.isEmpty) 0
              else ((bytes(i % bytes.length) & 0xff) - 128) * 256
      pcm(2 * i) = (s & 0xff).toByte // little-endian per renderWav's format
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    pcm
  }

  /** Wrap law PCM in a real RIFF/WAVE container via the REAL JDK
    * writer — shared by [[encodeWav]] and [[graft.GoldenGen]]. */
  private[graft] def renderWav(pcm: Array[Byte], sampleRate: Float,
                               buf: java.io.ByteArrayOutputStream): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, (pcm.length / 2).toLong)
    buf.reset()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  def encodeWav(media: Dataset[MediaRow], sampleRate: Float = 8000f): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val buf = new java.io.ByteArrayOutputStream(1 << 12) // per-partition init
      batch.map { m =>
        MediaRow(m.doc_id, renderWav(pcmLaw(m.payload), sampleRate, buf),
          "audio/wav")
      }
    }
  }

  /** m05: REAL audio decode — `AudioSystem.getAudioInputStream` (the
    * JDK's actual RIFF/WAVE parser, no external libs) in the shared
    * per-partition batch shape. Output: the decoded format geometry
    * (channels, rate, frame count, integer-exact duration), a
    * container-independent content digest (md5 over the decoded PCM
    * bytes — two WAV writers emitting different headers around
    * identical samples hash equal), and RMS amplitude (integer sum of
    * squares — exact below 2^53 — through one division and one IEEE
    * sqrt, so the value is bit-deterministic across JVMs).
    * Unparseable payloads and non-16-bit formats fail LOUDLY with the
    * doc id — silent nulls at 100 TB hide a corrupt-media stratum. */
  /** Shared m05/m08 decode front door: parse through the real JDK
    * codec, enforce the 16-bit contract, fail loudly with the doc id.
    * One copy, so the two consumers' validation can never diverge. */
  private def readPcm16(m: MediaRow, who: String)
      : (javax.sound.sampled.AudioFormat, Long, Array[Byte]) = {
    require(m.payload != null, s"$who: null payload for doc ${m.doc_id}")
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"$who: unparseable ${m.mime} payload for doc ${m.doc_id}", e)
      }
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16,
      s"$who: expected 16-bit PCM for doc ${m.doc_id}, " +
        s"got ${fmt.getSampleSizeInBits}-bit")
    (fmt, ais.getFrameLength, ais.readAllBytes())
  }

  /** The i-th 16-bit sample of a PCM byte buffer. */
  @inline private def sample16(pcm: Array[Byte], i: Int,
                               bigEndian: Boolean): Short =
    if (bigEndian) ((pcm(2 * i) << 8) | (pcm(2 * i + 1) & 0xff)).toShort
    else ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort

  def decodeAudio(media: Dataset[MediaRow]): Dataset[AudioRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val md = java.security.MessageDigest.getInstance("MD5") // per-partition init
      batch.map { m =>
        val (fmt, frames, pcm) = readPcm16(m, "decodeAudio")
        md.reset(); md.update(pcm)
        val bigEndian = fmt.isBigEndian
        val nSamples = pcm.length / 2
        var i = 0
        var sumSq = 0L
        while (i < nSamples) {
          val s = sample16(pcm, i, bigEndian)
          sumSq += s.toLong * s.toLong
          i += 1
        }
        AudioRow(m.doc_id, fmt.getChannels, fmt.getSampleRate.toInt, frames,
          frames * 1000L / fmt.getSampleRate.toLong, m.payload.length,
          graft.Exact.hex(md.digest()),
          if (nSamples == 0) 0.0 else math.sqrt(sumSq.toDouble / nSamples))
      }
    }
  }

  /** The audio-mime media frame (m05/m08 shared input shape). */
  private[graft] def audioMedia(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    binaryWithMeta(documents)
      .filter(col("meta.mime") === "audio/wav")
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[MediaRow]
  }

  /** m05 as a flat verification frame: synthesize real WAVs from the
    * audio-mime documents, decode them with the real codec, carry the
    * format geometry + content digest out. Driver-checked rows-only
    * (no SQL engine parses RIFF); the encode→decode round trip is
    * pinned bit-exactly in MultimodalSpec. */
  def audioDecodeSummary(documents: DataFrame): DataFrame =
    decodeAudio(encodeWav(audioMedia(documents))).toDF()

  case class AudioFpRow(doc_id: Long, n_samples: Int, afp: String)

  /** m08: PERCEPTUAL audio fingerprint — the energy-envelope
    * difference hash (the acoustic-fingerprinting family's simplest
    * published member: frame-energy envelopes compared pairwise, the
    * audio analogue of m07's image dHash): decode through the real
    * JDK codec, split the sample stream into 65 equal windows of
    * EXACT integer energy (Σ s², no float accumulation), emit 64
    * "is this window louder than the next" gradient-sign bits.
    *
    * Container-independent (hashes decoded samples — WAV and AIFF of
    * the same PCM fingerprint identically, spec-pinned through both
    * real JDK writers) and GAIN-independent by construction: scaling
    * every sample by c scales every window energy by c², preserving
    * all comparisons — a re-mastered louder copy still dedups, which
    * the PCM digest (m05) can never do. Same bitstring convention as
    * q23/m07, so [[graft.operators.Dedup.hammingBandPairs]] gives
    * the banded pair machinery unchanged ([[audioNearDupPairs]]).
    * Clips shorter than 65 samples leave some windows empty (energy
    * 0) — still deterministic. Unparseable/non-16-bit payloads fail
    * loudly (the m05 contract). */
  /** The W-window integer energy envelope of a PCM buffer — the pure
    * window math under BOTH m08's difference hash and m10's audio
    * embedding, shared with [[graft.GoldenGen]] (law PCM) so neither
    * definition can diverge from its golden oracle. Window of sample
    * i = floor(i·W/n), walked via precomputed boundaries (next
    * first-index-of-window = ceil((w+1)·n/W)) — no per-sample
    * division in the hot loop, same exact binning. */
  private[graft] def envelopeEnergies(pcm: Array[Byte], W: Int,
                                      bigEndian: Boolean): Array[Long] = {
    val n = pcm.length / 2
    val e = new Array[Long](W)
    var i = 0
    var w = 0
    var next = if (n == 0) 0L else (n.toLong + W - 1) / W
    while (i < n) {
      while (i >= next) {
        w += 1; next = ((w + 1).toLong * n + W - 1) / W
      }
      val s = sample16(pcm, i, bigEndian)
      e(w) += s.toLong * s.toLong
      i += 1
    }
    e
  }

  /** The 64-bit energy-envelope hash of a PCM buffer — 65 windows of
    * [[envelopeEnergies]], 64 louder-than-next gradient signs. */
  private[graft] def envelopeBits(pcm: Array[Byte],
                                  bigEndian: Boolean): String = {
    val e = envelopeEnergies(pcm, 65, bigEndian)
    val bits = new java.lang.StringBuilder(e.length - 1)
    var w = 0
    while (w < e.length - 1) {
      bits.append(if (e(w) > e(w + 1)) '1' else '0')
      w += 1
    }
    bits.toString
  }

  def fingerprintAudio(media: Dataset[MediaRow]): Dataset[AudioFpRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        val (fmt, _, pcm) = readPcm16(m, "fingerprintAudio")
        // MONO only, fail-loud: interleaved channels would silently
        // fold L/R into the energy windows, so a stereo file and its
        // mono master fingerprint differently with no warning — mix
        // down upstream (the published envelope methods do).
        require(fmt.getChannels == 1,
          s"fingerprintAudio: expected mono for doc ${m.doc_id}, got " +
            s"${fmt.getChannels} channels — mix down before fingerprinting")
        AudioFpRow(m.doc_id, pcm.length / 2,
          envelopeBits(pcm, fmt.isBigEndian))
      }
    }
  }

  case class AudioEmbRow(doc_id: Long, n_samples: Int, emb: Array[Long])

  /** m10: AUDIO → VECTOR — the audio member of the embedding bridges
    * (q92 text, m09 image): decode through the real JDK codec, bin
    * the sample stream into `w` windows of EXACT integer energy
    * ([[envelopeEnergies]] — m08's window law, energies instead of
    * gradient signs), emit the `w`-dim INTEGER vector. The energy
    * envelope is the classic compact audio descriptor; under COSINE
    * it is gain-invariant outright (×c scales every energy by c²,
    * and cosine ignores scale), so a re-mastered louder copy embeds
    * parallel — the continuous form of m08's comparison-preservation
    * argument. Integer vectors: the full identity is
    * golden-oracle-hash-checkable (q92/m09's rationale). Same
    * per-partition batch contract, fail-loud mono/16-bit guards as
    * the m05/m08 stages. */
  def embedAudio(media: Dataset[MediaRow], w: Int = 64): Dataset[AudioEmbRow] = {
    require(w >= 1, s"window count must be >= 1, got $w")
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        val (fmt, _, pcm) = readPcm16(m, "embedAudio")
        require(fmt.getChannels == 1,
          s"embedAudio: expected mono for doc ${m.doc_id}, got " +
            s"${fmt.getChannels} channels — mix down before embedding")
        AudioEmbRow(m.doc_id, pcm.length / 2,
          envelopeEnergies(pcm, w, fmt.isBigEndian))
      }
    }
  }

  /** m10 as a flat verification frame (m09's convention): the
    * embedding identity, space-joined — golden-checked against the
    * PCM law, so decode → window-energy is hash-verified end to
    * end. No norm² column: energies reach ~2³⁸, whose squares
    * overflow BIGINT — norms live in the double domain downstream. */
  def audioEmbedSummary(documents: DataFrame): DataFrame =
    embedAudio(encodeWav(audioMedia(documents))).toDF()
      .select(col("doc_id"), col("n_samples"),
        array_join(col("emb"), " ").as("emb"))

  /** q99's embedding frame: m10 windows MEAN-CENTERED in exact
    * integers (w·e − Σe — the q97 law applied to energies: raw
    * all-positive envelopes concentrate their cosines near 1, the
    * centered ones measure LOUDNESS-PATTERN correlation and keep the
    * gain-invariance). Flat envelopes (constant energy — silence,
    * constant tones with window-aligned sample counts) center to
    * zero and would NaN-diverge between engines; they embed as the
    * canonical unit axis (q97's guard verbatim): every flat envelope
    * is the same featureless clip up to gain. Centered values reach
    * ~2⁴⁴ — exact in the double domain (< 2⁵³), and every downstream
    * dot chain is the same fixed-order IEEE arithmetic on identical
    * inputs in both engines. */
  def audioSemanticFrame(documents: DataFrame, w: Int = 64): DataFrame = {
    val unitE0 = lit((1.0 +: Array.fill(w - 1)(0.0)).toArray)
    // Σemb as a column, not inside the lambda (imageSemanticFrame's
    // per-element re-evaluation note)
    embedAudio(encodeWav(audioMedia(documents)), w).toDF()
      .withColumn("s", aggregate(col("emb"), lit(0L), (a, x) => a + x))
      .select(col("doc_id").as("vec_id"),
        when(array_min(col("emb")) === array_max(col("emb")), unitE0)
          .otherwise(transform(col("emb"),
            x => (lit(w.toLong) * x - col("s")).cast("double")))
          .as("embedding"))
  }

  /** m08 pair detection: perceptual near-dup audio pairs within
    * `maxHamming` bits — q23/m07's banded-Hamming machinery on the
    * energy-envelope fingerprints. */
  def audioNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 6,
                        bands: Int = 4): DataFrame =
    Dedup.hammingBandPairs(
      fingerprintAudio(media).toDF().select(col("doc_id"), col("afp").as("fp")),
      maxHamming, bands)

  /** m08 as a flat verification frame: synthesize real WAVs from the
    * audio-mime documents, fingerprint them perceptually. Rows-only
    * driver check (no SQL engine parses RIFF); container and gain
    * invariance plus the pair semantics are pinned in
    * MultimodalSpec. */
  def audioFingerprintSummary(documents: DataFrame): DataFrame =
    fingerprintAudio(encodeWav(audioMedia(documents))).toDF()

  /** One decoded, sampled frame leaving the multi-frame container
    * decode stage. */
  case class GifFrameRow(doc_id: Long, frame_idx: Int, n_frames: Int,
                         width: Int, height: Int, pixel_md5: String,
                         mean_luma: Double)

  /** m06: deterministic animated-GIF synthesis — payload bytes → a
    * REAL multi-frame GIF container through the REAL `javax.imageio`
    * sequence writer (`prepareWriteSequence`/`writeToSequence`). The
    * JDK has no MP4/H.264 codec, so animated GIF is the honest
    * JDK-only realization of the moving-picture modality: a true
    * container with per-frame images and a real parser. Frames are
    * grayscale (r=g=b) indexed against an EXPLICIT 256-gray
    * `IndexColorModel`, so the writer emits that palette verbatim and
    * the decode round trip is bit-checkable, not merely deterministic.
    * (Round-13 fix, caught by the golden oracle — TWO codec traps at
    * once: RGB frames take the writer's DEFAULT palette, so arbitrary
    * grays quantize; and indexed frames default to INTERLACED output,
    * which the JDK reader mis-deinterlaces for heights below the
    * 8-row pass structure — rows come back permuted. 148/360 sampled
    * frames were wrong at sf0.01. An image's own IndexColorModel plus
    * `ImageWriteParam.MODE_DISABLED` progressive mode round-trips
    * bit-exactly at every geometry 1×1..9×9 — spec-pinned on an
    * adversarial all-gray ramp.) Frame count and pixels derive from
    * the payload, so geometry and content round-trips are meaningful.
    * Same per-partition batch contract as every codec stage. */
  /** The animated-GIF synthesis LAW — payload bytes → (width, height,
    * frame count) geometry plus the per-frame gray value
    * [[gifPixelLaw]]. Factored out (round-13, [[imageLaw]]'s
    * rationale) so [[graft.GoldenGen]] states expected frame digests
    * and luminance without touching the parser. */
  private[graft] def gifLaw(payload: Array[Byte], maxDim: Int = 8,
                            maxFrames: Int = 6): (Int, Int, Int) = {
    val bytes = if (payload == null) Array.emptyByteArray else payload
    val sum = bytes.map(_ & 0xff).sum
    val w = 1 + math.floorMod(bytes.length, maxDim)
    val h = 1 + math.floorMod(sum, maxDim)
    val n = 2 + math.floorMod(sum + bytes.length, maxFrames - 1)
    (w, h, n)
  }

  /** Gray value of pixel i in frame f under the GIF synthesis law. */
  @inline private[graft] def gifPixelLaw(bytes: Array[Byte], f: Int,
                                         i: Int): Int =
    if (bytes.isEmpty) 0 else bytes((i * 31 + f * 7) % bytes.length) & 0xff

  def encodeGif(media: Dataset[MediaRow], maxDim: Int = 8,
                maxFrames: Int = 6): Dataset[MediaRow] = {
    require(maxDim >= 1, s"maxDim must be >= 1, got $maxDim")
    require(maxFrames >= 2, s"maxFrames must be >= 2, got $maxFrames")
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val buf = new java.io.ByteArrayOutputStream(1 << 12) // per-partition init
      // full 256-gray palette, built once per partition: entry i =
      // gray i, so every law pixel is IN the palette and the writer's
      // index lookup is exact — no quantization, no dithering
      val ramp = Array.tabulate[Byte](256)(_.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
      batch.map { m =>
        val bytes = if (m.payload == null) Array.emptyByteArray else m.payload
        val (w, h, n) = gifLaw(bytes, maxDim, maxFrames)
        buf.reset()
        val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
        val out = javax.imageio.ImageIO.createImageOutputStream(buf)
        // finally-guarded like decodeGifFrames: a mid-sequence failure
        // must not leak the stream's native cache or the writer in a
        // long-lived executor
        // non-progressive: the default interlaced rendering trips the
        // JDK reader's de-interlace on small heights (see scaladoc)
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        try {
          writer.setOutput(out)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < n) {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
            var i = 0
            while (i < w * h) {
              val v = gifPixelLaw(bytes, f, i)
              img.setRGB(i % w, i / w, (v << 16) | (v << 8) | v)
              i += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), param)
            f += 1
          }
          writer.endWriteSequence()
        } finally {
          writer.dispose()
          out.close()
        }
        MediaRow(m.doc_id, buf.toByteArray, "image/gif")
      }
    }
  }

  /** m06: REAL multi-frame container decode — `ImageReader` over the
    * JDK's actual GIF parser: true frame count
    * (`getNumImages(allowSearch = true)`), then every `stride`-th
    * frame decoded to pixels with the same codec-independent digest
    * and luminance as m04. One output row per SAMPLED frame (the m03
    * frame-sampling contract, now through a real container parser).
    * Undecodable payloads fail LOUDLY with the doc id. */
  def decodeGifFrames(media: Dataset[MediaRow], stride: Int = 2): Dataset[GifFrameRow] = {
    require(stride >= 1, "stride must be >= 1")
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val md = java.security.MessageDigest.getInstance("MD5") // per-partition init
      batch.flatMap { m =>
        require(m.payload != null,
          s"decodeGifFrames: null payload for doc ${m.doc_id}")
        val in = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        var reader: javax.imageio.ImageReader = null
        // failure paths (no reader, read throwing mid-frame) must not
        // leak the image input stream's native cache in a long-lived
        // executor — release in finally, not after the happy path
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(in)
          require(readers.hasNext,
            s"decodeGifFrames: unparseable ${m.mime} payload for doc ${m.doc_id}")
          reader = readers.next()
          reader.setInput(in)
          val n = reader.getNumImages(true)
          val rows = (0 until n by stride).map { f =>
            val img = reader.read(f)
            val w = img.getWidth; val h = img.getHeight
            md.reset()
            var lumaSum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                md.update((rgb >> 16).toByte); md.update((rgb >> 8).toByte)
                md.update(rgb.toByte)
                lumaSum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            GifFrameRow(m.doc_id, f, n, w, h, graft.Exact.hex(md.digest()),
              lumaSum.toDouble / (3.0 * w * h))
          }
          rows.iterator
        } finally {
          if (reader != null) reader.dispose()
          in.close()
        }
      }
    }
  }

  /** m06 as a flat verification frame: synthesize real animated GIFs
    * from the video-mime documents, parse them back with the real
    * reader, sample frames. Driver-checked rows-only; the multi-frame
    * round trip is pinned bit-exactly in MultimodalSpec. */
  def gifFrameSummary(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val media = binaryWithMeta(documents)
      .filter(col("meta.mime") === "video/mp4")
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[MediaRow]
    decodeGifFrames(encodeGif(media)).toDF()
  }
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Typed metadata carried alongside an opaque media payload. */
final case class MediaMeta(width: Int, height: Int, channels: Int, format: String)

/** One media record: id + raw bytes (image/audio/video are all opaque
  * `binary` at the engine level; only the codec interprets them). */
final case class MediaRecord(id: Long, data: Array[Byte])

final case class MediaWithMeta(
    id: Long,
    n_bytes: Int,
    width: Int,
    height: Int,
    channels: Int,
    format: String)

final case class FrameSample(id: Long, frame_idx: Int, frame_hash: Long)

/**
 * Image codec: real PNG/JPEG/GIF/BMP decode via `javax.imageio` (JDK
 * built-in — zero extra dependencies), with a deterministic
 * payload-length-derived fallback for undecodable bytes. The fallback is
 * load-bearing twice over: a 100 TB corpus always contains corrupt
 * payloads (a decode that throws would kill the task, not skip the row),
 * and the synthetic test corpus carries non-image payloads whose oracle
 * replicates exactly the fallback arithmetic.
 *
 * Video/audio stay stubbed (`sampleFrames`) — the JDK ships no codecs for
 * them; a production build sits ffmpeg-over-JNI at the same mapPartitions
 * boundary.
 */
object MediaCodec {
  // ImageIO's default scratch cache is a temp FILE per decode — measurable
  // per-row I/O inside an executor loop. Decode from memory instead.
  javax.imageio.ImageIO.setUseCache(false)

  /** Decode to (image, formatName): Some for any format the JDK reads
    * (png/jpeg/gif/bmp/wbmp), None for anything else. Never throws. */
  def decodeImage(bytes: Array[Byte]): Option[(java.awt.image.BufferedImage, String)] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val fmt = reader.getFormatName.toLowerCase
          val img = reader.read(0)
          if (img == null) None else Some((img, fmt))
        } finally reader.dispose()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  def decodeImageMeta(bytes: Array[Byte]): MediaMeta =
    decodeImage(bytes) match {
      case Some((img, fmt)) =>
        MediaMeta(img.getWidth, img.getHeight, img.getColorModel.getNumComponents, fmt)
      case None => fallbackMeta(bytes)
    }

  /** Deterministic meta for undecodable payloads: dims derived from the
    * payload size (the shape the DuckDB oracle replicates). */
  private[graft] def fallbackMeta(bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length
    MediaMeta(64 + n % 576, 64 + (n * 7) % 1016, 3, s"fmt${n % 4}")
  }

  /** STUB: "sample" `count` frames; a real codec seeks/decodes keyframes.
    * The fake emits one deterministic 32-bit value per frame index. */
  def sampleFrames(bytes: Array[Byte], count: Int): Seq[Long] = {
    val n = bytes.length.toLong
    (0 until count).map(i => (n * 2654435761L + i * 40503L) & 0xffffffffL)
  }

  /** Scale an image to fit in (maxW, maxH) preserving aspect ratio and
    * re-encode as PNG. Images already inside the box are re-encoded
    * unchanged in dimensions. Returns None for undecodable payloads. */
  def resizeImage(bytes: Array[Byte], maxW: Int, maxH: Int): Option[Array[Byte]] =
    decodeImage(bytes).map { case (img, _) =>
      val scale = math.min(1.0,
        math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
      val (w, h) = (math.max(1, (img.getWidth * scale).toInt),
        math.max(1, (img.getHeight * scale).toInt))
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

  /** Byte-budget resize: real decode-scale-reencode when the payload is a
    * readable image (halving dimensions until the encoded size fits or a
    * floor is hit), deterministic truncation for opaque payloads (keeps
    * the byte-level contract: binary in, binary out — the arithmetic the
    * oracle replicates for the synthetic corpus). */
  def resize(bytes: Array[Byte], maxBytes: Int): Array[Byte] =
    decodeImage(bytes) match {
      case Some((img, _)) =>
        var (w, h) = (img.getWidth, img.getHeight)
        var encoded = resizeImage(bytes, w, h).get
        while (encoded.length > maxBytes && math.max(w, h) > 8) {
          w = math.max(1, w / 2); h = math.max(1, h / 2)
          encoded = resizeImage(bytes, w, h).get
        }
        encoded
      case None => bytes.take(maxBytes)
    }

  /** STUB feature extraction ("embed the image"): `dim` floats in [0, 1),
    * deterministically derived from the payload CONTENT (not just its
    * length): f_d = xhash32(md5hex(bytes) + "_" + d) / 2^32. A real
    * implementation replaces this with a vision/audio model invocation and
    * keeps the signature; content-dependence means tests exercise the
    * actual byte path, and the md5 construction keeps a DuckDB oracle
    * possible. */
  def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val hex = graft.expressions.TextKernels.md5Hex(bytes)
    Array.tabulate(dim) { d =>
      val h = graft.expressions.TextKernels.xhash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(hex + "_" + d))
      (h / 4294967296.0).toFloat
    }
  }

  /** Pixel-true image features for decodable payloads: bilinear-downsample
    * to a √dim × √dim luminance grid, row-major, scaled to [0, 1] — the
    * classic "tiny thumbnail embedding" that makes near-identical images
    * near in cosine space (what dedup/ANN over mm features needs). `dim`
    * must be a perfect square. Falls back to [[extractFeatures]] for
    * undecodable payloads so mixed corpora embed every row. */
  def extractImageFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val side = math.sqrt(dim).toInt
    require(side * side == dim, s"dim must be a perfect square, got $dim")
    decodeImage(bytes) match {
      case Some((img, _)) =>
        val out = new java.awt.image.BufferedImage(
          side, side, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, side, side, null)
        } finally g.dispose()
        val f = new Array[Float](dim)
        var i = 0
        while (i < dim) {
          val rgb = out.getRGB(i % side, i / side)
          // ITU-R BT.601 luma, integer weights, scaled to [0, 1].
          val luma = ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 + (rgb & 0xff) * 114)
          f(i) = luma / 255000.0f
          i += 1
        }
        f
      case None => extractFeatures(bytes, dim)
    }
  }

  /** Audio metadata: real WAV/AIFF/AU header decode via
    * `javax.sound.sampled` (JDK built-in), deterministic length-derived
    * fallback for anything else (compressed formats need external codecs).
    * Returns (sample_rate_hz, channels, n_frames, format). */
  def decodeAudioMeta(bytes: Array[Byte]): (Int, Int, Long, String) =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        (fmt.getSampleRate.toInt, fmt.getChannels, in.getFrameLength,
          fmt.getEncoding.toString.toLowerCase)
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        val n = bytes.length
        (8000 + n % 40000, 1 + n % 2, n.toLong, s"enc${n % 3}")
    }

  /** 16-bit perceptual difference hash (dHash): bit i set iff feature
    * i+1 > feature i over the first 17 entries of the 25-dim (5×5)
    * luminance grid of [[extractImageFeatures]]. Near-identical images
    * share most adjacent-brightness orderings, so they land within a few
    * bits in Hamming space — the image twin of SimHash. Undecodable
    * payloads fall through to the md5-derived fallback features (whose
    * element d depends only on d, so the first 17 of 25 equal a 17-dim
    * call — what the DuckDB oracle replicates term-for-term; float
    * comparisons agree because both engines round h/2^32 through the
    * same single-precision value). */
  def dHash16(bytes: Array[Byte]): Long = {
    val f = extractImageFeatures(bytes, 25)
    var h = 0L
    var i = 0
    while (i < 16) {
      if (f(i + 1) > f(i)) h |= 1L << i
      i += 1
    }
    h
  }
}

/**
 * Multimodal column operators. Decode runs inside `mapPartitions` — the
 * executor-side batch boundary (the Scala analogue of `mapInPandas`): one
 * iterator per partition, so a real codec can amortize per-batch setup
 * (model load, JNI context) across the partition. Narrow transformation —
 * no shuffle; partitioning of the input is preserved.
 */
object Multimodal {

  /** Decode image metadata for a binary column. Input: any DataFrame with
    * (idCol: long, binCol: binary). Output columns: id, n_bytes, width,
    * height, channels, format. */
  def withImageMeta(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val m = MediaCodec.decodeImageMeta(r.data)
          MediaWithMeta(r.id, r.data.length, m.width, m.height, m.channels, m.format)
        }
      }
      .toDF()
  }

  /** Sample `count` frames per media record (video-style fan-out: one row
    * per frame). */
  def sampledFrames(df: DataFrame, idCol: String, binCol: String, count: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as[MediaRecord]
      .flatMap { r =>
        MediaCodec.sampleFrames(r.data, count).zipWithIndex.map { case (h, i) =>
          FrameSample(r.id, i, h)
        }
      }
      .toDF()
  }

  /** Resize/re-encode payloads, keeping the column binary. */
  def resized(ds: Dataset[MediaRecord], maxBytes: Int): Dataset[MediaRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(r => MediaRecord(r.id, MediaCodec.resize(r.data, maxBytes))))
  }

  /** Extract a feature vector per record (the "embed every image" stage of
    * a multimodal pipeline). Output: (id, features: array<float>) — feeds
    * directly into the Similarity operators (ann_topk / emb_pairs). */
  def withFeatures(df: DataFrame, idCol: String, binCol: String, dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as[MediaRecord]
      .mapPartitions { it =>
        // A real model would be loaded HERE, once per partition.
        it.map(r => (r.id, MediaCodec.extractFeatures(r.data, dim)))
      }
      .toDF("id", "features")
  }

  /** The resize + embed tail of a media-prep pipeline as ONE codec pass:
    * each payload is deserialized exactly once, and both derivatives — the
    * byte-budgeted thumbnail's size and the feature vector — come out of
    * that single mapPartitions stage (composing [[resized]] with
    * [[withFeatures]] would instead ship the binary column through a
    * second deserialization). Features embed the ORIGINAL payload (what a
    * vision model would see); the resize is the storage artifact. A real
    * codec would decode once here and derive both from the decoded image.
    * Output: (id, n_bytes_out, features). */
  def resizedWithFeatures(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxBytes: Int,
      dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as[MediaRecord]
      .mapPartitions(_.map { r =>
        (r.id, MediaCodec.resize(r.data, maxBytes).length,
          MediaCodec.extractFeatures(r.data, dim))
      })
      .toDF("id", "n_bytes_out", "features")
  }

  /** Audio metadata per record (real WAV/AIFF/AU header decode, fallback
    * otherwise). Output: (id, sample_rate, channels, n_frames, format). */
  def withAudioMeta(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as[MediaRecord]
      .mapPartitions(_.map { r =>
        val (rate, ch, frames, fmt) = MediaCodec.decodeAudioMeta(r.data)
        (r.id, rate, ch, frames, fmt)
      })
      .toDF("id", "sample_rate", "channels", "n_frames", "format")
  }

  /** The audio twin of [[resizedWithFeatures]] — metadata + embedding in
    * ONE codec pass (header decode and feature extraction share the
    * single payload deserialization; a real build loads the audio model
    * once per partition here). Output: (id, sample_rate, channels,
    * n_frames, format, features). */
  def audioWithFeatures(
      df: DataFrame,
      idCol: String,
      binCol: String,
      dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as[MediaRecord]
      .mapPartitions(_.map { r =>
        val (rate, ch, frames, fmt) = MediaCodec.decodeAudioMeta(r.data)
        (r.id, rate, ch, frames, fmt, MediaCodec.extractFeatures(r.data, dim))
      })
      .toDF("id", "sample_rate", "channels", "n_frames", "format", "features")
  }

  /** Perceptual near-duplicate image pairs: dHash through the codec
    * boundary, then the SimHash pigeonhole band join — but run over the
    * DISTINCT 16-bit signatures, not the raw rows. A 16-bit signature
    * banded into 4-bit chunks has only 16 keys per band, so a banded
    * self-join over raw rows would still generate Θ(n²/16) candidates at
    * corpus scale; over distinct sigs the banded-join volume is bounded by
    * 2^32/16 — a CONSTANT, independent of corpus rows — and every
    * re-expanded candidate is already a true near-pair because the exact
    * Hamming filter ran at signature granularity. Equal-signature pairs
    * (Hamming 0) come from a plain sig equi-join; both expansions are
    * output-bound (no false candidates survive to the id joins).
    * NULL payloads are skipped like simhashPairs' NULL text.
    * Output: (i, j, hamming_dist), i < j. */
  def phashPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3): DataFrame =
    phashPairsFromSigs(phashSigs(df, idCol, binCol), maxHamming)

  /** The (id, sig) perceptual-signature frame [[phashPairs]] joins — the
    * decode/hash stage, and the unit the index below persists so daily
    * increments never re-decode historical media. */
  def phashSigs(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULL payloads are skipped, not hashed: the codec contract is
    // "corrupt rows skip, never kill the task", and the mm_phash oracle
    // filters NULL text up front to state the same semantics.
    df.filter(col(binCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as[MediaRecord]
      .mapPartitions(_.map(r => (r.id, MediaCodec.dHash16(r.data))))
      .toDF("id", "sig")
  }

  /** Persist a media slice's signatures (the gram-inventory set-store
    * posture: the stored unit is an (id, sig) row, merged by
    * distinct-on-read, so re-appending already-hashed media — re-crawls,
    * replayed batches — is idempotent). The EXPENSIVE stage this store
    * amortizes is the codec: signatures are a few bytes each, computed
    * once per media blob ever seen. Caller contract: an id's payload
    * (hence sig) is stable across appends. */
  def writePhashIndex(df: DataFrame, idCol: String, binCol: String, path: String): Unit =
    phashSigs(df, idCol, binCol).write.mode("overwrite").parquet(path)

  /** Add one increment to the signature store (see [[writePhashIndex]]). */
  def appendPhashIndex(df: DataFrame, idCol: String, binCol: String, path: String): Unit =
    phashSigs(df, idCol, binCol).write.mode("append").parquet(path)

  /** Near-dup pairs over everything ingested so far — bit-identical to
    * [[phashPairs]] over the union of the ingested frames (MultimodalSpec
    * pins parity and re-append idempotence). */
  def phashPairsFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxHamming: Int = 3): DataFrame =
    phashPairsFromSigs(spark.read.parquet(path).distinct(), maxHamming)

  /** [[phashPairsFromIndex]] minus the cross-slice distinct — for a
    * SINGLE-WRITER store (one overwrite write, one row per id by
    * construction), where the distinct would be a pure extra exchange of
    * the signature frame (the copresenceEdges raw-read precedent).
    * Multi-slice stores (appends, stream ingestion) must use
    * [[phashPairsFromIndex]]. */
  def phashPairsFromIndexRaw(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxHamming: Int = 3): DataFrame =
    phashPairsFromSigs(spark.read.parquet(path), maxHamming)

  /** [[phashPairs]] over an explicit `(id, sig)` frame — the composition
    * point for signature sources beyond the plain store (e.g. the
    * takedown-capable [[graft.functions.StoreLog]] face). Caller
    * guarantees one row per id. */
  def phashPairsFromSigs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, "need 0 <= maxHamming < 16")
    // <= 65536 distinct signatures: the band join runs at sig scale.
    val sigPairs = graft.functions.Dedup.bandedHammingPairs(
        sigs.select(col("sig")).distinct().select(col("sig").as("id"), col("sig")),
        totalBits = 16, maxHamming = maxHamming)
      .filter(col("hamming_dist") >= 1) // equal sigs handled exactly below
      .select(col("i").as("si"), col("j").as("sj"), col("hamming_dist"))
    // Re-expand near-sig pairs through the id side. The sig-pair table is
    // metadata-scale (bounded by the 16-bit space), so it broadcasts; a
    // given unordered id pair maps to exactly ONE unordered sig pair, so
    // no dedup pass is needed.
    val near = sigs.select(col("id").as("a"), col("sig").as("si"))
      .join(broadcast(sigPairs), Seq("si"))
      .join(sigs.select(col("id").as("b"), col("sig").as("sj")), Seq("sj"))
      .select(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"), col("hamming_dist"))
    val same = sigs.as("l")
      .join(sigs.as("r"), col("l.sig") === col("r.sig") && col("l.id") < col("r.id"))
      .select(col("l.id").as("i"), col("r.id").as("j"),
        lit(0).cast("int").as("hamming_dist"))
    near.unionByName(same)
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (extension surface).
  *
  * Media (image/audio/video) are opaque `binary` payload columns plus a
  * typed metadata struct — the schema a 100 TB multimodal corpus would
  * use (payloads inline for small media; at scale the payload column holds
  * a pointer + byte-range and the same operators apply after a fetch step).
  *
  * IMAGE decode is REAL: `javax.imageio` ships with the JDK, so
  * JPEG/PNG/BMP/GIF payloads get true dimensions, a real luminance
  * histogram and a perceptual hash. AUDIO windows are decoded REAL for 16-bit PCM WAV/AIFF/AU
  * payloads through `javax.sound.sampled`. VIDEO frames are REAL for
  * MJPEG-AVI payloads: a pure container walk splits the frames and
  * ImageIO decodes them; [[sampleFrames]] keeps a byte-chunk stand-in
  * for arbitrary payloads.
  * Everything Spark-side is real: schema, partition-preserving
  * mapPartitions, batch shape, column pruning (metadata-only queries
  * never touch payload bytes thanks to parquet column projection).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true),
      StructField("checksum", StringType, nullable = true))), nullable = true)))

  /** Build a media table from the documents testdata: payload = utf-8
    * bytes of the text (a deterministic stand-in for real media bytes),
    * metadata computed from the payload with built-in functions. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("source").as("source"),
        octet_length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"),
        md5(encode(col("text"), "UTF-8")).as("checksum")).as("meta"))

  /** REAL image decode via the JDK's javax.imageio: true width/height and
    * an 8-bin normalized luminance histogram as the feature vector
    * (deterministic — integer Rec.601 luma, fixed binning). Returns None
    * for null payloads and for byte streams ImageIO does not recognize
    * (text stand-ins, audio, video).
    *
    * Scale note: per-pixel getRGB is fine for thumbnail-class media; a
    * 100 TB pipeline feeding large images should read the Raster data
    * buffer per row instead — same operator shape, partition-local. */
  private[graft] def decodeImage(payload: Array[Byte])
      : Option[(Int, Int, Array[Float])] = {
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Long](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            hist(lum >> 5) += 1
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        Some((w, h, hist.map(_ / n)))
      }
      // NonFatal, not just IOException: ImageIO plugins throw
      // RuntimeException subclasses on corrupt streams, and a bad payload
      // must degrade to the stub path, not kill a 100 TB job
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Pure-JVM MJPEG-AVI frame splitter — CONTAINER parsing only, no
    * codec (the r10–r12 video-decode carry closed the honest way):
    * RIFF/AVI is a little-endian chunk walk, and an MJPEG AVI's
    * '##dc'/'##db' stream chunks inside LIST-'movi' ARE standalone JPEG
    * images, which the JDK's own ImageIO decodes — so MJPEG videos get
    * REAL frame extraction and REAL pixel decode with zero native
    * dependencies. Returns (microSecPerFrame, frame payloads) — frames
    * inside one level of LIST-'rec ' grouping included (the spec's
    * interleave layout); None when the payload isn't a RIFF AVI (other
    * codecs' frames simply won't ImageIO-decode). */
  private[ops] def splitAviFrames(payload: Array[Byte])
      : Option[(Long, Vector[Array[Byte]])] = {
    if (payload == null || payload.length < 12) return None
    def fourcc(off: Int): String =
      new String(payload, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    def u32(off: Int): Long = // RIFF is LITTLE-endian (vs MP4's big)
      (payload(off) & 0xFFL) | ((payload(off + 1) & 0xFFL) << 8) |
        ((payload(off + 2) & 0xFFL) << 16) |
        ((payload(off + 3) & 0xFFL) << 24)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    try {
      val frames = Vector.newBuilder[Array[Byte]]
      var usPerFrame = 0L
      var sawMovi = false
      def walk(lo: Int, hi: Int)(f: (String, Int, Int) => Unit): Unit = {
        var pos = lo
        var ok = true
        while (ok && pos + 8 <= hi) {
          val id = fourcc(pos)
          val size = u32(pos + 4)
          val start = pos + 8
          if (size < 0 || start + size > hi) ok = false
          else {
            f(id, start, (start + size).toInt)
            pos = (start + size + (size & 1)).toInt
          }
        }
      }
      def collectFrames(lo: Int, hi: Int, depth: Int): Unit =
        walk(lo, hi) { (cid, cs, ce) =>
          if (cid == "LIST" && ce - cs >= 4 && fourcc(cs) == "rec " &&
              depth == 0)
            collectFrames(cs + 4, ce, 1)
          else if (cid.length == 4 && ce > cs &&
              (cid.substring(2) == "dc" || cid.substring(2) == "db"))
            frames += java.util.Arrays.copyOfRange(payload, cs, ce)
        }
      walk(12, payload.length) { (id, s, e) =>
        if (id == "LIST" && e - s >= 4) fourcc(s) match {
          case "movi" => sawMovi = true; collectFrames(s + 4, e, 0)
          case "hdrl" =>
            walk(s + 4, e) { (hid, hs, he) =>
              if (hid == "avih" && he - hs >= 4) usPerFrame = u32(hs)
            }
          case _ =>
        }
      }
      if (sawMovi) Some((usPerFrame, frames.result())) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic 16-bit signed mono PCM WAV through the REAL JDK
    * encoder (javax.sound.sampled): `sample(i)` supplies frame i's raw
    * 16-bit value. The encoder's WAV container round-trips PCM
    * losslessly (OpsSpec pins the octet-level roundtrip on a constant-
    * amplitude fixture), which is what lets [[audioWindowStats]]'s
    * decoded stats be compared against a pure sample-formula oracle. */
  private[graft] def synthWav(nFrames: Int, sample: Int => Int,
                              rate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = sample(i)
      pcm(2 * i) = (s & 0xFF).toByte                // little-endian lo
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte     // hi
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** One decoded audio analysis window: exact integer moments off the
    * RAW 16-bit samples (no normalization — the determinism contract). */
  case class AudioWindow(media_id: Long, w: Long, n_frames: Long,
                         sumsq: Long, zero_crossings: Long)

  /** REAL windowed audio stats — per `windowFrames`-frame window of a
    * WAV/AIFF/AU payload: frame count, exact Σs² over the RAW 16-bit
    * integer samples, and the zero-crossing count (sign(s_i) flips vs
    * s_{i−1}, both frames inside the window; the first frame of each
    * window starts no pair — window-local, so stats are a pure function
    * of the window's own samples). Output adds `rms` = round-6
    * sqrt(sumsq/n) — ONE float op over two exact integers, mirrored
    * identically in the oracle. 16-bit signed mono PCM only (the synth
    * contract); unparseable or other-format payloads contribute no rows.
    *
    * Scale shape: partition-local decode (no shuffle, payload bytes
    * never leave the task); output is windows-per-payload rows, ~n/windowFrames
    * per media row. */
  def audioWindowStats(media: DataFrame, idCol: String,
                       payloadCol: String, windowFrames: Int): DataFrame = {
    require(windowFrames >= 2, "need windowFrames >= 2")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        if (payload == null) Iterator.empty
        else try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val fmt = ais.getFormat
            val ok = fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
              fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1
            if (!ok) Iterator.empty
            else {
              val bytes = ais.readAllBytes()
              val n = bytes.length / 2
              val big = fmt.isBigEndian
              def s(i: Int): Int = {
                val (b0, b1) =
                  if (big) (bytes(2 * i), bytes(2 * i + 1))
                  else (bytes(2 * i + 1), bytes(2 * i))
                (b0.toInt << 8) | (b1 & 0xFF)
              }
              val out = scala.collection.mutable.ArrayBuffer
                .empty[AudioWindow]
              var w = 0L
              var i = 0
              while (i < n) {
                val hi = math.min(n, i + windowFrames)
                var sumsq = 0L
                var zc = 0L
                var j = i
                while (j < hi) {
                  val v = s(j)
                  sumsq += v.toLong * v
                  if (j > i && ((v >= 0) != (s(j - 1) >= 0))) zc += 1
                  j += 1
                }
                out += AudioWindow(id, w, (hi - i).toLong, sumsq, zc)
                w += 1
                i = hi
              }
              out.iterator
            }
          } finally ais.close()
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
      .toDF()
      .withColumn("rms",
        round(sqrt(col("sumsq").cast("double") / col("n_frames")), 6))
  }

  /** PERCEPTUAL average-hash (aHash) of a decodable image: average-pool
    * the integer Rec.601 luma onto an 8×8 grid (cell boundaries by floor
    * division, every pixel in exactly one cell), threshold each cell mean
    * against the mean of the 64 cell means, bit (cy*8+cx) set iff
    * strictly above. All-integer arithmetic end to end, so the hash is a
    * pure function of the decoded raster — re-encodings and small local
    * edits of the same picture land within a few bits, which is what
    * makes hamming-banded near-dup joins work on images. None for
    * payloads ImageIO can't decode and for images smaller than the 8×8
    * grid (a sub-icon image has no stable perceptual content). */
  private[ops] def aHash64(payload: Array[Byte]): Option[Long] = {
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth < 8 || img.getHeight < 8) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            val c = cy * 8 + x * 8 / w
            sums(c) += lum
            counts(c) += 1
            x += 1
          }
          y += 1
        }
        val means = Array.tabulate(64)(i => sums(i) / counts(i))
        val thresh = means.sum / 64
        var hash = 0L
        var i = 0
        while (i < 64) {
          if (means(i) > thresh) hash |= (1L << i)
          i += 1
        }
        Some(hash)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-image perceptual hashes: partition-local `mapPartitions`
    * decode (no shuffle), one row
    * per DECODABLE image payload, (`media_id`, `ahash`). Undecodable or
    * sub-8×8 payloads are dropped (their near-dup story is the exact
    * checksum in `meta`, not a perceptual radius). */
  def imageHashes(media: DataFrame, idCol: String = "media_id",
                  payloadCol: String = "payload"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        aHash64(payload).map(h => (id, h))
      })
      .toDF(idCol, "ahash")
  }

  /** Image near-duplicate pairs: perceptual hashes ([[imageHashes]]) →
    * pigeonhole-banded hamming join ([[Dedup.bandedHammingPairs]] — the
    * same complete-for-the-radius candidate engine the text SimHash path
    * uses). Output (`id_a`, `id_b`, `hamming`), id_a < id_b. The decode
    * is partition-local; the only shuffle is the band-key join, whose
    * candidate mass follows the SimHash envelope (maxHamming ≤ 3 ⇒
    * ≥16-bit chunk keys, the ~linear regime to 10⁵–10⁶ images per
    * shard). */
  def imageNearDups(media: DataFrame, idCol: String = "media_id",
                    payloadCol: String = "payload",
                    maxHamming: Int = 3): DataFrame =
    Dedup.bandedHammingPairs(
      imageHashes(media, idCol, payloadCol)
        .select(col(idCol).as("doc_id"), col("ahash").as("sh")),
      maxHamming)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        col("hamming"))

  /** Frame sampling for "video" payloads: byte-range chunking + stride
    * sampling, all with built-in functions (no decode needed) — the real
    * frame boundaries would come from the container index; byte chunks
    * stand in deterministically. */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        posexplode(split(base64(col("payload")), s"(?<=\\G.{$frameBytes})"))
          .as(Seq("frame_idx", "frame_b64")))
      .filter(pmod(col("frame_idx"), lit(stride)) === 0)

  /** REAL video frame sampling for MJPEG-AVI payloads
    * ([[splitAviFrames]] container walk + ImageIO JPEG decode — no
    * codec, no native library): one row per stride-sampled DECODED
    * frame — (media_id, frame_idx, width, height, mean_luma_micros),
    * mean luma from the Rec.601 8-bin histogram's bin centers in
    * micros of full scale. Payloads that are not RIFF AVIs, and frames
    * a codec this JVM lacks produced, emit NO rows — the honest
    * contract ([[sampleFrames]] keeps the byte-chunk stand-in for
    * arbitrary payloads; a pipeline unions the two by kind).
    *
    * Scale shape: partition-local mapPartitions (decode where the
    * bytes already sit, zero shuffle); `stride` cuts decode cost
    * linearly, the standard frame-sampling move for video corpora. */
  def videoFrames(media: DataFrame, stride: Int = 1): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select("media_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        splitAviFrames(payload).iterator.flatMap { case (_, frames) =>
          frames.iterator.zipWithIndex
            .filter(_._2 % stride == 0)
            .flatMap { case (f, i) =>
              decodeImage(f).map { case (w, h, hist) =>
                val luma = hist.zipWithIndex
                  .map { case (p, bi) => p.toDouble * (bi + 0.5) / 8.0 }
                  .sum
                (id, i.toLong, w, h, math.round(luma * 1e6))
              }
            }
        }
      })
      .toDF("media_id", "frame_idx", "width", "height",
        "mean_luma_micros")
  }
}

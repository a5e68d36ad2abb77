package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal-column plumbing (extension surface).
  *
  * Media are opaque `binary` payload columns plus a typed metadata
  * struct ([[fromDocuments]], q27). AUDIO windows are decoded REAL for
  * 16-bit PCM WAV/AIFF/AU payloads through the JDK's
  * `javax.sound.sampled` ([[audioWindowStats]]); [[synthWav]] builds
  * deterministic WAV payloads for it. Decoding is partition-local
  * (payload bytes never leave the task), and metadata-only queries never
  * touch payload bytes thanks to parquet column projection.
  */
object Multimodal {

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
}

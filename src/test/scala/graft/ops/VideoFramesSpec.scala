package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Round-12 close of the video-decode carry: MJPEG-AVI frame decode is
  * REAL — pure RIFF container parsing ([[Multimodal.splitAviFrames]])
  * plus the JDK's own ImageIO JPEG decoder, zero native codecs. The
  * fixture is a spec-conformant AVI (RIFF/'AVI ', LIST-hdrl with avih,
  * LIST-movi with '00dc' JPEG chunks) built from real ImageIO-encoded
  * JPEG frames, so the test exercises the actual byte layout a capture
  * tool writes, not a parser-shaped fake. */
class VideoFramesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jpegFrame(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal spec-conformant MJPEG AVI around the given frames. */
  private def mjpegAvi(frames: Seq[Array[Byte]],
                       usPerFrame: Long = 40000L): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("ISO-8859-1") ++ le32(data.length) ++ data ++ pad
    }
    def list(kind: String, content: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("ISO-8859-1") ++ content)
    val avih = {
      val d = new Array[Byte](56)
      le32(usPerFrame).copyToArray(d, 0)
      le32(frames.size.toLong).copyToArray(d, 16) // dwTotalFrames
      chunk("avih", d)
    }
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = "AVI ".getBytes("ISO-8859-1") ++ list("hdrl", avih) ++ movi
    bos.write("RIFF".getBytes("ISO-8859-1"))
    bos.write(le32(body.length.toLong))
    bos.write(body)
    bos.toByteArray
  }

  test("splitAviFrames round-trips the exact JPEG frame bytes and the " +
    "frame interval; non-AVI payloads return None") {
    val frames = Seq(jpegFrame(16, 8, 32), jpegFrame(16, 8, 128),
      jpegFrame(16, 8, 224))
    val avi = mjpegAvi(frames)
    val got = Multimodal.splitAviFrames(avi)
    assert(got.isDefined)
    val (us, fs) = got.get
    assert(us == 40000L && fs.size == 3)
    fs.zip(frames).foreach { case (a, b) => assert(a.sameElements(b)) }
    assert(Multimodal.splitAviFrames("not an avi at all".getBytes).isEmpty)
    assert(Multimodal.splitAviFrames(null).isEmpty)
  }

  test("videoFrames: stride sampling over REAL decoded frames, " +
    "per-frame luma ordered by the frames' gray levels, non-AVI " +
    "payloads contribute zero rows") {
    // one gray level per histogram bin (bins are luma >> 5): strictly
    // increasing bin centers -> strictly increasing mean luma
    val avi = mjpegAvi(Seq(jpegFrame(16, 8, 32), jpegFrame(16, 8, 96),
      jpegFrame(16, 8, 160), jpegFrame(16, 8, 224)))
    val media = Seq(
      (1L, "video", avi),
      (2L, "video", "garbage".getBytes),
      (3L, "image", jpegFrame(4, 4, 10))
    ).toDF("media_id", "kind", "payload")
    val all = Multimodal.videoFrames(media, stride = 1)
      .orderBy("frame_idx")
      .as[(Long, Long, Int, Int, Long)].collect()
    assert(all.forall(_._1 == 1L), "only the real AVI contributes")
    assert(all.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(all.forall(r => r._3 == 16 && r._4 == 8))
    val lumas = all.map(_._5)
    assert(lumas.sliding(2).forall(p => p(0) < p(1)),
      s"luma must increase with gray level: ${lumas.toSeq}")
    val strided = Multimodal.videoFrames(media, stride = 2)
      .select("frame_idx").as[Long].collect().sorted
    assert(strided.toSeq == Seq(0L, 2L))
  }
}

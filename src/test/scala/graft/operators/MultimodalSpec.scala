package graft.operators

import java.awt.image.BufferedImage

import graft.SparkSpec
import graft.synth.ImageCodec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def gradient(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8) | 128)
    img
  }

  private def encVia(fmt: String, img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("decodeFeatures: gif and bmp decode for real via the in-JDK registry") {
    val enc = encVia _
    val rows = Seq(
      ("g", enc("gif", gradient(20, 12)), "gif"),
      ("b", enc("bmp", gradient(16, 10)), "bmp"),
      ("p", ImageCodec.encodePng(gradient(8, 8)), "png"),
      ("w", Array[Byte](1, 2, 3), "webp")) // no jdk codec -> stub path
      .toDF("image_id", "bytes", "fmt")
    val out = Multimodal.decodeFeatures(spark, rows)
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out("g") == ((true, 20, 12)))
    assert(out("b") == ((true, 16, 10)))
    assert(out("p") == ((true, 8, 8)))
    assert(out("w")._1 == false, "webp must take the honest stub path")
  }
}

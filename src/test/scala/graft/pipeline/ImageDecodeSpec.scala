package graft.pipeline

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import Media._

/** Differential spec for [[Media.decodeRgb]]: on every raster layout
  * the JVM's ImageIO readers produce, the decoded pixels and everything
  * computed from them ([[Media.imageFeatures]], [[Media.decodeImage]]'s
  * `avgLuma`, [[Media.phash]]) are bit-identical to a reference built
  * from `ImageIO.read(InputStream)` + `BufferedImage.getRGB` + the same
  * arithmetic. It also pins the routing: the 256-entry colour table
  * serves exactly the rasters with one byte element per pixel, and every
  * raster it refuses is one where a one-byte element cannot even be
  * passed to the colour model. */
class ImageDecodeSpec extends AnyFunSuite with Matchers {

  /** One encodable image layout: `table` is whether its decoded raster
    * takes the colour table (true) or the bulk `getRGB` (false). */
  private case class Kind(name: String, format: String, table: Boolean,
      make: (Int, Int, scala.util.Random) => BufferedImage)

  /** A random `bits`-deep palette of `size` colours, with random alpha
    * when `alpha`. */
  private def palette(bits: Int, size: Int, alpha: Boolean,
      r: scala.util.Random): IndexColorModel = {
    def bytes() = Array.fill(size)(r.nextInt(256).toByte)
    if (alpha) new IndexColorModel(bits, size, bytes(), bytes(), bytes(), bytes())
    else new IndexColorModel(bits, size, bytes(), bytes(), bytes())
  }

  /** `tpe` filled with random samples below `bound` on band 0. */
  private def samples(tpe: Int, bound: Int)(w: Int, h: Int,
      r: scala.util.Random): BufferedImage =
    fill(new BufferedImage(w, h, tpe), bound, r)

  /** A palette image of `size` colours `bits` deep, random indices. */
  private def indexed(bits: Int, size: Int, alpha: Boolean = false)(w: Int,
      h: Int, r: scala.util.Random): BufferedImage = {
    val tpe = if (bits < 8) BufferedImage.TYPE_BYTE_BINARY
              else BufferedImage.TYPE_BYTE_INDEXED
    fill(new BufferedImage(w, h, tpe, palette(bits, size, alpha, r)), size, r)
  }

  private def fill(img: BufferedImage, bound: Int,
      r: scala.util.Random): BufferedImage = {
    val raster = img.getRaster
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      raster.setSample(x, y, 0, r.nextInt(bound))
    img
  }

  private def argb(tpe: Int)(w: Int, h: Int, r: scala.util.Random): BufferedImage = {
    val img = new BufferedImage(w, h, tpe)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, r.nextInt())
    img
  }

  private val kinds = Seq(
    Kind("8-bit gray PNG", "png", table = true,
      samples(BufferedImage.TYPE_BYTE_GRAY, 256)),
    Kind("16-bit gray PNG", "png", table = false,
      samples(BufferedImage.TYPE_USHORT_GRAY, 65536)),
    Kind("1-bit PNG", "png", table = true,
      samples(BufferedImage.TYPE_BYTE_BINARY, 2)),
    Kind("gray JPEG", "jpg", table = true,
      samples(BufferedImage.TYPE_BYTE_GRAY, 256)),
    Kind("2-bit palette PNG", "png", table = true, indexed(2, 4)),
    Kind("4-bit palette PNG", "png", table = true, indexed(4, 16)),
    Kind("8-bit palette PNG, 200 entries", "png", table = true, indexed(8, 200)),
    Kind("palette PNG with alpha (tRNS)", "png", table = true,
      indexed(8, 64, alpha = true)),
    Kind("indexed GIF", "gif", table = true, indexed(8, 256)),
    Kind("indexed BMP", "bmp", table = true, indexed(8, 256)),
    Kind("RGB PNG", "png", table = false, argb(BufferedImage.TYPE_INT_RGB)),
    Kind("ARGB PNG", "png", table = false, argb(BufferedImage.TYPE_INT_ARGB)),
    Kind("RGB JPEG", "jpg", table = false, argb(BufferedImage.TYPE_INT_RGB)))

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, out), s"no $format writer for this image")
    out.toByteArray
  }

  /** (width, height, pixel seed): 1×1 up to 40×40. */
  private val shapes = Gen.zip(Gen.choose(1, 40), Gen.choose(1, 40), Gen.long)

  private def forAllSampled[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def floatBits(a: Array[Float]): Seq[Int] =
    a.toSeq.map(java.lang.Float.floatToIntBits)

  for (k <- kinds) test(s"${k.name}: pixels, features, avgLuma and phash " +
      s"equal getRGB's, via ${if (k.table) "the colour table" else "bulk getRGB"}") {
    forAllSampled(shapes, 12) { case (w, h, seed) =>
      val bytes = encode(k.make(w, h, new scala.util.Random(seed)), k.format)
      val ref = ImageIO.read(new ByteArrayInputStream(bytes))
      val refPx = ref.getRGB(0, 0, w, h, null, 0, w)

      // The routing, read from the decoded raster's layout.
      val cm = ref.getColorModel
      byteIndexed(ref.getRaster) shouldBe k.table
      if (k.table) (0 until 256).foreach(v => cm.getRGB(Array(v.toByte)))
      else {
        val e = intercept[RuntimeException](cm.getRGB(Array(0.toByte)))
        e should (be(a[ClassCastException]) or
          be(an[ArrayIndexOutOfBoundsException]))
      }

      decodeRgb(bytes)._2.toSeq shouldBe refPx.toSeq

      val luma = refPx.map(p => ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff))
      val bins = new Array[Long](FeatureDim)
      luma.foreach(l => bins(l / 3 * FeatureDim / 256) += 1)
      floatBits(imageFeatures(bytes)) shouldBe
        floatBits(bins.map(_ / refPx.length.toFloat))

      val meta = decodeImage(bytes)
      (meta.width, meta.height, meta.channels) shouldBe
        ((w, h, cm.getNumComponents))
      java.lang.Double.doubleToLongBits(meta.avgLuma) shouldBe
        java.lang.Double.doubleToLongBits(
          luma.map(_.toLong).sum.toDouble / (3.0 * refPx.length))

      phash(bytes) shouldBe phashPixels(w, h, refPx)
    }
  }
}

package graft.etl

import java.awt.image.BufferedImage
import java.awt.{Color, Font}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ext.ImageFeatures

/** `Images.renderPng` writes a 1-bit palette PNG of its own. Every render
  * must decode to exactly the pixels of the truecolor drawing kept here as
  * the oracle (the placeholder the engine rendered before it switched
  * encoders), be byte-stable, and look the same to the downstream image
  * features.
  */
class ImagesSpec extends AnyFunSuite with SharedSpark {

  /** The truecolor reference: a flat seed-coloured fill, then the label in
    * white, on a `TYPE_INT_RGB` raster. */
  private def reference(elemType: String, typeIndex: Int, caption: String,
                        scale: Double): BufferedImage = {
    val w = math.max(1, (400 * scale).toInt)
    val h = math.max(1, (300 * scale).toInt)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      val seed = (elemType.hashCode * 31 + typeIndex) * 31 +
        (if (caption == null) 0 else caption.hashCode)
      g.setColor(new Color(seed & 0xFF, (seed >> 8) & 0xFF, (seed >> 16) & 0xFF))
      g.fillRect(0, 0, w, h)
      g.setColor(Color.WHITE)
      g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, math.max(10, (12 * scale).toInt)))
      g.drawString(s"$elemType #$typeIndex" +
        (if (caption != null) s": $caption" else ""), w / 10, h / 2)
    } finally g.dispose()
    img
  }

  private def pixels(img: BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  private def decode(png: Array[Byte]): BufferedImage =
    ImageIO.read(new ByteArrayInputStream(png))

  /** Seeded (type, index, caption) triples plus the edge captions: none,
    * one far wider than the image, and one outside ASCII. */
  private val triples: Seq[(String, Int, String)] = {
    val rnd = new scala.util.Random(20261021L)
    val words = Seq("totals", "by", "source", "Q3", "revenue", "figure", "mean", "(n=12)")
    val seeded = (1 to 12).map { _ =>
      (if (rnd.nextBoolean()) "table" else "figure", 1 + rnd.nextInt(40),
        Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" "))
    }
    seeded ++ Seq(
      ("table", 1, null),
      ("figure", 7, Seq.fill(60)("wide caption").mkString(" ")),
      ("table", 3, "Übersicht — données 数据 ✓ ñ"))
  }
  // 1.01 gives 404 px: a row that ends mid-byte
  private val scales = Seq(1.0, 2.0, 1.01)
  private val cases = for (t <- triples; s <- scales) yield (t, s)

  test("every render decodes to the truecolor oracle's pixels, as a 1-bit palette PNG") {
    for (((t, i, c), s) <- cases) {
      val png = Images.renderPng(t, i, c, s)
      val want = reference(t, i, c, s)
      val got = decode(png)
      assert(got.getWidth == want.getWidth && got.getHeight == want.getHeight)
      val (a, b) = (pixels(want), pixels(got))
      assert(a.distinct.length <= 2, s"the oracle itself has >2 colours: ($t, $i, $c, $s)")
      val diff = a.indices.count(k => a(k) != b(k))
      assert(diff == 0, s"$diff pixels differ for ($t, $i, $c, $s)")
      // IHDR: bit depth 1, colour type 3 (palette)
      assert(png(24) == 1 && png(25) == 3)
    }
  }

  test("the same inputs give the same bytes") {
    for (((t, i, c), s) <- cases)
      assert(Images.renderPng(t, i, c, s).sameElements(Images.renderPng(t, i, c, s)),
        s"($t, $i, $c, $s)")
  }

  test("image features agree with an ImageIO truecolor encoding of the oracle") {
    import spark.implicits._
    val rows = cases.zipWithIndex.map { case (((t, i, c), s), k) =>
      val out = new ByteArrayOutputStream()
      ImageIO.write(reference(t, i, c, s), "png", out)
      (k.toLong, Images.renderPng(t, i, c, s), out.toByteArray)
    }
    def features(content: Int) = ImageFeatures.imageFeatures(
      rows.map(r => (r._1, if (content == 0) r._2 else r._3)).toDF("media_id", "content"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))))
      .toMap
    val (direct, truecolor) = (features(0), features(1))
    assert(direct.size == cases.size)
    assert(direct == truecolor)
  }
}

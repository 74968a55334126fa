package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import scala.util.Random

/** Seeded input generators shared by the workloads. */
object Gen {

  /** A fixed vocabulary of 4096 lowercase words of 5 to 8 letters. Random
    * documents of ~100 of these words share no word 3-shingle with each
    * other in practice, so unrelated documents sit far below any Jaccard
    * threshold. */
  val vocab: Array[String] = {
    val r = new Random(7L)
    Array.fill(4096)(Array.fill(5 + r.nextInt(4))(('a' + r.nextInt(26)).toChar)
      .mkString)
  }

  /** A clean document: `n` vocabulary words, no punctuation, well over 500
    * characters for n ≥ 80, so it passes the quality filter. */
  def text(rng: Random, n: Int): String =
    Array.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  /** A near-duplicate: `edits` distinct word positions replaced, which for
    * a 100-word document leaves a word 3-shingle Jaccard near 0.88. */
  def nearCopy(rng: Random, text: String, edits: Int): String = {
    val ws = text.split(" ")
    rng.shuffle(ws.indices.toList).take(edits).foreach { i =>
      var w = ws(i)
      while (w == ws(i)) w = vocab(rng.nextInt(vocab.length))
      ws(i) = w
    }
    ws.mkString(" ")
  }

  /** An exact duplicate after normalisation: different case and spacing,
    * the same content fingerprint. */
  def exactCopy(text: String): String =
    "  " + text.toUpperCase.replace(" ", "   ") + " "

  /** A low-quality document: short and mostly punctuation. */
  def junk(rng: Random): String =
    Array.fill(6)(vocab(rng.nextInt(vocab.length)).take(3) + "!!??").mkString(" ")

  /** A 9×8 grid of gray blocks whose horizontal neighbours differ by at
    * least 20 levels, painted `8·scale` pixels per block. The perceptual
    * dHash reads exactly this grid, so a copy painted at another scale has
    * the same hash, and two independent grids differ in ~32 of 64 bits. */
  def grid(rng: Random): Array[Array[Int]] =
    Array.fill(8) {
      val row = new Array[Int](9)
      row(0) = rng.nextInt(256)
      for (c <- 1 until 9) {
        val step = 20 + rng.nextInt(80)
        val up = row(c - 1) + step
        val down = row(c - 1) - step
        row(c) =
          if (up > 255) down
          else if (down < 0) up
          else if (rng.nextBoolean()) up else down
      }
      row
    }

  def paint(grid: Array[Array[Int]], scale: Int): Array[Byte] = {
    val px = 8 * scale
    val img = new BufferedImage(9 * px, 8 * px, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8 * px; x <- 0 until 9 * px) {
      val g = grid(y / px)(x / px)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  def png(rng: Random, scale: Int): Array[Byte] = paint(grid(rng), scale)

  /** `n` family centres in `dim` dimensions: each lies near one of 32
    * cluster centres (offset 0.5 per coordinate), so the corpus has coarse
    * clusters for the quantizer and tight families of near neighbours. */
  def families(rng: Random, n: Int, dim: Int): Array[Array[Double]] = {
    val clusters = Array.fill(32)(Array.fill(dim)(rng.nextGaussian()))
    Array.fill(n) {
      clusters(rng.nextInt(clusters.length))
        .map(x => x + 0.5 * rng.nextGaussian())
    }
  }

  /** A point of a random family (noise 0.1 per coordinate). */
  def near(rng: Random, fs: Array[Array[Double]]): Array[Float] = {
    val f = fs(rng.nextInt(fs.length))
    f.map(x => (x + 0.1 * rng.nextGaussian()).toFloat)
  }
}

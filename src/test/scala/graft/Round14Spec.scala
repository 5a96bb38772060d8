package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** The ragged-grid aHash pin: whole-image-mean threshold on
  * non-multiple-of-8 images, which no multiple-of-16 fixture separates
  * from a mean of cell means. */
class Round14Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private def png(f: (Int, Int) => Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Independent replay of the documented aHash definition: 8×8 grid of
    * `min(coord * 8 / extent, 7)` cells, bit set iff the exact rational
    * cell mean >= the exact rational WHOLE-IMAGE mean (cross-multiplied,
    * `>=` sets the bit on ties). Kept deliberately naive — BigInt math,
    * per-pixel maps — so it shares no code shape with the operator. */
  private def replayAHash(f: (Int, Int) => Int, w: Int, h: Int): Long = {
    val sums = scala.collection.mutable.Map.empty[Int, BigInt].withDefaultValue(BigInt(0))
    val counts = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = f(x, y)
      val lum = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
      val c = math.min(y * 8 / h, 7) * 8 + math.min(x * 8 / w, 7)
      sums(c) += lum
      counts(c) += 1
    }
    val totalSum = sums.values.sum
    val totalCount = BigInt(w) * h
    (0 until 64).foldLeft(0L) { (acc, i) =>
      if (counts(i) > 0 && sums(i) * totalCount >= totalSum * counts(i))
        acc | (1L << i)
      else acc
    }
  }

  test("imageAHash ragged grid (w,h not multiples of 8): whole-image-mean bits pinned") {
    // 13×11: cells get 1 or 2 columns/rows each, so cell pixel counts
    // differ (2,2,2,1,2,2,1,1 columns × 2,1,2,1,2,1,1,1 rows) — exactly
    // the shape where whole-image mean and mean-of-cell-means diverge.
    val (w, h) = (13, 11)
    def pix(x: Int, y: Int): Int = {
      // deterministic, irregular: bright block top-left, dim gradient
      val v = if (x < 4 && y < 3) 250 else (x * 7 + y * 13) % 120
      (v << 16) | (v << 8) | v
    }
    val got = Multimodal.imageAHash(png(pix, w, h))
    assert(got != null)
    val expected = replayAHash(pix, w, h)
    assert(got.longValue == expected,
      s"ragged aHash drifted: got ${java.lang.Long.toHexString(got)}, " +
        s"expected ${java.lang.Long.toHexString(expected)}")
    // Literal pin: any future threshold change (e.g. a silent return to
    // mean-of-cell-means) must update this constant CONSCIOUSLY.
    // HASH-COMPATIBILITY NOTE for anyone persisting aHash values: ragged-
    // grid hashes emitted before round 13 used mean-of-cell-means (this
    // image hashed 0xe08003070e3cf3c3L then) and are NOT comparable.
    assert(got.longValue == 0xc08003070e38f3c3L)
    // and prove this fixture DISCRIMINATES: mean-of-cell-means on the
    // same image flips at least one bit, so a regression cannot hide.
    val cellMeans = {
      val sums = Array.fill(64)(0.0); val counts = Array.fill(64)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = pix(x, y)
        val lum = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        val c = math.min(y * 8 / h, 7) * 8 + math.min(x * 8 / w, 7)
        sums(c) += lum; counts(c) += 1
      }
      val means = (0 until 64).map(i => sums(i) / counts(i))
      val thresh = means.sum / 64
      (0 until 64).foldLeft(0L)((acc, i) =>
        if (means(i) >= thresh) acc | (1L << i) else acc)
    }
    assert(cellMeans != expected,
      "fixture does not separate the two threshold semantics — pick another image")
  }
}

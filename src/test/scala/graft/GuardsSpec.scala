package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Dedup, Guards, PairJoin}

/** [[Guards.fanOut]], the one probe behind every join-volume guard, against
  * brute force on seeded fixtures; the NULL-key rule (a key that cannot
  * join never trips a guard); and the degenerate-bucket guard of the pair
  * lanes that read it. */
class GuardsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private val keys = Seq("k1", "k2")

  /** `n` rows over two key columns, each NULL one time in eight. */
  private def sideRows(rnd: Random, n: Int): Seq[(Option[Int], Option[String])] =
    Seq.fill(n)((
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(6)),
      if (rnd.nextInt(8) == 0) None else Some("abc".charAt(rnd.nextInt(3)).toString)))

  /** Seeded (left, right): `hot` extra rows of key (7, "z") on the right
    * side only, so the right side's hottest key pairs with nothing. */
  private def fixture(seed: Int, hot: Int = 60) = {
    val rnd = new Random(seed)
    val left = sideRows(rnd, 300)
    val right = sideRows(rnd, 200) ++ Seq.fill(hot)((Some(7), Some("z")))
    (left, right)
  }

  private def frame(rows: Seq[(Option[Int], Option[String])]): DataFrame =
    rows.toDF("k1", "k2")

  /** A side's joinable rows per key, brute force. */
  private def counts(rows: Seq[(Option[Int], Option[String])]) =
    rows.collect { case (Some(a), Some(b)) => (a, b) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  /** The largest count, ties to the largest key (struct ordering). */
  private def hottest(c: Map[(Int, String), Long]): Option[(Row, Long)] =
    c.toSeq.sortBy { case ((a, b), n) => (n, a, b) }.lastOption
      .map { case ((a, b), n) => (Row(a, b), n) }

  private def assertFanOut(f: Guards.FanOut,
                           left: Seq[(Option[Int], Option[String])],
                           right: Seq[(Option[Int], Option[String])],
                           joined: Long): Unit = {
    val (lc, rc) = (counts(left), counts(right))
    val pairs = lc.map { case (k, n) => n * rc.getOrElse(k, 0L) }.sum
    assert(f.pairs == java.math.BigInteger.valueOf(pairs))
    assert(f.pairs.longValueExact() == joined)
    assert(f.leftRows == lc.values.sum && f.rightRows == rc.values.sum)
    assert(f.hotLeft.map(h => (h.key, h.rows)) == hottest(lc))
    assert(f.hotRight.map(h => (h.key, h.rows)) == hottest(rc))
  }

  test("fanOut: two-sided form equals brute force (two-column keys with " +
    "NULL components, a hot key on the right side only)") {
    for (seed <- Seq(3, 17, 41)) {
      val (left, right) = fixture(seed)
      val (l, r) = (frame(left), frame(right))
      val f = Guards.fanOut(l, r, keys)
      assertFanOut(f, left, right, l.join(r, keys).count())
      assert(f.hotRight.map(_.key) == Some(Row(7, "z")), s"seed $seed")
    }
  }

  test("fanOut: self form equals brute force and the two-sided form") {
    for (seed <- Seq(5, 29)) {
      val (left, _) = fixture(seed)
      val l = frame(left)
      val self = Guards.fanOut(l, l, keys)
      assertFanOut(self, left, left,
        l.as("a").join(l.as("b"), keys).count())
      // a second reference to the same rows takes the two-sided form
      assert(Guards.fanOut(l, l.select("*"), keys) == self)
    }
  }

  test("fanOut: an empty side pairs nothing and has no hottest key") {
    val (left, right) = fixture(11)
    val (l, r) = (frame(left), frame(right))
    val noRight = Guards.fanOut(l, r.where(lit(false)), keys)
    assertFanOut(noRight, left, Nil, 0L)
    assert(noRight.hotRight.isEmpty && noRight.hotLeft.nonEmpty)
    val nulls = frame(Seq.fill(5)((None, Some("a"))))
    val none = Guards.fanOut(nulls, nulls, keys)
    assert(none == Guards.FanOut(java.math.BigInteger.ZERO, 0L, 0L, None, None))
  }

  // ---- NULL keys never pair, so they never trip a guard -------------------

  test("PairJoin.selfJoin: NULL bucket keys never trip the guard") {
    val nullKeyed = spark.range(20).select(col("id").as("_id_"),
      lit(null).cast("int").as("_k_"))
    // the plain equi-join of these rows emits nothing
    assert(nullKeyed.as("a").join(nullKeyed.as("b"), "_k_").count() == 0L)
    val got = PairJoin.selfJoin(nullKeyed, Seq("_k_"), "spec", bound = 10L,
      remedy = "none")
    assert(got.count() == 0L)
    // the same rows under one non-NULL key still raise, naming that key
    val e = intercept[IllegalArgumentException] {
      PairJoin.selfJoin(nullKeyed.na.fill(3, Seq("_k_")), Seq("_k_"), "spec",
        bound = 10L, remedy = "none")
    }
    assert(e.getMessage.contains("spec: degenerate LSH bucket (_k_=3) holds 20 rows"))
  }

  test("coPurchaseTopK: a NULL basket never trips the basket guard") {
    val healthy = (1 to 20).flatMap(b => Seq((b.toLong, (b % 5).toLong),
      (b.toLong, (b % 5 + 10).toLong)))
      .map { case (b, i) => (Option(b), i) }
    val nullBasket = (1 to 40).map(i => (Option.empty[Long], i.toLong))
    val df = (healthy ++ nullBasket).toDF("basket", "item")
    val got = Analytics.coPurchaseTopK(df, "basket", "item", k = 2,
      pairBound = 500L).collect().toSet
    val unguarded = Analytics.coPurchaseTopK(df, "basket", "item", k = 2,
      pairBound = -1L).collect().toSet
    assert(got == unguarded && got.nonEmpty)
    // items 15..40 sit only in the NULL basket, so they pair with nothing
    assert(!got.exists(r => r.getAs[Long](0) > 14L || r.getAs[Long](1) > 14L))
  }

  // ---- the pair lanes' degenerate-bucket guard ----------------------------

  test("minHashLshPairs raises by name on a degenerate bucket") {
    // 30 identical texts: every band bucket holds all 30 rows
    val df = spark.range(30).select(col("id"),
      lit("the same boilerplate text repeated verbatim").as("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashLshPairs(df, "text", "id", degenerateBucketBound = 10L)
    }
    assert(e.getMessage.contains("minHashLshPairs"))
    assert(e.getMessage.contains("degenerate LSH bucket"))
    assert(e.getMessage.contains("maxBucketSize"))
  }

  test("minHashLshPairs with maxBucketSize below the bound skips the probe") {
    // same degenerate corpus, but the caller capped: oversized buckets
    // are DROPPED before pairing, so no raise and no candidate pairs
    val df = spark.range(30).select(col("id"),
      lit("the same boilerplate text repeated verbatim").as("text"))
    val got = Dedup.minHashLshPairs(df, "text", "id",
      maxBucketSize = 10, degenerateBucketBound = 10L)
    assert(got.count() === 0L)
  }

  test("simHashPairs raises by name on a degenerate bucket") {
    val df = spark.range(30).select(col("id"),
      lit("identical template text").as("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.simHashPairs(df, "text", "id", degenerateBucketBound = 10L)
    }
    assert(e.getMessage.contains("simHashPairs"))
    assert(e.getMessage.contains("degenerate LSH bucket"))
  }
}

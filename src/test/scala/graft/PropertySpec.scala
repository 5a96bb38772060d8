package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized invariant checks (fixed seeds — deterministic): each test
  * drives an operator with adversarial random inputs and asserts the
  * property a hand-picked fixture can only sample. The brute-force
  * reference implementations are deliberately naive — independent of
  * the operator's plan shape. */
class PropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  test("attribution conservation: position splits sum to total revenue, any input") {
    val rnd = new scala.util.Random(42)
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    for (trial <- 1 to 3) {
      val nUsers = 12
      val touches = (1 to 120).map { i =>
        (rnd.nextInt(nUsers).toLong, ts(rnd.nextInt(5000)),
          s"ch${rnd.nextInt(4)}", 1000L + i)
      }.toDF("user_id", "ts", "event_type", "event_id")
      val convs = (1 to 25).map { i =>
        (rnd.nextInt(nUsers).toLong, ts(rnd.nextInt(5000)), 2000L + i,
          rnd.nextLong(20001) - 10000L) // negative refunds included
      }.toDF("user_id", "ts", "event_id", "rev_milli")
      val total = convs.agg(sum("rev_milli")).as[Long].head()
      Seq(
        graft.operators.Analytics.positionAttribution(convs, touches,
          "user_id", "ts", "event_type", "rev_milli", "event_id",
          "event_id", windowSeconds = 1800),
        graft.operators.Analytics.linearAttribution(convs, touches,
          "user_id", "ts", "event_type", "rev_milli", "event_id",
          "event_id", windowSeconds = 1800)
      ).foreach { out =>
        val credited = out.agg(sum("revenue_milli")).as[Long].head()
        assert(credited == total, s"trial $trial: $credited != $total")
      }
    }
  }

  test("sharded running total == single global window, with NULL groups and ties") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      (if (rnd.nextInt(4) == 0) null
       else s"g${rnd.nextInt(3)}", // NULL group must behave as one group
        rnd.nextInt(40).toLong, // heavy id ties
        rnd.nextInt(100).toLong,
        rnd.nextLong()) // unique tie-break
    }.toDF("g", "id", "tok", "tie")
    val sharded = graft.operators.Packing.runningTotalSharded(
        rows, "id", "tok", "cum", numShards = 7,
        groupCols = Seq("g"), tieCols = Seq("tie"))
      .select("g", "id", "tie", "cum")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("id", "tie")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val windowed = rows.withColumn("cum", sum("tok").over(w))
      .select("g", "id", "tie", "cum")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    assert(sharded == windowed)
  }

  test("intervalOverlapJoin == naive theta join on random intervals") {
    val rnd = new scala.util.Random(11)
    val left = (1 to 150).map { i =>
      val s = rnd.nextInt(10000).toLong
      (s"k${rnd.nextInt(4)}", i.toLong, s, s + 1 + rnd.nextInt(500))
    }.toDF("key", "lid", "ls", "le")
    val right = (1 to 150).map { i =>
      val s = rnd.nextInt(10000).toLong
      (s"k${rnd.nextInt(4)}", i.toLong, s, s + 1 + rnd.nextInt(500))
    }.toDF("key", "rid", "rs", "re")
    val tiled = graft.operators.Temporal.intervalOverlapJoin(
        left, right, "key", "ls", "le", "rs", "re", bucketWidth = 128)
      .select("lid", "rid").as[(Long, Long)].collect()
    val naive = left.join(right, Seq("key"))
      .where(col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(tiled.length == tiled.distinct.length) // never a duplicate pair
    assert(tiled.toSet == naive.toSet)
  }

  test("hilbert d is a bijection at every precision") {
    for (bits <- Seq(1, 2, 4)) {
      val n = 1 << bits
      val grid = (for { x <- 0 until n; y <- 0 until n } yield (x, y))
        .toDF("x", "y")
      val d = graft.operators.Layout
        .withHilbertValue(grid, col("x"), col("y"), "d", bits)
        .select("d").as[Long].collect().sorted
      assert(d.toSeq == (0L until (n.toLong * n)), s"bits=$bits")
    }
  }

  test("mannWhitneyU matches brute-force midranks on random tied samples") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val a = Seq.fill(30)(rnd.nextInt(8).toLong) // heavy ties
      val b = Seq.fill(25)(rnd.nextInt(8).toLong)
      val df = (a.map(("x", _)) ++ b.map(("y", _))).toDF("arm", "v")
      val r = graft.operators.Analytics.mannWhitneyU(df, "arm", "v", "x", "y")
        .collect().head
      // brute force: doubled midrank of each value over the pooled sample
      val pooled = (a ++ b).sorted
      def dmr(v: Long) = {
        val lo = pooled.indexOf(v) + 1
        val hi = pooled.lastIndexOf(v) + 1
        lo + hi // 2 * midrank
      }
      val u2 = a.map(dmr).sum - a.size.toLong * (a.size + 1)
      val tie = pooled.groupBy(identity).values
        .map(g => g.size.toLong * g.size * g.size - g.size).sum
      assert(r.getLong(2) == u2, s"trial $trial u2")
      assert(r.getLong(3) == tie, s"trial $trial tie")
    }
  }

  test("gini matches the brute sorted-rank formula on random values") {
    val rnd = new scala.util.Random(31)
    val vals = Seq.fill(80)(rnd.nextInt(5000).toLong)
    val r = graft.operators.Analytics
      .giniCoefficient(vals.map(("g", _)).toDF("g", "v"), "g", "v")
      .collect().head
    val sorted = vals.sorted
    val n = sorted.size.toLong
    val tot = sorted.sum
    val w = sorted.zipWithIndex.map { case (v, i) => (i + 1) * v }.sum
    val expect = (2.0 * w - (n + 1) * tot) / (n.toDouble * tot)
    assert(math.abs(r.getDouble(3) - expect) < 1e-12)
  }

  test("hll merge of random partitions == sketch of the union") {
    val rnd = new scala.util.Random(5)
    val ids = Seq.fill(4000)(rnd.nextLong())
    val parts = ids.zipWithIndex
      .map { case (id, i) => (s"p${i % 7}", id) }.toDF("g", "id")
    val merged = graft.operators.Sketch.hllEstimate(
      graft.operators.Sketch
        .hllRegisters(parts, Seq("g"), "id", p = 10)
        .groupBy("register").agg(max("rho").as("rho"))
        .withColumn("g", lit("all")),
      Seq("g"), p = 10).as[(String, Long, Long)].collect().head
    val direct = graft.operators.Sketch.hllEstimate(
      graft.operators.Sketch.hllRegisters(
        parts.select(lit("all").as("g"), col("id")), Seq("g"), "id", p = 10),
      Seq("g"), p = 10).as[(String, Long, Long)].collect().head
    assert(merged == direct)
    val exact = ids.distinct.size
    assert(math.abs(merged._3 - exact) <= exact / 10, s"est ${merged._3} vs $exact")
  }

  test("quantile sketch: lower-bound contract at every sigDigits, random shards") {
    import graft.operators.Sketch
    val rnd = new scala.util.Random(31)
    // mixed magnitudes: uniform small, heavy tail, exact powers of ten
    val vals = Seq.fill(1500)(rnd.nextInt(1000).toLong) ++
      Seq.fill(500)(math.abs(rnd.nextLong()) % 10000000L) ++
      (0 to 6).map(e => math.pow(10, e).toLong)
    val sorted = vals.sorted
    val df = vals.toDF("v")
    val qs = Seq(1L, 100L, 333L, 500L, 777L, 999L, 1000L)
    for (sig <- 1 to 4) {
      val sk = Sketch.decimalQuantileSketch(df, "v", sigDigits = sig)
      val got = Sketch.sketchQuantiles(sk, qs)
        .select("q_milli", "rank", "est")
        .as[(Long, Long, Long)].collect()
      assert(got.length == qs.size)
      got.foreach { case (q, rank, est) =>
        val truth = sorted((rank - 1).toInt)
        val width = math.pow(10,
          math.max(0, truth.toString.length - sig)).toLong
        assert(est <= truth && truth < est + width,
          s"sig=$sig q=$q est=$est truth=$truth width=$width")
      }
      // random 5-way shard merge == whole-data sketch, any sigDigits
      val shards = vals.map(v => (rnd.nextInt(5), v)).toDF("s", "v")
      val merged = Sketch.mergeQuantileSketches((0 until 5).map(i =>
        Sketch.decimalQuantileSketch(
          shards.where(col("s") === i).select("v"), "v", sigDigits = sig)))
      assert(merged.as[(Long, Long, Long)].collect().toSet ==
        sk.as[(Long, Long, Long)].collect().toSet, s"sig=$sig merge")
    }
  }

  // ---- fuzzy-join invariants (SURVEY §5 test plan, round-16) --------------

  private def fuzzyFixture(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val vocab = (1 to 30).map(i => s"w$i")
    val right = (1 to 40).map { i =>
      (i.toLong,
        (1 to 3 + rnd.nextInt(5)).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }
    val left = (1 to 60).map { i =>
      val toks =
        if (rnd.nextInt(4) == 0) Seq("zzzz", "qqqq") // no vocab overlap
        else (1 to 1 + rnd.nextInt(3)).map(_ => vocab(rnd.nextInt(vocab.size)))
      (i.toLong, toks.mkString(" "))
    }
    (left, right)
  }

  test("fuzzy lookup: exactly one row per left row at topK=1, NULL padding exact") {
    import graft.operators.FuzzyLookup
    for (trial <- 1 to 2) {
      val (leftRows, rightRows) = fuzzyFixture(13 + trial)
      val left = leftRows.toDF("lid", "q")
      val right = rightRows.toDF("rid", "rtext")
      val out = FuzzyLookup.lookup(left, "q", right, "rtext")
      // top-1 uniqueness: left-outer with topK=1 is row-preserving
      assert(out.count() == leftRows.size.toLong, s"trial $trial")
      assert(out.groupBy("lid").count()
        .where(col("count") =!= 1).count() == 0, s"trial $trial: dup lids")
      // NULL padding exactness: matched iff the query shares >= 1 token
      // with at least one right doc (defaults: no stopwords, no df
      // pruning, minScore 0 -> any shared token scores > 0)
      val rightVocab = rightRows.flatMap(_._2.split(" ")).toSet
      val got = out.select(col("lid"), col("q"), col("_score_").isNotNull)
        .as[(Long, String, Boolean)].collect()
      got.foreach { case (lid, q, matched) =>
        val expected = q.split(" ").exists(rightVocab)
        assert(matched == expected, s"trial $trial lid=$lid q='$q'")
      }
      // padded rows: every right column AND every match column is NULL
      val padded = out.where(col("_score_").isNull)
      assert(padded.where(col("rid").isNotNull || col("rtext").isNotNull ||
        col("_tags_").isNotNull || col("_startIndex_").isNotNull ||
        col("_endIndex_").isNotNull).count() == 0, s"trial $trial")
    }
  }

  test("fuzzy lookup: best score is monotone under query token addition") {
    import graft.operators.FuzzyLookup
    val rnd = new scala.util.Random(29)
    val vocab = (1 to 20).map(i => s"w$i")
    val right = (1 to 25).map { i =>
      (i.toLong,
        (1 to 4 + rnd.nextInt(4)).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }.toDF("rid", "rtext")
    // nested query chains: q_k = first k tokens of a random word sequence;
    // each added token contributes a non-negative max-weight term per
    // candidate pair, so the BEST score is non-decreasing in k
    val chains = (1 to 10).map { c =>
      (1 to 4).map(_ => vocab(rnd.nextInt(vocab.size)))
    }
    val left = chains.zipWithIndex.flatMap { case (toks, c) =>
      (1 to toks.size).map(k => (c.toLong * 10 + k, k, toks.take(k).mkString(" ")))
    }.toDF("lid", "k", "q")
    val scores = FuzzyLookup.lookup(left, "q", right, "rtext")
      .select(col("lid"), col("k"), coalesce(col("_score_"), lit(0f)))
      .as[(Long, Int, Float)].collect()
      .groupBy(_._1 / 10).toSeq
    scores.foreach { case (chain, rows) =>
      val byK = rows.sortBy(_._2).map(_._3).toSeq
      byK.sliding(2).filter(_.size == 2).foreach { w =>
        assert(w(1) >= w(0),
          s"chain $chain: scores ${byK.mkString(",")} not monotone")
      }
    }
  }

  test("fuzzy lookup: deterministic under left AND right repartitioning") {
    import graft.operators.FuzzyLookup
    val (leftRows, rightRows) = fuzzyFixture(47)
    // deliberate score ties: duplicate right texts under different ids —
    // tieBreakCol makes the chosen match a pure function of the DATA, so
    // any partition layout must return byte-identical rows
    val dupRight = rightRows ++ rightRows.take(10).map { case (i, t) => (i + 100, t) }
    val left = leftRows.toDF("lid", "q")
    val right = dupRight.toDF("rid", "rtext")
    val opts = FuzzyLookup.Options(tieBreakCol = Some("rid"))
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      FuzzyLookup.lookup(l, "q", r, "rtext", opts)
        .select(col("lid"), col("rid"), col("rtext"), col("_score_"),
          concat_ws(",", col("_tags_")).as("tags"),
          col("_startIndex_"), col("_endIndex_"))
        .collect().map(_.toString).sorted.toSeq
    val base = run(left, right)
    val shuffledL = run(left.repartition(7), right)
    val shuffledR = run(left, right.repartition(3).sortWithinPartitions(col("rid").desc))
    val shuffledBoth = run(left.repartition(5).sortWithinPartitions(col("q")),
      right.repartition(11))
    assert(shuffledL == base, "left repartition changed the output")
    assert(shuffledR == base, "right repartition changed the output")
    assert(shuffledBoth == base, "joint repartition changed the output")
  }

  test("fuzzy lookup: the default call adds no SQL-cache entry") {
    import graft.operators.FuzzyLookup
    val (leftRows, rightRows) = fuzzyFixture(61)
    val left = leftRows.toDF("lid", "q")
    val right = rightRows.toDF("rid", "rtext")
    val before = org.apache.spark.sql.SqlCacheEntries.count(spark)
    val rows = FuzzyLookup.lookup(left, "q", right, "rtext")
      .select(col("lid"), col("rid"), col("_score_")).collect()
    assert(rows.length == leftRows.size)
    assert(org.apache.spark.sql.SqlCacheEntries.count(spark) == before,
      "lookup left a SQL-cache entry behind")
  }
}

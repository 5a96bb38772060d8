package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, FuzzyLookup, Packing, TextAnalysis, Tuning}

/** Specs for the round-15 wave: overflow-safe shard assignment (the
  * `hi - lo` / `id - lo` Long wrap for value domains spanning more than
  * 2^63 — round-14 ADVICE), the new sharded exclusive prefix-min and the
  * global-window re-plans built on it (skyline2d, scoreBuckets,
  * rankSplit), and lookupArray's reserved-name guard. */
class Round15Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  // ---- overflow-safe sharding -------------------------------------------

  test("runningTotalSharded: ids spanning more than 2^63 (hash-like longs)") {
    // pre-fix, width = (hi - lo) / n + 1 wrapped NEGATIVE for this span
    // and shard assignment collapsed; the prefix sums then disagreed with
    // the single-window definition
    val ids = Seq(Long.MinValue, Long.MinValue + 7, -3L, 0L, 5L,
      Long.MaxValue - 11, Long.MaxValue)
    val vmap = ids.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }.toMap
    val df = vmap.toSeq.toDF("id", "v")
    val got = Packing.runningTotalSharded(df, "id", "v", "cum", numShards = 4)
      .orderBy("id").select("id", "cum").as[(Long, Long)].collect().toSeq
    val expect = ids.sorted.map(id =>
      (id, ids.filter(_ <= id).map(vmap).sum))
    assert(got == expect)
  }

  test("packBestFitDecreasing: extreme id span still shards and packs") {
    val df = Seq((Long.MinValue, 30L), (-1L, 30L), (Long.MaxValue, 50L))
      .toDF("id", "w")
    val out = Packing.packBestFitDecreasing(df, "id", "w", capacity = 64L,
        numShards = 2)
      .select("id", "bin_id", "oversized").as[(Long, Long, Boolean)]
      .collect().map { case (id, bin, over) => id -> (bin, over) }.toMap
    assert(out.size == 3 && out.values.forall(!_._2)) // nothing oversized
  }

  test("nullsLast shard never collides with rounded fractional ids") {
    // regression: shardExpr's double->decimal cast ROUNDED (HALF_UP), so
    // an id like 31.6 over span [0,31] with 32 shards landed in shard 32
    // — the reserved NULL shard — and NULL rows interleaved mid-order
    val rows = Seq((1L, Some(0.0)), (2L, Some(15.2)), (3L, Some(31.6)),
      (4L, None), (5L, Some(31.4)), (6L, Some(0.4)))
    val df = rows.toDF("tie", "id").withColumn("v", lit(1L))
    val got = Packing.runningTotalSharded(df, "id", "v", "cum",
        numShards = 32, tieCols = Seq("tie"), nullsLast = true)
      .select("tie", "cum").as[(Long, Long)].collect().toMap
    val w = Window.orderBy(col("id").asc_nulls_last, col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df.withColumn("cum", sum(col("v")).over(w))
      .select("tie", "cum").as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("rankSplit: a group with an all-NULL metric keeps NULLS FIRST order") {
    val df = Seq(
      ("gNull", Option.empty[Int]), ("gNull", None),
      ("gLow", Some(1)), ("gMid", Some(5)), ("gHigh", Some(9)))
      .toDF("g", "m")
    val got = Tuning.rankSplit(df, Seq("g"), "m", "sum", numFolds = 4)
      .select("g", "fold").distinct().as[(String, Int)].collect().toMap
    val grouped = df.groupBy("g").agg(sum(col("m")).as("_metric_"))
    val expect = grouped.withColumn("fold",
        ntile(4).over(Window.orderBy(col("_metric_"), col("g"))) - 1)
      .select("g", "fold").as[(String, Int)].collect().toMap
    assert(got == expect)
    assert(got("gNull") == 0) // NULL metric sorts first -> fold 0
  }

  // ---- sharded exclusive prefix-min --------------------------------------

  test("runningMinSharded == exclusive global-window prefix-min (randomized)") {
    val rnd = new scala.util.Random(15)
    val rows = Seq.tabulate(200)(i =>
      (rnd.nextLong(), rnd.nextInt(1000).toLong)).distinctBy(_._1)
    val df = rows.toDF("id", "v")
    val got = Packing.runningMinSharded(df, "id", "v", "pm", numShards = 7)
      .select("id", "pm").as[(Long, Option[Long])].collect().toMap
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1)
    val expect = df.withColumn("pm", min(col("v")).over(w))
      .select("id", "pm").as[(Long, Option[Long])].collect().toMap
    assert(got == expect)
    assert(expect(rows.map(_._1).min).isEmpty) // first row NULL contract
  }

  test("runningMinSharded keeps a NULL-id row, sorted first (window default)") {
    val df = Seq((Some(1L), 10L), (Some(5L), 3L), (Option.empty[Long], 7L))
      .toDF("id", "v")
    val got = Packing.runningMinSharded(df, "id", "v", "pm", numShards = 4)
    assert(got.count() == 3) // regression: the NULL-id row was dropped
    val m = got.select("v", "pm").as[(Long, Option[Long])].collect().toMap
    assert(m(7L).isEmpty)        // NULL id sorts first: no earlier row
    assert(m(10L).contains(7L))  // id=1 sees the null row's value
    assert(m(3L).contains(7L))   // id=5 sees min(7, 10)... = 7
  }

  test("skyline2d sharded prefix-min: frontier matches NOT EXISTS definition") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong))
    val df = pts.toDF("k", "x", "y")
    val got = Analytics.skyline2d(df, "x", "y")
      .select("k").as[Long].collect().toSet
    val naive = pts.filter { case (_, px, py) =>
      !pts.exists { case (_, qx, qy) =>
        qx <= px && qy <= py && (qx < px || qy < py) }
    }.map(_._1).toSet
    assert(got == naive)
  }

  test("runningTotalSharded nullsLast == ASC NULLS LAST window (randomized, ties)") {
    val rnd = new scala.util.Random(21)
    val rows = Seq.tabulate(300)(i => (i.toLong,
      if (i % 11 == 0) None else Some(rnd.nextInt(40).toLong), 1L))
    val df = rows.toDF("tie", "id", "v")
    val got = Packing.runningTotalSharded(df, "id", "v", "cum",
        numShards = 5, tieCols = Seq("tie"), nullsLast = true)
      .select("tie", "cum").as[(Long, Long)].collect().toMap
    val w = Window.orderBy(col("id").asc_nulls_last, col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df.withColumn("cum", sum(col("v")).over(w))
      .select("tie", "cum").as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  // ---- scoreBuckets re-plan ----------------------------------------------

  test("scoreBuckets == global ntile(desc score NULLS LAST, id), incl. NULLs") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.tabulate(97)(i => (i.toLong,
      if (i % 13 == 0) None else Some(rnd.nextInt(10) / 3.0)))
    val df = rows.toDF("id", "s")
    val got = TextAnalysis.scoreBuckets(df, "id", "s", nBuckets = 4)
      .select("id", "bucket").as[(Long, Int)].collect().toMap
    val expect = df.withColumn("bucket", ntile(4).over(
        Window.orderBy(col("s").desc_nulls_last, col("id"))))
      .select("id", "bucket").as[(Long, Int)].collect().toMap
    assert(got == expect)
  }

  test("scoreBuckets rejects non-finite scores by name") {
    val err = intercept[Exception] {
      Seq((1L, Some(1.0)), (2L, Some(Double.NaN))).toDF("id", "s")
        .transform(TextAnalysis.scoreBuckets(_, "id", "s", 2)).collect()
    }
    def msg(t: Throwable): String =
      (Option(t.getMessage).getOrElse("")) +
        Option(t.getCause).map(msg).getOrElse("")
    assert(msg(err).contains("non-finite s"))
  }

  test("rankSplit == grouped global-ntile definition") {
    val rnd = new scala.util.Random(9)
    val rows = Seq.tabulate(400)(i => ((i % 37).toLong, rnd.nextInt(100)))
    val df = rows.toDF("g", "m")
    val got = Tuning.rankSplit(df, Seq("g"), "m", "sum", numFolds = 5)
      .select("g", "fold").distinct().as[(Long, Int)].collect().toMap
    val grouped = df.groupBy("g").agg(sum(col("m")).as("_metric_"))
    val expect = grouped.withColumn("fold",
        ntile(5).over(Window.orderBy(col("_metric_"), col("g"))) - 1)
      .select("g", "fold").as[(Long, Int)].collect().toMap
    assert(got == expect)
  }

  // ---- scale-review sweep fixes -------------------------------------------

  test("dedup keep-elections == window definitions (exact/priority/paragraph)") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(31)
    val rows = Seq.tabulate(200)(i =>
      (i.toLong, s"text ${rnd.nextInt(40)}", rnd.nextInt(3)))
    val df = rows.toDF("id", "text", "prio")
    val gotE = Dedup.exact(df, "text", "id")
      .select("id").as[Long].collect().toSet
    val expE = rows.groupBy(_._2).values.map(_.minBy(_._1)._1).toSet
    assert(gotE == expE)
    val gotP = Dedup.exactByPriority(df, "text", "id", "prio")
      .select("id").as[Long].collect().toSet
    val expP = rows.groupBy(_._2).values
      .map(_.minBy(r => (r._3, r._1))._1).toSet
    assert(gotP == expP)
    val docs = Seq((1L, "a\nb\nc"), (2L, "b\nd"), (3L, "c\nd\ne")).toDF("id", "t")
    val gotPar = Dedup.dedupParagraphs(docs, "id", "t")
      .select("id", "dedup_text").as[(Long, String)].collect().toMap
    assert(gotPar == Map(1L -> "a\nb\nc", 2L -> "d", 3L -> "e"))
  }

  test("minHashLshPairs maxBucketSize drops degenerate buckets, keeps real pairs") {
    import graft.operators.Dedup
    // 30 empty docs share every band bucket; two near-dup real docs pair up
    val near = "the quick brown fox jumps over the lazy dog again and again"
    val rows = (1L to 30L).map(i => (i, "")) ++
      Seq((100L, near), (101L, near + " tail"))
    val df = rows.toDF("id", "text")
    val capped = Dedup.minHashLshPairs(df, "text", "id",
        minEstJaccard = 0.3, maxBucketSize = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L))) // empties capped out, real pair kept
    val uncapped = Dedup.minHashLshPairs(df, "text", "id", minEstJaccard = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L))) // default unchanged (oracle path)
  }

  test("rangeJoin rejects an interval exploding past maxCellsPerInterval by name") {
    import graft.operators.Temporal
    val pts = Seq((1L, 100L)).toDF("k", "ts")
    val iv = Seq((1L, 0L, 10000000L)).toDF("k", "s", "e")
    val err = intercept[Exception] {
      Temporal.rangeJoin(pts, iv, "k", "ts", "s", "e",
        bucketWidth = 1L, maxCellsPerInterval = 1000L).count()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") + Option(t.getCause).map(msg).getOrElse("")
    assert(msg(err).contains("rangeJoin: interval spans"))
    // under the cap: normal result
    assert(Temporal.rangeJoin(pts, iv, "k", "ts", "s", "e",
      bucketWidth = 100000L).count() == 1)
  }

  test("quantizedLabelCentroids rejects NaN embedding components by name") {
    import graft.operators.Similarity
    val bad = Seq((0, Seq(1.0f, Float.NaN))).toDF("label", "vec")
    val err = intercept[Exception] {
      Similarity.quantizedLabelCentroids(bad, "vec", "label").collect()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") + Option(t.getCause).map(msg).getOrElse("")
    assert(msg(err).contains("non-finite embedding component"))
  }

  test("minhash/simhash fail by name on NULL text") {
    import graft.operators.Dedup
    val df = Seq((1L, Some("a b c")), (2L, None)).toDF("id", "text")
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") + Option(t.getCause).map(msg).getOrElse("")
    val e1 = intercept[Exception] {
      Dedup.minHashLshPairs(df, "text", "id").count()
    }
    assert(msg(e1).contains("NULL text"))
    val e2 = intercept[Exception] { Dedup.withSimhash(df, "text").collect() }
    assert(msg(e2).contains("NULL text"))
  }

  test("ivfTopK results independent of input partition layout") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(5)
    val emb = Seq.tabulate(300)(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    def run(parts: Int) = {
      val df = spark.createDataFrame(emb.map { case (id, v) => (id, v.toSeq) })
        .toDF("id", "vec").repartition(parts)
      Similarity.ivfTopK(df.where(col("id") < 10), df, "id", "vec",
          k = 3, nCells = 8, nProbe = 3, seed = 7L, trainSample = 64)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    }
    assert(run(1) == run(13)) // content-defined sample => layout-free result
  }

  // ---- Model run-log JSON sink --------------------------------------------

  test("writeRunLog: hive-partitioned append, one row per run, metrics as columns") {
    import graft.pipeline.Model
    val base = java.nio.file.Files.createTempDirectory("graft_runlog_spec")
      .toString
    val src = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v")
    val m = Model("projX", "mA", group = "grpG")
      .step("filter", df => df.where(col("k") > 1))
      .step("agg", df => df.groupBy("v").agg(count(lit(1)).as("n")))
    val res = m.run(src)
    m.writeRunLog(base, res, metrics = Map("rows_out" -> 2.0))
    m.writeRunLog(base, res, metrics = Map("rows_out" -> 2.0)) // append #2
    val dir = new java.io.File(
      s"$base/modelGroup=grpG/project=projX/model=mA")
    assert(dir.isDirectory, s"hive layout missing: $dir")
    val back = spark.read.json(base)
    assert(back.count() == 2) // append semantics: one row per run
    val r = back.select("n_steps", "step_names", "rows_out")
      .as[(Long, String, Double)].head()
    assert(r == ((2L, "filter,agg", 2.0)))
    assert(back.columns.contains("filter_ms") && back.columns.contains("agg_ms"))
    // partition columns come back through the directory names
    assert(back.select("modelGroup", "project", "model")
      .as[(String, String, String)].head() == (("grpG", "projX", "mA")))
    // collision guard: a metric named like an identity column is loud
    val e = intercept[IllegalArgumentException] {
      m.writeRunLog(base, res, metrics = Map("model" -> 1.0))
    }
    assert(e.getMessage.contains("model"))
  }

  // ---- FuzzyLookup reserved-name guard ---------------------------------

  test("lookupArray rejects left columns that collide with scratch names") {
    // the element pass picks scratch ids that are free in the left frame,
    // so a left `_laid_` column passes through with its values; only the
    // `{col}_res` result column is reserved
    val right = Seq(("alpha", 1)).toDF("txt", "rid")
    val left = Seq((Seq("alpha"), 7L), (Seq("beta"), 8L))
      .toDF("qs", "_laid_")
    val out = FuzzyLookup.lookupArray(left, "qs", right, "txt")
    assert(out.columns.toSeq == Seq("qs", "_laid_", "qs_res"))
    val got = out.select(col("_laid_"), col("qs_res.rid"))
      .as[(Long, Seq[Option[Int]])].collect().toMap
    assert(got == Map(7L -> Seq(Some(1)), 8L -> Seq(None)))
    val bad = Seq((Seq("alpha"), "x")).toDF("qs", "qs_res")
    val e = intercept[IllegalArgumentException] {
      FuzzyLookup.lookupArray(bad, "qs", right, "txt")
    }
    assert(e.getMessage.contains("qs_res"))
  }
}

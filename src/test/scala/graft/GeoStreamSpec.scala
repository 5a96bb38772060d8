package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Geo
import graft.sources.Checkpoint
import graft.streaming.Streams

class GeoStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  test("pointInRing: ray casting on convex and concave rings") {
    // unit square
    val xs = Array(0.0, 1.0, 1.0, 0.0)
    val ys = Array(0.0, 0.0, 1.0, 1.0)
    assert(Geo.pointInRing(0.5, 0.5, xs, ys))
    assert(!Geo.pointInRing(1.5, 0.5, xs, ys))
    // concave L-shape: (0,0)(2,0)(2,1)(1,1)(1,2)(0,2)
    val lx = Array(0.0, 2.0, 2.0, 1.0, 1.0, 0.0)
    val ly = Array(0.0, 0.0, 1.0, 1.0, 2.0, 2.0)
    assert(Geo.pointInRing(0.5, 1.5, lx, ly))   // in the vertical arm
    assert(!Geo.pointInRing(1.5, 1.5, lx, ly))  // in the notch
  }

  test("two-phase point-in-polygon join prunes by bbox then tests exactly") {
    val pts = Seq((1L, 0.5, 1.5), (2L, 1.5, 1.5), (3L, 10.0, 10.0))
      .toDF("pid", "x", "y")
    // the concave L-shape: bbox accepts (1.5,1.5) but ray casting rejects it
    val polys = Geo.withBbox(Seq(
      (100L, Seq(0.0, 0.0, 2.0, 0.0, 2.0, 1.0, 1.0, 1.0, 1.0, 2.0, 0.0, 2.0)))
      .toDF("poly_id", "ring"))
    val out = Geo.pointInPolygonJoin(pts, "x", "y", polys)
      .select("pid").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("grid point-in-polygon equals direct all-pairs on random data, any cell size") {
    // the grid join must be a pure optimization: whatever the cell pitch
    // (including one that splits polygons across many cells), the result
    // set equals testing every (point, polygon) pair directly
    val rnd = new scala.util.Random(11)
    val ptRows = (1L to 60L).map(i =>
      (i, rnd.nextDouble() * 10, rnd.nextDouble() * 10))
    val polyRows = (100L to 115L).map { id =>
      val cx = rnd.nextDouble() * 10
      val cy = rnd.nextDouble() * 10
      (id, Seq(cx, cy, cx + 0.5 + rnd.nextDouble() * 3, cy + rnd.nextDouble(),
        cx + rnd.nextDouble(), cy + 0.5 + rnd.nextDouble() * 3))
    }
    val want = (for {
      (pid, x, y) <- ptRows
      (id, ring) <- polyRows
      xs = ring.indices.collect { case i if i % 2 == 0 => ring(i) }.toArray
      ys = ring.indices.collect { case i if i % 2 == 1 => ring(i) }.toArray
      if Geo.pointInRing(x, y, xs, ys)
    } yield (pid, id)).toSet
    assert(want.nonEmpty, "fixture degenerate: no containment at all")
    val pts = ptRows.toDF("pid", "x", "y")
    val polys = Geo.withBbox(polyRows.toDF("poly_id", "ring"))
    for (cs <- Seq(0.0, 0.7, 5.0)) {
      val got = Geo.pointInPolygonJoin(pts, "x", "y", polys, cellSize = cs)
        .select("pid", "poly_id").as[(Long, Long)].collect().toSet
      assert(got == want, s"cellSize=$cs: missing ${want -- got}, extra ${got -- want}")
    }
  }

  test("checkpoint: roundtrip with parquet-illegal column names") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val df = Seq((1, "a"), (2, "b")).toDF("my col,x", "t=v;{}")
    val back = Checkpoint.checkpoint(df, s"$dir/t1")
    assert(back.columns.toSeq == Seq("my col,x", "t=v;{}"))
    assert(back.count() == 2)
    // reuseExisting skips rewrite
    val again = Checkpoint.checkpoint(df.limit(1), s"$dir/t1", reuseExisting = true)
    assert(again.count() == 2)
  }

  test("streaming: windowed counts over a bounded file stream match batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val data = Seq(
      ("2024-01-01 00:05:00", "a", 1.0), ("2024-01-01 00:06:00", "a", 2.0),
      ("2024-01-01 01:05:00", "b", 3.0))
      .toDF("ts_s", "typ", "v")
      .select(to_timestamp(col("ts_s")).as("ts"), col("typ"), col("v"))
    data.write.mode("overwrite").parquet(s"$dir/in")
    val stream = Streams.fileStream(spark, s"$dir/in", data.schema)
    val agg = Streams.windowedCounts(stream, "ts", "typ", "v",
      windowLen = "1 hour", watermark = "1 hour")
    val out = Streams.runToMemory(agg, s"t_${System.nanoTime()}", "complete")
      .select(col("window.start").cast("string"), col("typ"), col("n"),
        // total_value is DECIMAL(38,0) since r17 (silent-wrap guard)
        col("total_value").cast("double"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(out == Set(
      ("2024-01-01 00:00:00", "a", 2L, 3.0),
      ("2024-01-01 01:00:00", "b", 1L, 3.0)))
  }

  test("streaming: the checkpoint manager and state partitions are scoped " +
    "to the query, also when the batch function throws") {
    val manager = "spark.sql.streaming.checkpointFileManagerClass"
    val parts = "spark.sql.shuffle.partitions"
    def confs = (spark.conf.getOption(manager), spark.conf.getOption(parts))
    val before = confs
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_conf").toString
    (1L to 6L).toDF("x").repartition(3).write.parquet(s"$dir/in")
    def stream = Streams.fileStream(spark, s"$dir/in",
      org.apache.spark.sql.types.StructType.fromDDL("x BIGINT"))
    var during = Set.empty[Option[String]]
    Streams.runForeachBatch(stream, (df, _) => {
      during += df.sparkSession.conf.getOption(manager)
      df.count()
    })
    assert(during == Set(Some("org.apache.spark.sql.execution.streaming." +
      "checkpointing.FileSystemBasedCheckpointFileManager")))
    assert(confs == before)
    intercept[Exception](Streams.runForeachBatch(stream,
      (_, _) => throw new IllegalStateException("batch failed")))
    assert(confs == before)
    val out = Streams.runToMemory(stream.groupBy().count(),
      s"c_${System.nanoTime()}", "complete", statePartitions = Some(2))
    assert(out.as[Long].collect().toSeq == Seq(6L))
    assert(confs == before)
  }

  test("streaming dedup: flatMapGroupsWithState keeps first sighting across micro-batches") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val decisions = Streams.dedupDecisions(in.toDS())
    val name = s"dd_${System.nanoTime()}"
    spark.catalog.dropTempView(name)
    val q = decisions.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // batch 1: two distinct texts + an in-batch duplicate
    in.addData((1L, "hello world"), (2L, "other text"), (3L, "hello world"))
    q.processAllAvailable()
    // batch 2: a CROSS-batch duplicate (state must remember batch 1) + new
    in.addData((4L, "hello world"), (5L, "fresh content"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name)
      .select("docId", "keep", "dupIndex") // dupIndex is Long since r17
      .as[(Long, Boolean, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, true, 0L),  // first sighting
      (2L, true, 0L),
      (3L, false, 1L), // in-batch duplicate
      (4L, false, 2L), // cross-batch duplicate: state carried over
      (5L, true, 0L)))
  }

  test("streaming CUSUM: recurrence state carries across micro-batches, per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)] // (user, eventId, valMilli)
    val verdicts = Streams.cusumDecisions(in.toDS(), target = 10L,
      threshold = 25L)
    val name = s"cusum_${System.nanoTime()}"
    val q = verdicts.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // batch 1: user 1 drifts high (out of id order — the fold must sort);
    // user 2 sits at target
    in.addData((1L, 2L, 30L), (1L, 1L, 20L), (2L, 1L, 10L))
    q.processAllAvailable()
    // batch 2: user 1 keeps drifting (state must carry: S+ was 30),
    // user 2 crashes low
    in.addData((1L, 3L, 20L), (2L, 2L, 0L), (2L, 3L, 0L), (2L, 4L, 0L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name)
      .select("userId", "eventId", "cusumHi", "cusumLo", "alarmHi", "alarmLo")
      .as[(Long, Long, Long, Long, Boolean, Boolean)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(
      (1L, 1L, 10L, 0L, false, false), // 20-10
      (1L, 2L, 30L, 0L, true, false), // +20 -> alarm
      (1L, 3L, 40L, 0L, true, false), // cross-batch: 30+10
      (2L, 1L, 0L, 0L, false, false),
      (2L, 2L, 0L, 10L, false, false),
      (2L, 3L, 0L, 20L, false, false),
      (2L, 4L, 0L, 30L, false, true))) // low-side alarm at 30 >= 25
  }

  test("watermarked stream-stream join: matches emitted, state evicted as watermark advances") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val right = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val l = left.toDF().toDF("lid", "lu", "lts").withWatermark("lts", "10 minutes")
    val r = right.toDF().toDF("rid", "ru", "rts").withWatermark("rts", "10 minutes")
    val joined = l.join(r, col("lu") === col("ru") &&
      col("rts").between(col("lts") - expr("INTERVAL 5 MINUTES"),
        col("lts") + expr("INTERVAL 5 MINUTES")))
    val name = s"wmjoin_${System.nanoTime()}"
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // batch 1: a cluster of rows around t=0 (3 left, 2 right)
      left.addData((1L, 7L, ts(0)), (2L, 7L, ts(1)), (3L, 8L, ts(0)))
      right.addData((100L, 7L, ts(2)), (101L, 8L, ts(1)))
      q.processAllAvailable()
      // batch 2: two hours later — watermark will pass the t=0 cluster
      left.addData((4L, 7L, ts(120)))
      right.addData((102L, 7L, ts(121)))
      q.processAllAvailable()
      // batch 3: two MORE hours — processing this batch runs with the
      // batch-2 watermark (t=111min), which evicts every t~0 state row
      left.addData((5L, 7L, ts(240)))
      right.addData((103L, 7L, ts(241)))
      q.processAllAvailable()
      val totals = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal)
      q.stop()
      // every in-band pair was emitted — eviction dropped no matches
      val out = spark.table(name).select("lid", "rid")
        .as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 100L), (2L, 100L), (3L, 101L), (4L, 102L), (5L, 103L)))
      // and the join state actually SHRANK: the t~0 cluster (5 rows) left
      // the store once the watermark passed its last possible match time
      assert(totals.nonEmpty, "no state-operator progress recorded")
      assert(totals.last < totals.max,
        s"state never evicted: totals=$totals")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("dropDuplicatesWithinWatermark: in-window dupes dropped, state evicted, late re-arrival re-emits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val deduped = in.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val name = s"wmdedup_${System.nanoTime()}"
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // batch 1: key 1 three times inside the window, key 2 once
      in.addData((1L, ts(0)), (1L, ts(1)), (1L, ts(2)), (2L, ts(0)))
      q.processAllAvailable()
      // batch 2: two hours later — advances the watermark far past the
      // t~0 entries' expiry (t + 10min), so they leave the state store
      in.addData((3L, ts(120)))
      q.processAllAvailable()
      // batch 3: key 1 re-arrives AFTER its entry was evicted — by the
      // operator's contract it is emitted AGAIN (the bounded-state trade:
      // dedup is exact only within the watermark delay)
      in.addData((1L, ts(240)), (1L, ts(241)))
      q.processAllAvailable()
      val totals = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal)
      q.stop()
      val out = spark.table(name).select("k", "ts")
        .as[(Long, java.sql.Timestamp)].collect().toSeq
      // one survivor per key per window: k=1 twice (t~0 and t~240 windows),
      // k=2 and k=3 once each
      assert(out.map(_._1).groupBy(identity).view.mapValues(_.size).toMap ==
        Map(1L -> 2, 2L -> 1, 3L -> 1))
      // and the dedup state actually SHRANK as the watermark advanced
      assert(totals.nonEmpty, "no state-operator progress recorded")
      assert(totals.last < totals.max, s"state never evicted: totals=$totals")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("flattenHierarchy denormalizes ancestor paths") {
    val nodes = Seq(
      (1L, None: Option[Long], "root"),
      (2L, Some(1L), "mid"),
      (3L, Some(2L), "leaf")).toDF("id", "parent", "name")
    val out = Geo.flattenHierarchy(nodes, "id", "parent", "name")
      .where(col("id") === 3).select("full_name").as[String].collect().head
    assert(out == "root > mid > leaf")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (reference SURVEY.md §2.14).
  *
  * The reference ingests streams with a driver-side twitter4j loop writing
  * hourly gzip files (twitter/Execute.scala:32-98) — at-least-once,
  * append-only, partitioned by hour, no watermarks. The idiomatic Spark
  * re-expression is a file/`rate` source -> event-time transforms ->
  * partitioned file sink; we add what the reference lacked (watermarked
  * event-time windows and stateful aggregation) since any modern pipeline
  * needs them.
  */
object Streams {

  /** Hourly-partitioned append ingestion: the reference's
    * `track-twitter-yyyy-MM-dd-HH` file layout as a streaming sink.
    * Caller starts/stops the returned query. */
  def ingestToHourlyFiles(events: DataFrame, tsCol: String, outPath: String,
                          checkpoint: String, format: String = "parquet"): StreamingQuery = {
    events
      .withColumn("ingest_date", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("ingest_hour", date_format(col(tsCol), "HH"))
      .writeStream
      .format(format)
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("ingest_date", "ingest_hour")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .start()
  }

  /** Watermarked tumbling-window aggregation over an event stream:
    * (window, event_type) -> count + sum(value). Late data beyond the
    * watermark is dropped — the knob the reference never had.
    * `total_value` accumulates in DECIMAL(38,0): a native long sum over
    * a hot (window, type) group wraps silently past ~9.2e18 with ANSI
    * off (guard-contract rule 5 — ~1e11 rows at avg value 1e8 is enough
    * at 100x traffic). */
  def windowedCounts(events: DataFrame, tsCol: String, typeCol: String,
                     valueCol: String, windowLen: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame = {
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(typeCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("total_value"))
  }

  /** Read a parquet directory as a bounded stream (one file per trigger is
    * the deterministic test mode; production would point at a landing
    * zone). */
  def fileStream(spark: SparkSession, path: String, schema: StructType,
                 maxFilesPerTrigger: Int = 1): DataFrame = {
    // pointing at a single file: basePath must still be a directory
    val basePath = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.getFileStatus(p).isFile) p.getParent.toString else path
    }
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("basePath", basePath)
      .parquet(path)
  }

  /** Scale-adaptive state-partition count for a file-backed stream whose
    * STATE grows with the input (watermarked dedup keys, per-key
    * aggregates over data-sized key spaces): `floor` partitions until the
    * landing zone outgrows ~2 MB per partition, then one more partition
    * per 2 MB up to the slot count. Every micro-batch pays one
    * state-store task (open + delta write + commit) PER partition, so
    * small-state streams want few partitions (the r19 `statePartitions`
    * finding) — but a FIXED count serializes data-sized state on
    * `floor` cores once the input is 100x the bench scale (r20 sf10
    * soak: sm11's dedup ran 10M rows through 8 state partitions on 32
    * slots). Driver-side file listing only — no Spark job; output of
    * the stream is partition-count-invariant (same rows, any layout).
    * At the driver's bench scale the landing zones are <2 MB, so this
    * computes exactly the old fixed floor and bench comparability
    * holds. */
  def adaptiveStateParts(spark: SparkSession, stagePath: String,
                         floor: Int = 8,
                         bytesPerPartition: Long = 2L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(stagePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes =
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    val bySize = ((bytes + bytesPerPartition - 1) / bytesPerPartition).toInt
    math.min(spark.sparkContext.defaultParallelism,
      math.max(floor, bySize))
  }

  /** One streaming-dedup verdict: was this document the first sighting of
    * its content hash, and how many sightings preceded it? `dupIndex` is
    * a Long — a single degenerate hash (empty-text boilerplate) can see
    * more than 2^31 cumulative sightings, and an Int would wrap negative
    * while the Long state stayed correct. */
  case class DedupDecision(docId: Long, textHash: String, keep: Boolean,
                           dupIndex: Long)

  /** Stateful streaming exact-dedup with OBSERVABLE decisions — the
    * LLM-ingest case `dropDuplicates` can't express: instead of silently
    * dropping repeats, every document yields a (keep, dupIndex) record, so
    * the pipeline can both filter (keep) and meter duplication rates from
    * the same stream. State per content hash = sightings count, held in
    * `flatMapGroupsWithState` (the custom-state primitive; the count makes
    * the state genuinely richer than dropDuplicates' presence-bit).
    *
    * STATE-LIFETIME CONTRACT (honest form, round 17 — the prior scaladoc
    * claimed a watermark TTL could evict this state; it cannot: watermarks
    * evict AGGREGATION state, never flatMapGroupsWithState state): with
    * `stateTtlMs = None` (the default, exact semantics) state is one Long
    * per distinct content hash FOREVER — bounded only by distinct-hash
    * cardinality. For unbounded corpora pass a TTL: the group switches to
    * ProcessingTimeTimeout, idle hashes are evicted after the TTL, and a
    * hash re-seen later restarts at dupIndex 0 — the standard
    * bounded-state trade (an evicted first sighting re-admits one
    * duplicate, it never drops a unique document). The TTL lane is for
    * CONTINUOUS deployments only: pending processing-time timers keep a
    * query busy (no-data batches fire until the timers drain), so
    * bounded harnesses like [[runToMemory]]'s processAllAvailable never
    * settle under it — gate replays use the exact lane.
    *
    * Within-batch order is deterministic (sightings sorted by docId), and
    * one key's batch sightings are bounded by name at
    * [[graft.operators.Guards.SingleTaskRowBound]] — dedup's whole point
    * is hot duplicates, and a degenerate hash would otherwise land a full
    * batch of sightings in ONE state task's heap. */
  def dedupDecisions(docs: org.apache.spark.sql.Dataset[(Long, String)],
                     stateTtlMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[DedupDecision] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val timeout = if (stateTtlMs.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    docs
      // mapPartitions: one digest instance + table-driven hex per partition,
      // not a provider lookup and 32 format() boxings per document
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = "0123456789abcdef".toCharArray
        it.map { case (id, text) =>
          md.reset()
          val d = md.digest(text.getBytes("UTF-8"))
          val sb = new StringBuilder(32)
          d.foreach { b => sb.append(hex((b >> 4) & 0xF)); sb.append(hex(b & 0xF)) }
          (sb.toString, id)
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (hash: String, rows: Iterator[(String, Long)], state: GroupState[Long]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = state.getOption.getOrElse(0L)
            val batch = boundedSortedBatch(rows.map(_._2), "dedupDecisions",
              s"content hash $hash")
            state.update(seen + batch.length)
            stateTtlMs.foreach(state.setTimeoutDuration)
            batch.iterator.zipWithIndex.map { case (id, i) =>
              DedupDecision(id, hash, keep = seen + i == 0, dupIndex = seen + i)
            }
          }
        })
  }

  /** Materialize one group's micro-batch rows for deterministic in-batch
    * ordering, refusing BY NAME once a single key exceeds
    * [[graft.operators.Guards.SingleTaskRowBound]] rows in one batch —
    * the skew funnel where one degenerate key swallows a whole batch in
    * one state task's heap (raise early, not OOM after). */
  private def boundedSortedBatch[T: Ordering : scala.reflect.ClassTag](
      it: Iterator[T], op: String, keyDesc: String): Array[T] = {
    val bound = graft.operators.Guards.SingleTaskRowBound
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    while (it.hasNext) {
      buf += it.next()
      require(buf.length <= bound,
        s"$op: $keyDesc has more than $bound sightings in ONE micro-batch " +
          "— a degenerate hot key would serialize the batch through one " +
          "state task; pre-filter boilerplate upstream or reduce the " +
          "micro-batch size")
    }
    val arr = buf.toArray
    scala.util.Sorting.quickSort(arr)(implicitly[Ordering[T]])
    arr
  }

  /** One streaming CUSUM verdict for one observation of one series. */
  case class CusumVerdict(userId: Long, eventId: Long, valMilli: Long,
                          cusumHi: Long, cusumLo: Long,
                          alarmHi: Boolean, alarmLo: Boolean)

  /** Stateful STREAMING two-sided CUSUM — the online form of
    * [[graft.operators.Analytics.cusumAlarms]]: the batch operator
    * replaces the recurrence with a closed form over total prefixes,
    * which a stream by definition never has, so the streaming form runs
    * the textbook recurrence itself with (S⁺, S⁻) as two longs of
    * per-key state in `flatMapGroupsWithState`. Because the recurrence
    * and the closed form are algebraically the SAME sequence, a batch
    * replay of the closed form is an exact oracle for the stream — the
    * sm05 discipline applied to drift detection.
    *
    * Within a micro-batch a key's rows are folded in ascending `eventId`
    * order; cross-batch correctness needs arrival in id order, which the
    * landing zones pin (mtime-stamped range partitions). State is two
    * longs per active series, partitioned by the key — the state-store
    * sharding scales with distinct keys, not observations.
    *
    * STATE-LIFETIME CONTRACT (round 17, mirrors [[dedupDecisions]]):
    * `stateTtlMs = None` keeps every series' (S⁺, S⁻) forever —
    * long-dead series included; a TTL evicts idle series via
    * ProcessingTimeTimeout (a re-seen series restarts its sums at 0,
    * the standard bounded-state trade). One key's batch rows are bounded
    * by name against the hot-key funnel. */
  def cusumDecisions(rows: org.apache.spark.sql.Dataset[(Long, Long, Long)],
                     target: Long, threshold: Long,
                     stateTtlMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[CusumVerdict] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = rows.sparkSession
    import spark.implicits._
    val timeout = if (stateTtlMs.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (uid: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (hi, lo) = state.getOption.getOrElse((0L, 0L))
            // eager fold: the state write below must see the final sums,
            // not race a lazily-consumed iterator; bounded + sorted by
            // eventId (see boundedSortedBatch)
            val batch = boundedSortedBatch(it.map { case (_, eid, v) => (eid, v) },
              "cusumDecisions", s"series $uid")
            val out = batch.map { case (eid, v) =>
              hi = math.max(0L, hi + (v - target))
              lo = math.max(0L, lo + (target - v))
              CusumVerdict(uid, eid, v, hi, lo,
                hi >= threshold, lo >= threshold)
            }
            state.update((hi, lo))
            stateTtlMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
        })
  }

  /** Run a streaming DataFrame to completion against bounded input via the
    * memory sink; returns the materialized result. Test/verify harness —
    * `processAllAvailable` drives every pending micro-batch synchronously.
    * GATE HARNESS ONLY, by contract: the memory sink materializes the
    * ENTIRE query output in driver memory (and complete-mode re-buffers
    * it every micro-batch), so row-per-event outputs at production scale
    * are a driver OOM by construction — deployments sink to files/kafka
    * ([[ingestToHourlyFiles]], [[runForeachBatch]]); this function exists
    * so the sm-gates can hash bounded outputs deterministically. */
  def runToMemory(streamed: DataFrame, name: String,
                  outputMode: String = "append",
                  statePartitions: Option[Int] = None): DataFrame = {
    val spark = streamed.sparkSession
    // deterministic names must be re-runnable in one session: clear any
    // previous run's memory-sink temp view before re-registering it
    spark.catalog.dropTempView(name)
    // streaming state parallelism is locked in at query start from
    // spark.sql.shuffle.partitions, and every micro-batch then pays one
    // state-store task (open + delta write + commit) PER partition — at 32
    // partitions x N batches that fixed overhead dwarfs small-state queries.
    // statePartitions sizes it to the state, scoped to this query only
    // (batch queries keep the session setting); a real deployment sizes it
    // once per stream to state-volume / partition-budget the same way.
    val parts = statePartitions.map(p => "spark.sql.shuffle.partitions" -> p.toString)
    withStreamConfs(spark, parts.toSeq) {
      val q = streamed.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name)
  }

  /** Drain a bounded stream through `foreachBatch` — the escape hatch for
    * sinks Structured Streaming lacks natively (e.g. tar shards). For
    * exactly-once under retries the batch function must be idempotent per
    * batchId; deterministic per-batch output names provide that. */
  def runForeachBatch(streamed: DataFrame,
                      fn: (DataFrame, Long) => Unit): Unit =
    withStreamConfs(streamed.sparkSession, Nil) {
      val q = streamed.writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) => fn(df.toDF(), id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }

  /** Spark's FileSystem-based checkpoint file manager. The default
    * FileContext-based one pays a create + rename per metadata file that
    * costs several times more on the local file system (and forks
    * `readlink` without libhadoop). */
  private val FileSystemCheckpoints =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Run a bounded stream's `body` with `settings` and, when the stream's
    * checkpoint (the session's checkpoint location, else a temporary
    * directory) is on the local file system, the FileSystem-based
    * checkpoint manager, all scoped to this query: every key gets its
    * previous value back (or is unset again) after, also when `body`
    * throws. */
  private def withStreamConfs(spark: SparkSession,
                              settings: Seq[(String, String)])(body: => Unit): Unit = {
    val checkpoint = new org.apache.hadoop.fs.Path(
      spark.conf.getOption("spark.sql.streaming.checkpointLocation")
        .getOrElse(System.getProperty("java.io.tmpdir")))
    val local = checkpoint.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getUri.getScheme == "file"
    val all = settings ++ (if (local) Seq(
      "spark.sql.streaming.checkpointFileManagerClass" -> FileSystemCheckpoints)
      else Nil)
    val saved = all.map { case (k, _) => k -> spark.conf.getOption(k) }
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}

package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spans recorded from the benchmark's side of each call into a layer,
  * with Spark's job, stage, task and streaming metrics folded into them.
  *
  * Span tree: run > workload > pass > query > build | action. A leaf span
  * (build, action) sets a job group naming itself, so every job Spark
  * starts on the calling thread carries the span id. Jobs started on other
  * threads (a streaming query's micro-batches run on the stream's own
  * thread, under its own group) are assigned to the leaf span whose wall
  * interval holds the job's submission time; the harness runs one query
  * at a time, so leaf spans never overlap. Streaming progress events are
  * assigned the same way, by trigger start time.
  *
  * Everything is kept in memory and written as one JSON object per span
  * when the run ends. Each span carries its query name, so a per-operator
  * total is a sum over the spans of that operator's queries.
  */
final class Tracer(spark: SparkSession, cores: Int, workload: String) extends Spans {
  import Tracer.{Batch, Job, Span}
  private val sc = spark.sparkContext
  private val groupPrefix = "perfbench-span-"

  private final class Stage(val id: Int) {
    var submittedMs = -1L
    var tasks, failed = 0
    var runMs, gcMs, schedMs = 0L
    var shufWBytes, shufWRecs, shufRBytes, spill = 0L
    var inBytes, outBytes, outRecs = 0L
    val runTimes = mutable.ArrayBuffer.empty[Long]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private val open = mutable.Stack.empty[Span]
  private val runSpan = push("run", "run", "")
  private val workloadSpan = push("workload", workload, "")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += Job(group, e.time, e.stageIds)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stage(e.stageInfo.stageId).submittedMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      if (e.reason != Success) s.failed += 1
      if (s.submittedMs >= 0) s.schedMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.runTimes += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shufWBytes += m.shuffleWriteMetrics.bytesWritten
        s.shufWRecs += m.shuffleWriteMetrics.recordsWritten
        s.shufRBytes += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecs += m.outputMetrics.recordsWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators
      val b = Batch(
        try Instant.parse(p.timestamp).toEpochMilli
        catch { case _: Throwable => System.currentTimeMillis() },
        ms("triggerExecution"), ms("addBatch"),
        state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum)
      Tracer.this.synchronized { batches += b }
    }
  }

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  /** Start recording Spark and streaming events. */
  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Stop recording, after every event already posted has been seen. */
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def apply[T](kind: String, name: String, query: String)(body: => T): T = {
    val s = push(kind, name, query)
    try body finally pop(s)
  }

  def annotate(kv: (String, Long)*): Unit = open.top.attrs ++= kv

  private def isLeaf(s: Span) = s.kind == "build" || s.kind == "action"

  private def push(kind: String, name: String, query: String): Span = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), kind, name, query)
    spans += s
    open.push(s)
    if (isLeaf(s)) sc.setJobGroup(groupPrefix + s.id, s"$kind $query", interruptOnCancel = false)
    s
  }

  private def pop(s: Span): Unit = {
    s.durS = (System.nanoTime() - s.startNs) / 1e9
    s.endMs = System.currentTimeMillis()
    if (isLeaf(s)) sc.clearJobGroup()
    open.pop()
  }

  /** Fold jobs, stages, tasks and micro-batches into their leaf spans and
    * write every span, one JSON object a line. */
  def writeSpans(path: Path): Unit = synchronized {
    pop(workloadSpan)
    pop(runSpan)
    val leaves = spans.filter(isLeaf) // in start order, never overlapping
    val byId = spans.map(s => s.id -> s).toMap
    // a job in the same millisecond as a span boundary belongs to the
    // later span; jobs outside every leaf span (set-up) are not counted
    def at(ms: Long): Option[Span] =
      leaves.findLast(s => s.startMs <= ms && ms <= s.endMs)
    val folded = mutable.HashMap.empty[Int, mutable.LinkedHashMap[String, Double]]
    def acc(s: Span) = folded.getOrElseUpdate(s.id, mutable.LinkedHashMap.empty)
    def add(s: Span, k: String, v: Double): Unit = acc(s)(k) = acc(s).getOrElse(k, 0.0) + v
    def maxTo(s: Span, k: String, v: Double): Unit =
      acc(s)(k) = math.max(acc(s).getOrElse(k, 0.0), v)
    val counted = mutable.HashSet.empty[Int] // a stage reused by a later job counts once
    for (j <- jobs) {
      val owner =
        if (j.group.startsWith(groupPrefix))
          byId.get(j.group.stripPrefix(groupPrefix).toInt)
        else at(j.submitMs)
      owner.foreach { s =>
        add(s, "jobs", 1)
        for (st <- j.stages.flatMap(stages.get) if st.tasks > 0 && counted.add(st.id)) {
          add(s, "stages", 1)
          add(s, "tasks", st.tasks)
          add(s, "failed_tasks", st.failed)
          add(s, "task_s", st.runMs / 1e3)
          add(s, "sched_delay_s", st.schedMs / 1e3)
          add(s, "gc_s", st.gcMs / 1e3)
          add(s, "shuffle_write_bytes", st.shufWBytes)
          add(s, "shuffle_write_records", st.shufWRecs)
          add(s, "shuffle_read_bytes", st.shufRBytes)
          add(s, "spill_bytes", st.spill)
          add(s, "input_bytes", st.inBytes)
          add(s, "output_bytes", st.outBytes)
          add(s, "output_records", st.outRecs)
          if (st.runTimes.size >= cores) {
            val sorted = st.runTimes.sorted
            val med = sorted(sorted.size / 2)
            maxTo(s, "stage_skew", sorted.last.toDouble / math.max(med, 1L))
          }
        }
      }
    }
    for (b <- batches; s <- at(b.submitMs)) {
      add(s, "batches", 1)
      add(s, "batch_overhead_s", (b.triggerMs - b.addBatchMs) / 1e3)
      maxTo(s, "state_rows", b.stateRows)
      maxTo(s, "state_bytes", b.stateBytes)
    }
    val batchLists = batches.groupBy(b => at(b.submitMs).map(_.id))
      .collect { case (Some(id), bs) => id -> bs.map(_.triggerMs / 1e3) }
    val lines = spans.map { s =>
      val metrics = folded.getOrElse(s.id, mutable.LinkedHashMap.empty[String, Double])
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "query" -> Json.str(s.query), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "dur_s" -> Json.num(s.durS)) ++
        s.attrs.map { case (k, v) => k -> v.toString } ++
        metrics.map { case (k, v) => k -> Json.num(v) } ++
        batchLists.get(s.id).map(l => "batch_s" -> l.map(Json.num).mkString("[", ",", "]")))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  private final case class Job(group: String, submitMs: Long, stages: Seq[Int])
  private final case class Batch(submitMs: Long, triggerMs: Long, addBatchMs: Long,
                                 stateRows: Long, stateBytes: Long)

  final class Span(val id: Int, val parent: Int, val kind: String,
                   val name: String, val query: String) {
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()
    var endMs: Long = -1L
    var durS: Double = 0.0
    val attrs = mutable.LinkedHashMap.empty[String, Long]
  }
}

/** Where the harness marks a call into a layer. Untraced passes use
  * [[Spans.Off]], which only runs the body. */
trait Spans {
  def apply[T](kind: String, name: String, query: String)(body: => T): T
  def annotate(kv: (String, Long)*): Unit
}

object Spans {
  object Off extends Spans {
    def apply[T](kind: String, name: String, query: String)(body: => T): T = body
    def annotate(kv: (String, Long)*): Unit = ()
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in one JVM.
  *
  * The run is a closed loop with one client: each registry query is built
  * (`SparkEntry.queries(name)(spark, dataDir)`) and then forced with
  * `.count()`, and the next query starts only when the previous one has
  * returned. Phases, in order:
  *
  *  1. set-up: Spark session start, then an untimed warm-up pass over the
  *     workload's queries at the target scale that runs the timed plan
  *     (build, then `.count()`) and writes each query's output under
  *     `--check` for the DuckDB oracle; two such passes when traced. JIT,
  *     codegen and the program's own fixture staging land here, not in the
  *     timed passes;
  *  2. timed passes over the whole query set until `--seconds` have passed
  *     and at least `--min-passes` passes have run.
  *
  * Cached tables and persisted RDDs a query leaves behind are counted, then
  * dropped before the next query, so one query's pins are never billed to
  * the next.
  *
  * With `--trace 1` untraced and traced passes interleave. Traced passes
  * open a span per pass, query, build and action, tag every Spark job with
  * the span's job group and fold listener metrics into the spans
  * ([[Tracer]]); untraced passes run exactly as with `--trace 0`, which
  * gives the tracing overhead in the same JVM.
  *
  * Writes `result.json` (and `spans.jsonl` when traced) into `--out`.
  */
object Harness {
  private final case class Exec(pass: Int, traced: Boolean, query: String,
                        buildS: Double, actionS: Double, rows: Long,
                        leaked: Int, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dataDir = opt("data")
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    val cores = opt("cores")
    val checkDir = opt("check")
    val minPasses = opt("min-passes").toInt
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    val sessionReadyMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val fns = names.map(n => n -> registry(n))

    def dropCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    // 1. warm-up passes run each query's timed plan: build, then `count`.
    // The last also writes the same DataFrame's output for the oracle
    // check. A traced run takes a second one: the JVM warms steeply over
    // the first passes, which would bias its U T T U comparison.
    val warmups = if (trace) 2 else 1
    val setupFailures = (1 to warmups).flatMap { warmup =>
      val failures = fns.flatMap { case (n, fn) =>
        val failure =
          try {
            val df = fn(spark, dataDir)
            df.count()
            if (warmup == warmups) df.write.parquet(s"$checkDir/$n")
            None
          } catch { case e: Throwable => Some(s"$n: ${describe(e)}") }
        dropCaches()
        failure
      }
      System.gc()
      failures
    }.distinct
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"), Json.obj(
      names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))))

    // 2. timed passes
    val tracer = if (trace) Some(new Tracer(spark, cores.toInt, workload)) else None
    val rss = new PeakRss
    val timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val execs = Vector.newBuilder[Exec]
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      // traced runs interleave untraced and traced passes as U T T U, so
      // the JVM's warming over a run favours neither kind
      val traced = tracer.isDefined && pass % 4 / 2 == 1
      val sp: Spans = if (traced) tracer.get else Spans.Off
      if (traced) tracer.get.attach()
      sp("pass", s"pass-$pass", "") {
        fns.foreach { case (n, fn) =>
          var (buildS, actionS, rows, err, leaked) = (0.0, 0.0, -1L, "", 0)
          sp("query", n, n) {
            val b0 = System.nanoTime()
            try {
              val df = sp("build", n, n)(fn(spark, dataDir))
              val a0 = System.nanoTime()
              buildS = (a0 - b0) / 1e9
              rows = sp("action", n, n)(df.count())
              actionS = (System.nanoTime() - a0) / 1e9
            } catch { case e: Throwable =>
              err = describe(e)
              if (buildS == 0.0) buildS = (System.nanoTime() - b0) / 1e9
            }
            leaked = Leaks.count(spark)
            sp.annotate("rows" -> rows, "leaked_cache_entries" -> leaked.toLong)
          }
          dropCaches()
          execs += Exec(pass, traced, n, buildS, actionS, rows, leaked, err)
        }
      }
      if (traced) tracer.get.detach()
      // between passes, so one pass's garbage is not collected in the next
      System.gc()
    }
    val peakRssMb = rss.peakMb()
    tracer.foreach(_.writeSpans(out.resolve("spans.jsonl")))

    spark.stop()

    val e = execs.result()
    val res = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_ready_ms" -> sessionReadyMs.toString,
      "timed_start_ms" -> timedStartMs.toString,
      "peak_rss_mb" -> Json.num(peakRssMb),
      "cores" -> cores,
      "setup_failures" -> setupFailures.map(Json.str).mkString("[", ",", "]"),
      "execs" -> e.map { x => Json.obj(Seq(
        "pass" -> x.pass.toString, "traced" -> x.traced.toString,
        "query" -> Json.str(x.query), "build_s" -> Json.num(x.buildS),
        "action_s" -> Json.num(x.actionS), "rows" -> x.rows.toString,
        "leaked" -> x.leaked.toString, "error" -> Json.str(x.error))) }
        .mkString("[", ",", "]")))
    Files.writeString(out.resolve("result.json"), res)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** Cached tables and persisted RDDs the session still holds. A cached
  * table that has been materialized is backed by one persisted RDD; it is
  * counted once. */
object Leaks {
  def count(spark: SparkSession): Int = {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val cached = cachedData(spark)
    val cacheRdds = cached.flatMap { cd =>
      val b = cd.cachedRepresentation.cacheBuilder
      if (b.isCachedColumnBuffersLoaded) Some(b.cachedColumnBuffers.id) else None
    }.toSet
    cached.size + (persisted -- cacheRdds).size
  }

  private def cachedData(spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.CachedData] = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")) match {
      case Some(f) =>
        f.setAccessible(true)
        f.get(cm).asInstanceOf[Seq[org.apache.spark.sql.execution.CachedData]]
      case None => Seq.empty
    }
  }
}

/** Peak resident memory of this JVM from the moment of construction:
  * resets the kernel's high-water mark, then reads it back. */
final class PeakRss {
  private val reset =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Throwable => false }

  def peakMb(): Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val kb = status.find(_.startsWith(if (reset) "VmHWM:" else "VmRSS:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    kb / 1024.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved A/B for the dd05 candidate-volume probe cost (round 19):
  * RecallProbe's exact-truth pass read ~117 s at sf1 where the r18 soak
  * artifact recorded dd05 at 7.5 s — but the r18 soak predates the r18
  * candidate-volume guard (that soak run is the one that OOM'd at sf10
  * and MOTIVATED the guard), so the post-guard exact lane was never
  * A/B'd at sf1. Arms alternate probe-ON (default `candidatePairBound`)
  * / probe-OFF (`-1`) within each pass, so sustained host-interference
  * windows hit both arms equally; reported number per arm = min across
  * repeats. Test-scoped harness tooling, like [[ScaleUp]].
  */
object NgramAb {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val repeats = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def clear(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def run(bound: Long): Double = {
      val t0 = System.nanoTime()
      graft.operators.Dedup.ngramJaccardPairs(
        graft.Tables.documents(spark, dir), "text", "doc_id",
        n = 3, minJaccard = 0.8, candidatePairBound = bound).count()
      val dt = (System.nanoTime() - t0) / 1e9
      clear()
      dt
    }
    // warmup pass (codegen/Hadoop init) — not recorded
    run(-1L)
    val on = Array.newBuilder[Double]
    val off = Array.newBuilder[Double]
    for (i <- 1 to repeats) {
      if (i % 2 == 1) { on += run(1L << 27); off += run(-1L) }
      else { off += run(-1L); on += run(1L << 27) }
      println(f"[ngram-ab] pass $i done")
    }
    val (vOn, vOff) = (on.result(), off.result())
    println(f"[ngram-ab] dir=$dir repeats=$repeats " +
      f"probeOn_min=${vOn.min}%.3f s probeOff_min=${vOff.min}%.3f s " +
      f"delta=${vOn.min - vOff.min}%.3f s " +
      f"on=[${vOn.map(d => f"$d%.2f").mkString(",")}] " +
      f"off=[${vOff.map(d => f"$d%.2f").mkString(",")}]")
    spark.stop()
  }
}

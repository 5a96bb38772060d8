package graft.tools

import org.apache.spark.sql.SparkSession

/** One-off meter for the round-18 ngramJaccardPairs candidate guard:
  * prints [[graft.operators.Dedup.ngramCandidateVolume]] — the probe's
  * exact statistic, computed by the operator's OWN prefix pipeline — for
  * the dd05 gate shape at a given data dir, so the bound's
  * dormant/raising margins are measured, not guessed. Test-scoped
  * harness tooling, like [[ScaleUp]].
  */
object NgramProbeMeter {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val projected = graft.operators.Dedup.ngramCandidateVolume(
      graft.Tables.documents(spark, dir), "text", "doc_id",
      n = 3, minJaccard = 0.8) // the dd05 gate knobs
    println(s"[ngram-probe] dir=$dir projected=$projected bound=${1L << 27}")
    spark.stop()
  }
}

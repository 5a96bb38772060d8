package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Building a relational q-tier query is planning only: table reads take
  * their schema from a footer on the driver ([[graft.sources.Parquet]]),
  * so no Spark job starts before the action. q13 and q14 keep their
  * operator probes. */
class QueryBuildJobsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val probing = Set("q13_supplier_balance_rank", "q14_order_quartiles")

  /** (job group, stage names) of every job started while `run` runs. */
  private def jobsDuring(run: => Unit): Seq[(String, Seq[String])] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[(String, Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += ((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
          e.stageInfos.map(_.name)))
      }
    }
    sc.addSparkListener(listener)
    try run
    finally {
      sc.clearJobGroup()
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.toSeq
  }

  test("q-tier: no job while building (q13, q14 aside), no parquet schema job at all") {
    val sc = spark.sparkContext
    val qTier = SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
    assert(qTier.size == 28)
    val jobs = jobsDuring(qTier.foreach { name =>
      sc.setJobGroup(s"$name/build", "build")
      val df = SparkEntry.queries(name)(spark, sf)
      sc.setJobGroup(s"$name/action", "action")
      df.count()
      sc.clearJobGroup()
    })
    val builds = jobs.collect { case (g, _) if g != null && g.endsWith("/build") =>
      g.stripSuffix("/build") }
    assert(builds.filterNot(probing).isEmpty, s"jobs while building: $builds")
    val parquetJobs = jobs.filter(_._2.exists(_.startsWith("parquet at")))
    assert(parquetJobs.isEmpty, s"parquet schema jobs: $parquetJobs")
  }

  test("pair-join queries: build jobs within each query's ceiling") {
    // the counts measured when the ceilings were set; a ceiling may only
    // go down
    val ceilings = Map("dd11_semantic_dedup" -> 10, "dd12_incremental_neardup" -> 2,
      "ann02_knn_lsh" -> 4)
    val sc = spark.sparkContext
    val built = ceilings.keys.toSeq.sorted.map { name =>
      name -> jobsDuring {
        sc.setJobGroup(name, "build")
        SparkEntry.queries(name)(spark, sf)
      }.count(_._1 == name)
    }
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Materialize

/** An eager pin keeps the plain hash layout of its final adaptive plan, so
  * a join of two pins on their key plans no Exchange; every other layout
  * stays unknown. */
class PinLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private def layout(pin: DataFrame): Partitioning =
    pin.queryExecution.logical.collectFirst { case r: LogicalRDD =>
      r.outputPartitioning }.get

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  private def keyed(s: SparkSession, n: Long, v: String): DataFrame =
    s.range(1, n + 1).select((col("id") % 13).as("k"), col("id").as(v))
      .repartition(4, col("k"))

  /** `check` on a session of each lane, adaptive execution on. */
  private def onBothLanes(check: SparkSession => Unit): Unit = {
    spark.conf.set(Materialize.ConfKey, "local")
    val dir = java.nio.file.Files.createTempDirectory("graft-pin-layout")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try Seq("local", "reliable").foreach { lane =>
      val s = spark.newSession()
      s.conf.set(Materialize.ConfKey, lane)
      s.conf.set("spark.sql.adaptive.enabled", "true")
      check(s)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      spark.conf.unset(Materialize.ConfKey)
    }
  }

  test("an eager pin of repartition(n, k) keeps HashPartitioning(k, n) on " +
    "both lanes") {
    onBothLanes { s =>
      val pin = Materialize.round(keyed(s, 100, "v"))
      layout(pin) match {
        case h: HashPartitioning =>
          assert(h.numPartitions == 4)
          assert(h.references.map(_.name).toSeq == Seq("k"))
        case other => fail(s"${s.conf.get(Materialize.ConfKey)}: $other")
      }
    }
  }

  test("a join of two kept pins on their key plans no Exchange") {
    onBothLanes { s =>
      val a = Materialize.round(keyed(s, 100, "v"))
      val b = Materialize.round(keyed(s, 50, "w"))
      val j = a.join(b.hint("shuffle_hash"), "k")
      assert(exchanges(j).isEmpty, j.queryExecution.executedPlan)
      assert(j.count() == (1L to 100L).map(i =>
        (1L to 50L).count(_ % 13 == i % 13)).sum)
    }
  }

  test("a pin of a coalesced groupBy and a pin of an unpartitioned scan " +
    "keep UnknownPartitioning") {
    onBothLanes { s =>
      val grouped = s.range(0, 100).groupBy((col("id") % 7).as("k")).count()
      val pin = Materialize.round(grouped)
      assert(layout(pin).isInstanceOf[UnknownPartitioning], layout(pin))
      // the adaptive plan did coalesce: fewer partitions than the shuffle's
      assert(pin.rdd.getNumPartitions < 4)
      val dir = java.nio.file.Files.createTempDirectory("graft-pin-scan").resolve("t")
      s.range(0, 100).toDF("k").write.parquet(dir.toString)
      val scan = Materialize.round(s.read.parquet(dir.toString))
      assert(layout(scan).isInstanceOf[UnknownPartitioning], layout(scan))
    }
  }

  test("a self-join of a kept pin, with new attribute ids, equals the " +
    "unpinned rows") {
    val df = (1L to 60L).map(i => (i % 7, i)).toDF("k", "v").repartition(4, col("k"))
    val pin = Materialize.round(df)
    assert(layout(pin).isInstanceOf[HashPartitioning])
    def selfJoin(d: DataFrame) = d.as("l").join(d.as("r"), col("l.k") === col("r.k"))
      .select(col("l.k"), col("l.v"), col("r.v")).as[(Long, Long, Long)]
      .collect().sorted.toSeq
    val pinned = selfJoin(pin)
    assert(pinned.size == (1L to 60L).groupBy(_ % 7).values.map(g => g.size * g.size).sum)
    assert(pinned == selfJoin(df))
  }
}

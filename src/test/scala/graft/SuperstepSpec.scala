package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Similarity, Superstep}

/** The iterative graph operators' shared round loop, [[Superstep]]: driver
  * actions per round, round pins freed as the loop goes, and BFS's early
  * stop. Round counts are exact on path graphs, so an action difference
  * between two path lengths is a per-round cost. */
class SuperstepSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  /** The n-node path 1 → 2 → … → n. */
  private def path(n: Int): DataFrame =
    (1L until n.toLong).map(i => (i, i + 1, i % 3 + 1)).toDF("src", "dst", "w")

  private def actions(run: => DataFrame): Int =
    DriverActions.during(spark)(run.collect())

  test("driver actions per round: one counted pin for BFS, the CC loop and " +
    "kCore; at most two for star; fixed-round operators by their cadence") {
    val seed = Seq(1L).toDF("id")
    // BFS on an n-path from node 1 runs n rounds: the n-th finds the
    // frontier empty
    def bfs(n: Int) = actions(Graph.bfsDistances(path(n), "src", "dst", seed, 100))
    assert(bfs(12) - bfs(6) == 6)
    // the CC loop: label 1 reaches node n in n - 1 rounds, the n-th sees
    // no change
    def cc(n: Int) = actions(Dedup.connectedComponents(path(n), "src", "dst",
      driverThreshold = 0L))
    assert(cc(12) - cc(6) == 6)
    // kCore at k = 2 peels both ends of the path per round: n / 2 rounds
    def kc(n: Int) = actions(Graph.kCore(path(n), "src", "dst", k = 2))
    assert(kc(12) - kc(6) == 3)
    // star: one edge is a fixpoint after 1 round, the 3-path after 2, and
    // every one of those rounds ties its edge counts, so it also runs the
    // set difference
    def star(n: Int) = actions(Dedup.connectedComponentsStar(
      path(n).select("src", "dst"), "src", "dst"))
    assert(star(3) - star(2) == 2)
    // fixed rounds: a pin every second round (PageRank, LPA: one frame;
    // HITS: two), every round for SSSP
    def fixed(op: Int => DataFrame) = actions(op(6)) - actions(op(2))
    assert(fixed(Graph.pageRankInt(path(6), "src", "dst", _)) == 2)
    assert(fixed(Graph.labelPropagation(path(6), "src", "dst", _)) == 2)
    assert(fixed(Graph.hitsInt(path(6), "src", "dst", _)) == 4)
    assert(fixed(Graph.ssspInt(path(6), "src", "dst", "w", seed, _)) == 4)
  }

  /** Persistent RDDs a call leaves registered. Every one seen at a job
    * boundary is held strongly until the call returns, so only an explicit
    * unpersist removes it, never the ContextCleaner after a driver GC. */
  private def left(run: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = mutable.ArrayBuffer.empty[Any]
    def hold(): Unit = seen.synchronized { seen ++= sc.getPersistentRDDs.values }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = hold()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = hold()
    }
    sc.addSparkListener(listener)
    try run.collect()
    finally {
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    (sc.getPersistentRDDs.keySet -- before).size
  }

  test("round pins are freed: the persistent RDDs a loop leaves do not grow " +
    "with its round count") {
    def noGrowth(name: String, op: Int => DataFrame): Unit = {
      val (short, long) = (left(op(8)), left(op(16)))
      assert(long <= short, s"$name left $short RDDs after 8, $long after 16")
    }
    noGrowth("kCore", n => Graph.kCore(path(2 * n), "src", "dst", k = 2))
    noGrowth("connectedComponents", n => Dedup.connectedComponents(
      path(n), "src", "dst", driverThreshold = 0L))
    noGrowth("pageRankInt", Graph.pageRankInt(path(6), "src", "dst", _))
    noGrowth("labelPropagation", Graph.labelPropagation(path(6), "src", "dst", _))
  }

  test("farthestPointsInt8 frees its round pins: the persistent RDDs it " +
    "leaves do not grow from k = 4 to k = 8") {
    val vecs = (1L to 20L).map(i =>
      (i, Array.tabulate(4)(d => math.sin(i * 0.7 + d).toFloat))).toDF("id", "vec")
    def run(k: Int) = left(Similarity.farthestPointsInt8(vecs, "id", "vec", k))
    val (four, eight) = (run(4), run(8))
    assert(eight <= four, s"left $four RDDs at k = 4, $eight at k = 8")
  }

  test("bfsDistances: an emptied frontier stops early with the rows and the " +
    "actions of a larger maxHops") {
    val e = path(6).select("src", "dst")
      .union(Seq((10L, 11L), (11L, 10L)).toDF("src", "dst"))
    val seeds = Seq(1L, 10L).toDF("id")
    def bfs(maxHops: Int) = Graph.bfsDistances(e, "src", "dst", seeds, maxHops)
    def rows(df: DataFrame) = df.as[(Long, Long)].collect().toMap
    val exact = rows(bfs(6))
    assert(exact == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L,
      6L -> 5L, 10L -> 0L, 11L -> 1L))
    assert(rows(bfs(50)) == exact)
    assert(actions(bfs(50)) == actions(bfs(6)))
    assert(rows(bfs(2)) == exact.filter(_._2 <= 2))
  }

  test("pinCounting: the count equals a separate count, in one action") {
    val df = (1L to 100L).toDF("x")
    var got: (DataFrame, Long) = null
    assert(DriverActions.during(spark) {
      got = Superstep.pinCounting(df, col("x") % 7 === 0)
    } == 1)
    assert(got._2 == 14L)
    assert(got._1.collect().map(_.getLong(0)).toSeq == (1L to 100L))
  }

  test("release frees a pin's blocks; Dataset.unpersist does not") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pin = graft.operators.Materialize.round((1L to 10L).toDF("x"))
    def held = (sc.getPersistentRDDs.keySet -- before).size
    assert(held == 1)
    pin.unpersist()
    assert(held == 1)
    Superstep.release(pin)
    assert(held == 0)
  }

  /** Final plans of the actions `run` starts, in order. */
  private def actionPlans(run: => Any): Seq[SparkPlan] = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try run
    finally {
      ListenerBusDrain.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.toSeq
  }

  /** Pinned scans that an Exchange takes as its input, with only row-wise
    * operators between them. */
  private def reshuffledPins(plan: SparkPlan): Seq[SparkPlan] = {
    def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: RDDScanExec => Seq(s)
      case _: BaseJoinExec | _: Exchange => Nil
      case a: AdaptiveSparkPlanExec => inputs(a.executedPlan)
      case q: QueryStageExec => inputs(q.plan)
      case other => other.children.flatMap(inputs)
    }
    collect(plan) { case e: Exchange => e }.flatMap(_.children.flatMap(inputs))
  }

  test("pageRankInt: a round reads its pinned edges, nodes and ranks in " +
    "place; its only exchange is the message aggregate") {
    val rounds = actionPlans(Graph.pageRankInt(path(6), "src", "dst", 4).collect())
      .filter(p => collect(p) { case j: BaseJoinExec => j }.nonEmpty)
    // pins after rounds 2 and 4, each round plan holding two rounds
    assert(rounds.size == 2)
    rounds.foreach { p =>
      assert(reshuffledPins(p).isEmpty, p)
      assert(collect(p) { case e: Exchange => e }.size == 2, p)
    }
  }
}

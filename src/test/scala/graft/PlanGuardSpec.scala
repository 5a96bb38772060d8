package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** CI plan guard over EVERY registered query in [[SparkEntry.queries]].
  * This spec ASSERTS two plan fragment classes, so a plan regression
  * fails the suite instead of waiting for someone to read the plans:
  *
  *  - `CartesianProductExec` anywhere: a checkpoint/localCheckpoint erases
  *    stats, so a small side that loses its broadcast hint silently decays
  *    to an all-pairs product (hit liftGainsReport in round 12).
  *  - partition-less `WindowExec` not adjudicated for THAT EXPRESSION: the
  *    single-partition sort funnel that q13/q14/ab03/ks were each cured of.
  *    Adjudicated sites (bounded-by-construction tables: calendar spines,
  *    post-aggregation bucket tables, ≤numShards shard rollups) are
  *    allow-listed BY (QUERY, WINDOW-EXPRESSION FRAGMENT) with the reason
  *    pinned next to the fragment — a per-query blanket waiver would let a
  *    FUTURE data-sized window added elsewhere in the same query pass
  *    silently (round-14 ADVICE).
  *
  * Streaming frames can't produce a batch executedPlan; they are skipped
  * here and guarded by their own micro-batch specs (the sm14/sm15
  * batch-parity discipline). Set GRAFT_PLANGUARD_PROBE=1 to print every
  * partition-less window (query, fragment) instead of asserting — the way
  * new allowlist entries get their pinned fragment.
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** (query, window-expression SQL fragment) -> reason. A partition-less
    * window in `query` passes only if its expression SQL CONTAINS one of
    * the query's pinned fragments (VERDICT r13 adjudication — bounded-by-
    * construction child tables; re-keyed per-fragment in round 15). */
  private val windowAdjudicated: Map[String, Seq[(String, String)]] = Map(
    "qs01_quantile_sketch" -> Seq(
      ("OVER (ORDER BY est",
        "cumulative bucket walk over post-agg bucket table, <= bucket-count rows")),
    "qs02_sketch_merge" -> Seq(
      ("OVER (ORDER BY est",
        "cumulative bucket walk over merged bucket table, <= bucket-count rows")),
    "sm15_stream_quantile_sketch" -> Seq(
      ("OVER (ORDER BY est",
        "same bucket walk as qs01, over the complete-mode sink table")),
    "ad01_anomalous_days" -> Seq(
      ("AS med", "median over calendar day spine, bounded by date range"),
      ("AS mad", "MAD over the same day spine"),
      ("AS _rnd_", "rank over day-spine deviations"),
      ("AS _rnv_", "rank over day-spine residuals"),
      ("AS _n_", "day-spine row count")),
    "pk01_sequence_packing" -> Seq(
      ("sum(bpe_tokens)", "documented reference-parity single-sort mode; " +
        "packSequencesSharded (pk02, pp03, pp05) is the scale path; " +
        "since r17 the lane raises by name past 2^22 rows")),
    "ds03_dsir_resample" -> Seq(
      ("row_number()", "row_number over the k-row TakeOrdered result " +
        "(limit k precedes the window in Dsir.resampleTopK)")),
    "pp07_curation_v2" -> Seq(
      ("row_number()", "same k-bounded Gumbel top-k window as ds03")),
    // km01's r13 window adjudication retired in round 16: kaplanMeier is
    // re-planned onto sharded prefix sums (fine-grained durations make
    // the distinct-time table data-sized, so the ordered window was a
    // funnel) — no unpartitioned window remains to allowlist
    "bd01_benford_digits" -> Seq(
      ("sum(n_obs)", "leading-digit table, exactly 9 rows")),
    "ca01_contribution_analysis" -> Seq(
      ("AS rank", "rank over post-aggregation order-priority segments, " +
        "<= segment-count rows (r13 adjudication)"),
      ("AS _tot_", "scalar total over the same segment table")),
    "ct01_chi_square" -> Seq(
      ("AS chi2_scaled",
        "scalar fold over the status x priority contingency cells")),
    "cu03_share_of_parent" -> Seq(
      ("AS tot_rev", "scalar total over the nation-level rollup table")),
    "gf01_gap_fill_ffill" -> Seq(
      ("AS filled", "forward fill over the calendar day spine")),
    "id01_add_id" -> Seq(
      ("row_number()", "documented reference-contract addIdSequential " +
        "(single-sort by contract; addIdUnordered is the scale path; " +
        "since r17 the lane raises by name past 2^22 rows)")),
    "ma01_moving_average" -> Seq(
      ("_dsum_", "7-row trailing frame over the daily-aggregate day " +
        "spine; since r17 the empty-partition lane raises past 2^22 rows")),
    "ps01_psi_drift" -> Seq(
      ("AS psi_scaled", "scalar fold over the PSI bucket table"))
  )

  /** Every plan node, descending through AQE wrappers and subqueries. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => Nil
    }
    p +: (p.children ++ extra ++ p.subqueries).flatMap(flatten)
  }

  test("no registered plan carries a CartesianProduct or an unadjudicated global Window") {
    val probe = sys.env.contains("GRAFT_PLANGUARD_PROBE")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (df.isStreaming) skipped += name
      else flatten(df.queryExecution.executedPlan).foreach {
        case _: CartesianProductExec =>
          offenders += s"$name: CartesianProduct"
        case w: WindowExec if w.partitionSpec.isEmpty =>
          val sql = w.windowExpression.map(_.sql).mkString(", ")
          if (probe) println(s"[planguard] $name WINDOW: ${sql.take(200)}")
          val ok = windowAdjudicated.getOrElse(name, Nil)
            .exists { case (frag, _) => sql.contains(frag) }
          if (!ok)
            offenders += s"$name: partition-less Window [${sql.take(120)}]"
        case _ => ()
      }
    }
    // streaming frames are expected to be exactly the sm* ingest queries —
    // anything else skipping the guard is itself an offense
    skipped.foreach { n =>
      if (!n.startsWith("sm")) offenders += s"$n: streaming frame outside sm*"
    }
    if (probe) offenders.foreach(o => println(s"[planguard] OFFENDER $o"))
    else
      assert(offenders.isEmpty,
        s"forbidden plan fragments:\n${offenders.mkString("\n")}")
  }

  test("sharded-scan bounds join the rows as a broadcast nested-loop join") {
    // the one-row min/max aggregate is the side carrying `_width_`
    Seq("q13_supplier_balance_rank", "pp06_anneal_schedule").foreach { name =>
      val nodes = flatten(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan)
      val boundsJoins = nodes.collect { case j: BroadcastNestedLoopJoinExec
        if j.condition.isEmpty &&
          (j.left.output ++ j.right.output).exists(_.name == "_width_") => j }
      assert(boundsJoins.nonEmpty, s"$name: no broadcast bounds join")
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), name)
    }
  }
}

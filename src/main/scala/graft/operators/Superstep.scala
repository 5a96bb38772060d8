package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The round loop of the iterative graph operators: [[Graph.pageRankInt]],
  * [[Graph.labelPropagation]], [[Graph.hitsInt]], [[Graph.ssspInt]],
  * [[Graph.bfsDistances]], [[Graph.kCore]],
  * [[Dedup.connectedComponents]] and [[Dedup.connectedComponentsStar]].
  * A round body only says how the next state follows from the current one;
  * five decisions are made here, once:
  *
  *  - Pin cadence. Round state is pinned with [[Materialize.round]] so
  *    plan depth never compounds with the round count. [[fixed]] pins
  *    after every `pinEvery`-th round and after the last. A state frame
  *    read once per round (PageRank's ranks, LPA's labels, HITS' scores)
  *    can go two rounds unpinned: both rounds then run as one job with a
  *    bounded plan, and each pin skipped is one barrier and one state
  *    write fewer (an FS round trip on the reliable lane). A frame read
  *    twice per round (SSSP's distances feed the relax join and the
  *    min-merge) would be computed twice unpinned, so it pins every round.
  *  - Counted pin. [[pinCounting]] counts the rows matching a condition
  *    in the pin's own job through [[Observe.withMetrics]], so a
  *    convergence test costs no extra action. The observation is published
  *    asynchronously after the pin returns; when it is not there within
  *    the bounded wait, a `count()` on the pinned frame gives the same
  *    number.
  *  - Until quiet. [[untilQuiet]] pins and counts every round and stops
  *    when no row of the state is active. At `maxRounds` it raises by name
  *    (an unconverged fixpoint is a wrong answer, not a best effort) or,
  *    for a bounded operator such as BFS's hop limit, returns.
  *  - Layout. [[Parallelism.byKey]] partitions a frame a round joins on
  *    its key, and the eager pin keeps that layout, so the join reads it
  *    in place and a round's only exchange is its message aggregate.
  *  - Release. `Dataset.unpersist()` does not free a pin: a pin is a
  *    `LogicalRDD` over a checkpointed RDD, not a SQL-cache entry, and
  *    only `RDD.unpersist` drops its blocks. Without it every superseded
  *    round stays in storage until the driver's GC lets the ContextCleaner
  *    reclaim it. A round pin made here is freed once the next state is
  *    pinned and that round's convergence test has read it. Pins the
  *    caller passes in, and the final state, are never freed.
  */
private[graft] object Superstep {

  /** The state after round `index` (0 = the initial state) and the count
    * of its active rows, as counted in the pin's own job. */
  final class Round private[Superstep] (val state: DataFrame, val active: Long,
                                        val index: Int) {
    private[Superstep] val scratch = ArrayBuffer.empty[DataFrame]

    /** Cache `df` for the next pin's job, which reads it more than once;
      * it is unpersisted once that pin is materialized. */
    def cacheForPin(df: DataFrame): DataFrame = { scratch += df; df.persist() }
  }

  /** Pin `df` and count its rows matching `cond` in the pin's own job. */
  def pinCounting(df: DataFrame, cond: Column): (DataFrame, Long) = {
    val (pin, m) = Observe.withMetrics(df, count(when(cond, 1L)).as("n"))(
      Materialize.round)
    (pin, m.get("n").fold(pin.where(cond).count())(_.asInstanceOf[Long]))
  }

  /** Free a pin made by [[Materialize.round]] or [[Materialize.lazyRound]].
    * The caller guarantees no plan still reads it. */
  def release(pin: DataFrame): Unit =
    pin.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** `rounds` rounds of `step` from `init`. The body gets a pin to apply to
    * every frame of the state it returns: [[Materialize.round]] after every
    * `pinEvery`-th round and after the last, identity otherwise. */
  def fixed[S](init: S, rounds: Int, pinEvery: Int)(
      step: (S, DataFrame => DataFrame) => S): S = {
    var state = init
    var held = Seq.empty[DataFrame]
    for (i <- 1 to rounds) {
      if (i % pinEvery == 0 || i == rounds) {
        val made = ArrayBuffer.empty[DataFrame]
        state = step(state, df => { val p = Materialize.round(df); made += p; p })
        held.foreach(release)
        held = made.toSeq
      } else state = step(state, identity)
    }
    state
  }

  /** Rounds of `step` from `init` until the state has no `active` rows.
    * `active(i)` selects the active rows of the state after round `i`;
    * every state, `init` included, is pinned with that count. `quiet` may
    * replace the zero-count test with one that compares the previous round
    * to the new one (the new state is pinned; the previous is still held).
    * At `maxRounds` unconverged, `exhausted` (naming the operator and the
    * remedy) is raised, after the last state's pin is freed; without it
    * the state after `maxRounds` is returned. */
  def untilQuiet(init: DataFrame, active: Int => Column, maxRounds: Int,
                 exhausted: Option[String] = None,
                 quiet: (Round, Round) => Boolean = (_, next) => next.active == 0)(
      step: Round => DataFrame): DataFrame = {
    def pinned(df: DataFrame, i: Int) =
      pinCounting(df, active(i)) match { case (s, n) => new Round(s, n, i) }
    var cur = pinned(init, 0)
    var done = cur.active == 0
    while (!done && cur.index < maxRounds) {
      val next = pinned(step(cur), cur.index + 1)
      cur.scratch.foreach(_.unpersist())
      done = quiet(cur, next)
      release(cur.state)
      cur = next
    }
    if (!done && exhausted.isDefined) release(cur.state)
    exhausted.foreach(require(done, _))
    cur.state
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, PinLayout}

/** Pluggable materialization for every lineage-truncating pin in the
  * engine: the iterative operators' per-round state (the [[Superstep]]
  * loop, `BpeTrainer.train`, `Crawler.crawl`) AND the one-shot pins
  * (id-stamping before a double-consumption join: `Elements.perRow`'s row
  * ids and `FuzzyLookup.lookup`'s query and right-side ids; probe frames
  * read by multiple consumers; self-referential write staging). A bare
  * `localCheckpoint()` holds UNREPLICATED executor-local blocks behind a
  * truncated lineage, so routing every pin here is what lets a session
  * switch them all to restartable storage.
  *
  * Iterative operators must eagerly materialize their per-round state
  * and truncate lineage — otherwise Catalyst plan depth compounds with the
  * round count. HOW that state is stored is a deployment decision, not an
  * algorithm decision:
  *
  *  - `local` — eager `Dataset.localCheckpoint()`: executor-local storage
  *    blocks, no filesystem write, the fastest lane and the right one for
  *    `local[*]` and short cluster jobs. Blocks are UNREPLICATED: losing
  *    one executor mid-iteration loses blocks lineage can no longer
  *    rebuild, killing the job. On a 1000-executor 100 TB run executor
  *    loss is routine, not exceptional — use the reliable lane there.
  *  - `reliable` — eager `Dataset.checkpoint()`: per-round write to the
  *    directory set via `SparkContext.setCheckpointDir` (HDFS/object
  *    store), so a lost executor's share of round state is re-read from
  *    the checkpoint instead of aborting a 50-round peel. Costs one FS
  *    write of the (node-sized, not corpus-sized) round state per call,
  *    and Spark computes the checkpointed plan a second time to write it
  *    (the documented `RDD.checkpoint` recompute) — both disclosed,
  *    bounded costs. Checkpoint files accumulate until context shutdown
  *    unless `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *  - `auto` (the default) — `reliable` when the session has a checkpoint
  *    dir set, else `local`: a cluster operator opts into restartable
  *    iteration with the one standard Spark setting they already use for
  *    it, and nothing changes for local runs.
  *
  * The lane is selected per session via the runtime SQL conf
  * `spark.graft.materializer` (`auto` | `local` | `reliable`) — session
  * confs are settable mid-session and scoped per `SparkSession`, unlike
  * the JVM-global checkpoint dir. Both lanes materialize exactly the same
  * rows; the switch changes WHERE blocks live, never the data (Round18Spec
  * compares all eight [[Superstep]] operators across the lanes, Round19Spec
  * one one-shot lane per routed file).
  *
  * Layout. An EAGER pin ([[round]], either lane) keeps the hash layout its
  * final adaptive plan produced: when that plan's output partitioning is a
  * plain `HashPartitioning` over the pin's columns with the pinned RDD's
  * partition count (the layout of `repartition(n, key)`, and of the joins
  * and aggregates that inherit it), the pin's `LogicalRDD` carries it, so
  * a join of the pin on that key plans no Exchange on its side. Spark
  * itself records `UnknownPartitioning` for a pin under AQE. Coalesced,
  * range and unknown layouts stay unknown, and a [[lazyRound]] pin, whose
  * plan has not run when it is made, keeps none.
  */
object Materialize {

  val ConfKey = "spark.graft.materializer"

  /** Eagerly materialize `df` and truncate lineage on the configured
    * lane, keeping `df`'s final hash layout (see Layout above). Chain as `df.transform(Materialize.round)` or via
    * [[MaterializeOps.materializeRound]]. */
  def round(df: DataFrame): DataFrame =
    PinLayout.keepHashLayout(df, pick(df, eager = true))

  /** LAZY twin of [[round]] for pure-cache pins (a frame read by several
    * consumers in the same query, where the first action downstream
    * forces it anyway — the contamination gram table): `localCheckpoint(eager=false)` / `checkpoint(eager=false)`
    * per the same lane selection, so no extra evaluation pass is spent
    * materializing what the caller's next job computes regardless.
    * Same bit-identity contract as [[round]].
    *
    * Reliable-lane cost: a non-eager
    * RELIABLE checkpoint does not cache — Spark's documented checkpoint
    * recompute means the pinned frame evaluates once for the first
    * consumer's own job and once more for the checkpoint write, with
    * later consumers reading the checkpoint files; the LOCAL lane's
    * `localCheckpoint(false)` is persist-backed (single evaluation).
    * That one extra evaluation is the same price [[round]]'s scaladoc
    * already discloses for reliable storage — call-site "computed once"
    * comments describe the local/default lane. */
  def lazyRound(df: DataFrame): DataFrame = pick(df, eager = false)

  /** The one lane-selection switch behind [[round]] and [[lazyRound]]. */
  private def pick(df: DataFrame, eager: Boolean): DataFrame =
    df.sparkSession.conf.get(ConfKey, "auto") match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" =>
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          s"$ConfKey=reliable needs a checkpoint directory: call " +
            "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) first")
        df.checkpoint(eager)
      case "auto" =>
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
          df.checkpoint(eager)
        else df.localCheckpoint(eager)
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be auto|local|reliable, got '$other'")
    }

  implicit final class MaterializeOps(private val df: DataFrame)
      extends AnyVal {
    /** [[Materialize.round]] in method position — the drop-in replacement
      * for `.localCheckpoint()` at iterative-operator round boundaries. */
    def materializeRound(): DataFrame = Materialize.round(df)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The engine's two deliberate exchanges: [[widen]] spreads an
  * unsplittable scan over the cores, and [[byKey]] lays a frame out by
  * key into a fixed number of partitions.
  *
  * Widening (guide §2.5's "input skew: one unsplittable file →
  * repartition immediately after the read"). The bench corpus ships each
  * table as ONE single-row-group parquet file, so every scan is one input
  * split no matter the split-size configs — and any CPU-heavy per-row
  * derivation planned into the scan stage (gram explosion + hashing,
  * vector kernels, space-filling-curve walks) runs in ONE task while the
  * other cores idle (job-profiled: dd05's gram stage 1.4 s in one task,
  * ln01's cosine stage 3.5 s, zo02's Hilbert walk 1.05 s). [[widen]]
  * hash-repartitions to `spark.default.parallelism` ONLY when the input's
  * planned partition count is BOTH under half the available slots AND at
  * most [[MaxPlannedToWiden]] in absolute terms: a moderately-split
  * intermediate on a large cluster (say 400 partitions against 1000
  * slots) is not re-shuffled wholesale.
  *
  * By key. [[byKey]] is `repartition(spark.sql.shuffle.partitions, key)`.
  * AQE never coalesces this by-number form, so the layout survives to the
  * operators above it: every aggregate, window or join keyed on a superset
  * of `key` runs in place on that many tasks, and an eager pin of it keeps
  * the layout ([[Materialize.round]]). A bare `repartition(key)` is
  * coalesced by AQE, which can fold a whole stage into one task.
  *
  * CALLER CONTRACT (each rule names the slowdown that broke it):
  *  - pass [[widen]] only SCAN-STAGE or PINNED (materialized) inputs: the
  *    partition probe (`df.rdd.getNumPartitions`) converts the plan to an
  *    RDD, and under AQE that EXECUTES every upstream shuffle stage as
  *    real jobs whose work is not reused by the later execution — a
  *    post-shuffle input therefore runs its pipeline twice (BpeTrainer,
  *    UnigramLm and WordPiece once did);
  *  - never pass byte-blob / wide-payload columns: the exchange moves
  *    every byte, and re-partitioning media blobs costs more than the
  *    decode it parallelizes (Multimodal once did) — project to the
  *    narrow derivation inputs first;
  *  - one consumer per exchange: a widened or keyed frame read by several
  *    downstream branches re-pays its exchange in each (a widened
  *    FuzzyLookup token frame once made fz01 2.5x slower), so apply
  *    either to a frame with a single consumer, or pin it before the
  *    second consumer reads it.
  *
  * Both hash on caller-chosen key columns — deterministic row→partition
  * assignment under task retries (guide §2.5 warns off
  * round-robin/rand-derived keys), and the exchange carries only the
  * caller's already-projected columns. Callers pick a key that spreads
  * (a row id), and widen BEFORE the expensive derivation so the shuffle
  * moves the narrow input rows, not the exploded output. */
object Parallelism {

  /** `df` hash-partitioned on `key` into the session's shuffle partition
    * count, a layout AQE keeps (see By key above). */
  def byKey(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))

  /** Absolute planned-partition ceiling for the trigger: above this the
    * input is already split enough that per-core imbalance, not
    * under-splitting, is the residual — and on big clusters it keeps a
    * moderately-split intermediate from being re-shuffled wholesale. */
  val MaxPlannedToWiden = 4

  def widen(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "widen needs at least one hash key column")
    val slots = df.sparkSession.sparkContext.defaultParallelism
    // scan/pinned inputs only (see caller contract): for those this probe
    // is plan conversion, not a job
    val planned = df.rdd.getNumPartitions
    if (planned <= MaxPlannedToWiden && planned * 2 <= slots)
      df.repartition(slots, keys: _*)
    else df
  }

  /** Byte-bounded variant for HEAVY-PAYLOAD rows (media blobs): the
    * exchange moves every payload byte, so the width is sized from the
    * scan's estimated bytes — `min(slots, ceil(bytes /
    * [[TargetBlobPartitionBytes]]))` — never blindly to the slot count.
    * A 16 MB staged fixture widens a few ways (cheap shuffle, decode
    * spreads); a multi-TB production
    * media table is already many-split (`planned > MaxPlannedToWiden`)
    * and is never re-shuffled. Unknown/absurd size estimates (pinned
    * frames default to huge sentinels) disable the widen rather than
    * trigger it. Same caller contract as [[widen]]. */
  val TargetBlobPartitionBytes: Long = 4L << 20

  def widenByBytes(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "widenByBytes needs at least one hash key column")
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val planned = df.rdd.getNumPartitions
    if (planned > MaxPlannedToWiden) return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // sanity ceiling: an unknown-size leaf reports a Long.MaxValue-ish
    // sentinel; treat anything past 1 TB-per-planned-partition as unknown
    if (bytes <= 0 || bytes > BigInt(planned) * (1L << 40)) return df
    val want = ((bytes + TargetBlobPartitionBytes - 1) /
      TargetBlobPartitionBytes).min(BigInt(slots)).toInt
    if (want > planned * 2) df.repartition(want, keys: _*) else df
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Parquet

/** Physical-layout operators: multi-dimensional clustering for scan
  * pruning. At 100 TB the dominant cost of a selective two-dimensional
  * query is the scan; parquet min/max pruning only skips files that are
  * CLUSTERED on the filtered columns, and a single-column sort clusters
  * exactly one dimension. Z-ordering (Morton order — bit-interleaving the
  * dimensions, public technique used by Delta/Iceberg `OPTIMIZE ZORDER`)
  * gives every interleaved dimension locality at once: ranges of the
  * z-value are small rectangles in (x, y) space, so per-file min/max
  * stay tight on BOTH columns.
  */
object Layout {

  /** Morton z-value of two non-negative integer columns: the low
    * `bitsPerDim` bits of `x` and `y` interleaved (x at even positions,
    * y at odd). Pure bit arithmetic — codegen'd, shuffle-free, and
    * replayable in any engine with shifts and masks. Dimensions wider
    * than `bitsPerDim` bits should be range-bucketed first (the usual
    * z-order recipe quantizes to a fixed bit budget). */
  def zOrderValue(x: Column, y: Column, bitsPerDim: Int = 16): Column = {
    require(bitsPerDim >= 1 && bitsPerDim <= 31, "bitsPerDim in [1,31]")
    val mask = (1L << bitsPerDim) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bitsPerDim).map { i =>
      shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Sort a DataFrame into z-order for writing: range-partition on the
    * z-value (so files tile the space) and sort within partitions (so
    * row groups tile it too). `numPartitions` ≈ target file count. */
  def zOrderBy(df: DataFrame, x: Column, y: Column, numPartitions: Int,
               bitsPerDim: Int = 16): DataFrame = {
    val z = zOrderValue(x, y, bitsPerDim)
    df.withColumn("_z_", z)
      .repartitionByRange(numPartitions, col("_z_"))
      .sortWithinPartitions("_z_")
      .drop("_z_")
  }

  /** Append a HILBERT-curve index column `out` over two non-negative
    * integer columns — the stronger space-filling curve: unlike Morton
    * order (which teleports at power-of-two seams), every step along the
    * Hilbert curve moves to a 4-neighbor grid cell, so value ranges map
    * to tighter rectangles and per-file min/max prune better on BOTH
    * dimensions (the reason Databricks moved liquid clustering off
    * z-order). Standard iterative xy→d walk (Wikipedia "Hilbert curve",
    * public domain): per level `s = 2^i` the quadrant bit pair (rx, ry)
    * contributes `s²·((3·rx) xor ry)` and the coordinates rotate/reflect
    * into the sub-quadrant frame.
    *
    * Each level materializes as NAMED columns (withColumn chain, which
    * Catalyst collapses into one projection): the rotation references
    * both coordinates, so inlining it as one Column expression would
    * double the tree per level — 4^bits nodes. All bit arithmetic —
    * codegen'd, shuffle-free, and replayable as the identical staged
    * program in any engine. Inputs wider than `bitsPerDim` bits must be
    * range-bucketed first (the zOrderValue contract). */
  def withHilbertValue(df: DataFrame, x: Column, y: Column, out: String,
                       bitsPerDim: Int = 16): DataFrame = {
    require(bitsPerDim >= 1 && bitsPerDim <= 31, "bitsPerDim in [1,31]")
    val mask = (1L << bitsPerDim) - 1
    val start = df
      .withColumn("_hx_", x.cast("long").bitwiseAND(lit(mask)))
      .withColumn("_hy_", y.cast("long").bitwiseAND(lit(mask)))
      .withColumn(out, lit(0L))
    val walked = ((bitsPerDim - 1) to 0 by -1).foldLeft(start) { (acc, i) =>
      val s = 1L << i
      val rx = when(col("_hx_").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(col("_hy_").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      acc
        .withColumn("_rx_", rx).withColumn("_ry_", ry)
        .withColumn(out, col(out) +
          lit(s) * lit(s) * (lit(3L) * col("_rx_")).bitwiseXOR(col("_ry_")))
        // rotate/reflect into the sub-quadrant: flip both coords when
        // rx=1 (within ry=0), then swap x and y
        .withColumn("_nx_",
          when(col("_ry_") === 0,
            when(col("_rx_") === 1, lit(s - 1) - col("_hy_"))
              .otherwise(col("_hy_"))).otherwise(col("_hx_")))
        .withColumn("_hy_",
          when(col("_ry_") === 0,
            when(col("_rx_") === 1, lit(s - 1) - col("_hx_"))
              .otherwise(col("_hx_"))).otherwise(col("_hy_")))
        .withColumn("_hx_", col("_nx_"))
    }
    walked.drop("_hx_", "_hy_", "_rx_", "_ry_", "_nx_")
  }

  /** Zone-map (per-block min/max index) + data-skipping report: the
    * bookkeeping a lakehouse keeps per file/row-group, computed as a
    * first-class relation so a layout can be AUDITED before committing to
    * it. For each block (any blocking column — a file id, a z-bucket, a
    * partition): row count, min/max of each stat column, and for the
    * range predicate `lo <= predCol <= hi` both the skipping DECISION
    * (`scanned` — false means the zone map alone proves the block empty
    * of matches) and the ground truth (`n_matching`). The ratio of
    * scanned blocks to matching rows is exactly the layout's pruning
    * quality — this is the measurement zOrderBy exists to win.
    *
    * One partial+final aggregate on the block key; min/max/conditional
    * count all map-side combine, so the shuffle carries one row per
    * block per partition regardless of data size. All integer — replays
    * identically anywhere. */
  def zoneMapReport(df: DataFrame, blockCol: Column, statCols: Seq[String],
                    predCol: String, lo: Long, hi: Long): DataFrame = {
    require(statCols.nonEmpty, "need at least one stat column")
    require(lo <= hi, s"empty predicate range [$lo, $hi]")
    val p = col(predCol).cast("long")
    val aggs =
      statCols.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"min_$c"),
        max(col(c).cast("long")).as(s"max_$c"))) ++ Seq(
        min(p).as("_pmin_"), max(p).as("_pmax_"),
        sum(when(p >= lo && p <= hi, 1L).otherwise(0L)).as("n_matching"))
    df.groupBy(blockCol.as("block_id"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
      .withColumn("scanned", col("_pmax_") >= lo && col("_pmin_") <= hi)
      .drop("_pmin_", "_pmax_")
  }

  /** Small-file compaction — the lakehouse `OPTIMIZE` bin-packing step:
    * a directory fragmented into many small parquet files (streaming
    * ingest, over-parallel writes) is rewritten as few near-`targetBytes`
    * files. Small files are THE silent 100 TB scan killer: per-file open/
    * footer overhead dominates once files drop below a few tens of MB,
    * and a 10^6-file table bottlenecks the driver's listing long before
    * any byte is read.
    *
    * Planning is metadata-only on the driver (exactly how Delta/Iceberg
    * OPTIMIZE plans): list (name, bytes), first-fit-decreasing bin-pack
    * into groups capped at `targetBytes` (any single file larger than the
    * cap gets its own group). Execution is ONE distributed job: scan all
    * files, tag each row's source file (`input_file_name`), broadcast-join
    * the file→group plan, hash-repartition on the group id and write
    * `partitionBy("compaction_group")` — each group lands in exactly one
    * task's partition, so each group directory holds exactly ONE file
    * whatever the hash collisions. No row ever passes through the
    * driver. (The partition column must not start with `_` — Spark's
    * file index treats `_`-prefixed paths as hidden on read-back.)
    *
    * Returns the compaction manifest: (group, n_files, bytes_planned),
    * one row per output file. The rewritten table reads back with
    * `Parquet.read(spark, destDir)` (the group id is a partition column —
    * drop it). */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
                        srcDir: String, destDir: String,
                        targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // keyed by base NAME (unique within one directory) — URI spellings of
    // input_file_name() and FileStatus differ (file:/ vs file:///)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(srcDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen))
      .sortBy { case (name, len) => (-len, name) } // FFD, name tie-break
    require(files.nonEmpty, s"no parquet files under $srcDir")
    val plan = planFirstFit(files.toSeq, targetBytes)
    val nBins = plan.iterator.map(_._2).max + 1
    val planDf = plan.map { case (p, g, _) => (p, g) }
      .toDF("_file_", "compaction_group")
    Parquet.read(spark, srcDir)
      .withColumn("_file_",
        regexp_extract(input_file_name(), "[^/]+$", 0))
      .join(broadcast(planDf), "_file_")
      .drop("_file_")
      .repartition(nBins, col("compaction_group"))
      .write.mode("overwrite").partitionBy("compaction_group")
      .parquet(destDir)
    plan.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (g, fs0) => (g, fs0.size.toLong, fs0.map(_._3).sum) }
      .toDF("group", "n_files", "bytes_planned")
  }

  /** EXACT first-fit bin packing over (name, bytes) in the given order
    * (callers pass size-descending for FFD): each file goes to the
    * LOWEST-INDEX bin with enough remaining capacity, O(log bins) per
    * file through a leftmost-fit segment tree — the naive every-bin scan
    * is O(files · bins), minutes of driver CPU at the 10^6-file tables
    * [[compactSmallFiles]] exists for (and a min-capacity prune dies to
    * one tiny file in the listing: it keeps every bin open). A file
    * larger than `targetBytes` opens its own (overfull) bin, which can
    * then never fit anything — identical to the naive semantics. */
  private[graft] def planFirstFit(files: Seq[(String, Long)],
                                  targetBytes: Long): Seq[(String, Int, Long)] = {
    // binary max-tree over per-bin remaining capacity, bins in creation
    // order; leaves beyond `n` hold -1 so they never win a descent
    var cap = 1
    var tree = Array.fill(2 * cap)(-1L)
    var n = 0
    def pull(i: Int): Unit = tree(i) = math.max(tree(2 * i), tree(2 * i + 1))
    def update(i: Int, rem: Long): Unit = {
      var p = cap + i; tree(p) = rem; p /= 2
      while (p >= 1) { pull(p); p /= 2 }
    }
    def addBin(): Int = {
      if (n == cap) { // double the leaf space, re-pull the upper levels
        val old = tree; val oldCap = cap
        cap *= 2
        tree = Array.fill(2 * cap)(-1L)
        System.arraycopy(old, oldCap, tree, cap, oldCap)
        var i = cap - 1
        while (i >= 1) { pull(i); i -= 1 }
      }
      val idx = n; n += 1
      idx
    }
    def firstFit(len: Long): Int =
      if (tree(1) < len) -1
      else {
        var i = 1
        while (i < cap) i = if (tree(2 * i) >= len) 2 * i else 2 * i + 1
        i - cap
      }
    val remaining = scala.collection.mutable.ArrayBuffer.empty[Long]
    files.map { case (path, len) =>
      val hit = firstFit(len)
      val g = if (hit >= 0) hit else { remaining += targetBytes; addBin() }
      remaining(g) -= len
      update(g, remaining(g))
      (path, g, len)
    }
  }
}

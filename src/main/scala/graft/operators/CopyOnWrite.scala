package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Parquet

/** Copy-on-write row-level mutations over a plain parquet directory —
  * the lakehouse DELETE / MERGE INTO primitives (Delta/Iceberg/Hudi's
  * copy-on-write mode, public design): a table of immutable files is
  * mutated by rewriting ONLY the files that contain affected rows and
  * leaving every other file byte-untouched. At 100 TB that file-level
  * surgery is the whole point — a targeted delete touches a handful of
  * files, not the table — and it composes with clustering
  * ([[Layout.zOrderBy]]/[[Layout.withHilbertValue]]): the tighter a
  * file's key range, the fewer files any predicate hits.
  *
  * Both operations follow the same two-phase shape:
  *  1. FIND: one scan tags rows with `input_file_name` and reduces to
  *     the distinct hit-file list (collected — file lists are metadata
  *     scale by definition; with zonemap stats this scan would itself
  *     be pruned).
  *  2. REWRITE: one distributed job reads ONLY the hit files, applies
  *     the mutation, and writes replacement part files into the same
  *     directory under a fresh epoch prefix; the old hit files are
  *     deleted afterwards. Non-hit files are never opened for writing.
  *
  * Readers that list the directory between the write and the deletes
  * can see both versions of a hit file — single-writer semantics, the
  * contract a real table format's manifest/transaction log removes.
  * Rewrites land as `cow-<epoch>-...` files so repeated mutations never
  * collide. */
object CopyOnWrite {

  private def listHits(spark: SparkSession, dir: String,
                       rowsHit: DataFrame): Seq[String] =
    rowsHit.select(col("_cow_file_")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  private def tagged(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, dir).withColumn("_cow_file_", input_file_name())

  private def rewrite(spark: SparkSession, dir: String, hits: Seq[String],
                      replacement: DataFrame, epoch: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/_cow_tmp_$epoch"
    replacement.write.mode("overwrite").parquet(tmp)
    // move the replacement parts in under the epoch prefix, then drop
    // the old hit files — the rewrite job is complete before any old
    // file disappears
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    parts.zipWithIndex.foreach { case (p, i) =>
      val dest = new org.apache.hadoop.fs.Path(
        f"$dir/cow-$epoch-$i%05d.parquet")
      require(fs.rename(p.getPath, dest), s"rename failed: ${p.getPath}")
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    hits.foreach { h =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(h))
      require(fs.delete(p, false), s"delete failed: $h")
    }
  }

  /** Row-level DELETE: remove rows matching `pred`, rewriting only the
    * files that contain at least one match. Returns the mutation
    * manifest: (n_files_total, n_files_rewritten, n_rows_deleted) —
    * computed BEFORE the rewrite so the numbers describe the mutation,
    * not the result. */
  def deleteWhere(spark: SparkSession, dir: String, pred: Column,
                  epoch: Long): DataFrame = {
    import spark.implicits._
    val t = tagged(spark, dir)
    val hits = listHits(spark, dir, t.where(pred))
    val nTotal = Parquet.read(spark, dir).inputFiles.length.toLong
    val nDeleted = t.where(pred).count()
    if (hits.nonEmpty) {
      // DELETE removes only rows where pred IS TRUE. Under three-valued
      // logic `!pred` is NULL (not true) for NULL-pred rows, so a bare
      // where(!pred) would silently drop them during the rewrite; the
      // coalesce keeps them, matching lakehouse COW delete semantics.
      val keep = Parquet.read(spark, hits: _*)
        .where(!coalesce(pred, lit(false)))
      rewrite(spark, dir, hits, keep, epoch)
    }
    Seq((nTotal, hits.length.toLong, nDeleted))
      .toDF("n_files_total", "n_files_rewritten", "n_rows_deleted")
  }

  /** MERGE INTO (upsert): rows of `batch` replace base rows with the
    * same `keyCol` (whole-row replacement — the latest-wins contract of
    * [[Temporal.latestState]]) and unmatched batch keys append. Only
    * base files containing a matched key are rewritten; inserts land as
    * their own new file(s). Base keys must be unique (a keyed table,
    * not a log). Returns (n_files_total, n_files_rewritten, n_updated,
    * n_inserted). */
  def mergeInto(spark: SparkSession, dir: String, batch: DataFrame,
                keyCol: String, epoch: Long): DataFrame = {
    import spark.implicits._
    val t = tagged(spark, dir)
    val keys = batch.select(col(keyCol)).distinct()
    // ENFORCE the documented key contracts (round 18) — both violations
    // previously mutated the table silently: duplicate BATCH keys both
    // land (the "upsert" leaves the base with duplicate keys and which
    // row "won" is undefined without an order column — use
    // Temporal.latestState to collapse the batch first); duplicate BASE
    // keys among matched rows are ALL replaced by one batch row (a
    // silent dedup side effect on what the caller thought was a log).
    // Each check is ONE job (count + countDistinct fused), and the
    // batch-side check runs BEFORE the FIND scan so a bad batch fails
    // before any base-table work.
    val bRow = batch.agg(count(lit(1)).as("_n_"),
      countDistinct(col(keyCol)).as("_k_"),
      count(when(col(keyCol).isNull, 1)).as("_nn_")).collect().head
    val (nBatchRows, nBatchKeys) = (bRow.getLong(0), bRow.getLong(1))
    // countDistinct ignores NULLs, so a NULL key would otherwise be
    // misdiagnosed as "duplicate batch keys" — a remedy loop the caller
    // cannot escape; name the real defect first
    require(bRow.getLong(2) == 0,
      s"mergeInto: ${bRow.getLong(2)} batch row(s) have a NULL '$keyCol' " +
        "key — an upsert key must be present; filter or repair them")
    require(nBatchRows == nBatchKeys,
      s"mergeInto: batch has $nBatchRows rows but $nBatchKeys distinct " +
        s"'$keyCol' keys — duplicate batch keys make the upsert " +
        "order-undefined; collapse the batch (e.g. Temporal.latestState) " +
        "first")
    val matched = t.join(keys, Seq(keyCol), "left_semi")
    val hits = listHits(spark, dir, matched)
    val nTotal = Parquet.read(spark, dir).inputFiles.length.toLong
    val mRow = matched.agg(count(lit(1)).as("_n_"),
      countDistinct(col(keyCol)).as("_k_")).collect().head
    val (nUpdated, nMatchedKeys) = (mRow.getLong(0), mRow.getLong(1))
    require(nUpdated == nMatchedKeys,
      s"mergeInto: $nUpdated base rows match only $nMatchedKeys distinct " +
        s"'$keyCol' keys — the base is not key-unique (a log, not a " +
        "keyed table) and the rewrite would silently collapse duplicates")
    val nInserted = nBatchKeys - nMatchedKeys
    if (hits.nonEmpty) {
      // hit files: keep unmatched rows, take matched rows from the batch
      val hitDf = Parquet.read(spark, hits: _*)
      val kept = hitDf.join(keys, Seq(keyCol), "left_anti")
      val updates = batch.join(hitDf.select(col(keyCol)).distinct(),
        Seq(keyCol), "left_semi")
      rewrite(spark, dir, hits,
        kept.unionByName(updates.select(hitDf.columns.map(col): _*)), epoch)
    }
    // inserts: batch keys that matched NO base row, appended as new
    // files. Materialized (Materialize.round) BEFORE the append — the
    // plan reads the directory it is about to write into, and a lazy
    // self-referential write must never re-list mid-append
    val inserts = batch.join(
      Parquet.read(spark, dir).select(col(keyCol)).distinct(),
      Seq(keyCol), "left_anti").transform(Materialize.round)
    if (!inserts.isEmpty) {
      val cols = Parquet.read(spark, dir).columns
      inserts.select(cols.map(col): _*).write.mode("append").parquet(dir)
    }
    Seq((nTotal, hits.length.toLong, nUpdated, nInserted))
      .toDF("n_files_total", "n_files_rewritten", "n_updated", "n_inserted")
  }
}

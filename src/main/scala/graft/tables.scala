package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Parquet

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * Every query entry receives `(spark, sfDir)` and reads only the columns it
  * needs — Catalyst prunes the parquet scan to `ReadSchema`, so we never
  * project manually before a filter/join (pushdown handles it).
  *
  * Each table resolves its schema from one parquet footer on the driver
  * ([[graft.sources.Parquet]]), so loading a table starts no Spark job;
  * reads that carry reader options keep Spark's own schema inference.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.parquet has shipped `ts` in two physical forms across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long, truncate to micros exactly as DuckDB
    * does on the oracle side; integer `div`, because nanos since epoch
    * ~9e17 exceeds a double's 2^53 mantissa) and plain TIMESTAMP(MICROS),
    * which Spark infers as TIMESTAMP_NTZ. Both normalize to session-zone
    * TIMESTAMP (the session timezone is pinned to UTC by every entry
    * point, so the NTZ→LTZ cast is instant-preserving): downstream
    * consumers rely on LTZ semantics — streaming watermarks reject NTZ
    * event time, epoch casts (`CAST(ts AS BIGINT)`) are LTZ-only, and
    * `Row.getTimestamp` expects `java.sql.Timestamp`. The nanos conf is
    * set before the read because the footer's schema converts under it.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

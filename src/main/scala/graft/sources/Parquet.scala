package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Option-free parquet reads whose schema comes from one footer, read on
  * the driver.
  *
  * `spark.read.parquet(path)` infers its schema with a one-task Spark job
  * even when it reads a single footer (`ParquetUtils.inferSchema` →
  * `mergeSchemasInParallel`), about 60 ms of job launch per table read.
  * [[read]] picks the file Spark's inference would pick — a
  * `_common_metadata`, else a `_metadata` summary, else the first data
  * file by path after glob expansion and Spark's own listing — reads its
  * footer here, converts it as Spark does (the Spark row-metadata schema
  * when present, else `ParquetToSparkSchemaConverter` under the session's
  * parquet confs) and hands the result to Spark as the data schema.
  * Partition discovery, nullability and the scan stay Spark's own, so
  * `schema(spark, p) == spark.read.parquet(p).schema`.
  *
  * Whatever this path does not cover goes to Spark's inference, which
  * then raises its own errors: `spark.sql.parquet.mergeSchema` on, a
  * missing path, no data file (`UNABLE_TO_INFER_SCHEMA`), an unreadable
  * footer, or a data column that shadows a partition column. Reads that
  * carry reader options (`mergeSchema`, `pathGlobFilter`, ...) call
  * `spark.read` directly.
  */
object Parquet {

  /** `spark.read.parquet(paths: _*)`, with no Spark job to infer the schema. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(dataSchema) => spark.read.schema(dataSchema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** `spark.read.parquet(paths: _*).schema`, with no Spark job. */
  def schema(spark: SparkSession, paths: String*): StructType =
    read(spark, paths: _*).schema

  private def footerSchema(spark: SparkSession,
                           paths: Seq[String]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConf()
    // as DataSource.checkAndGlobPathIfNecessary: only paths with glob
    // characters are globbed. A missing path or an empty glob lists no
    // file here, and Spark's read reports it.
    def roots(path: String): Seq[Path] = {
      val p = new Path(path)
      val fs = p.getFileSystem(hadoopConf)
      val q = fs.makeQualified(p)
      if (!path.exists("{}[]*?\\".contains(_))) Seq(q)
      else Option(fs.globStatus(q)).toSeq.flatten.map(st => fs.makeQualified(st.getPath))
    }
    // as ParquetFileFormat.readSchemaFromFooter, with the converter
    // ParquetFileFormat.mergeSchemasInParallel builds
    def footer(file: FileStatus): StructType = {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS).getFileMetaData
      meta.getKeyValueMetaData.asScala.get(ParquetReadSupport.SPARK_METADATA_KEY) match {
        case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
        case None => new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation,
        ).convert(meta.getSchema)
      }
    }
    if (conf.isParquetSchemaMergingEnabled) None
    else try {
      val index = new InMemoryFileIndex(spark, paths.flatMap(roots), Map.empty, None,
        FileStatusCache.getOrCreate(spark))
      // as ParquetUtils.inferSchema without mergeSchema
      val files = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
        .map(footer)
        .filterNot(_.fieldNames.exists(f =>
          index.partitionSchema.fieldNames.exists(conf.resolver(_, f))))
    } catch {
      // an unreadable footer, or a legacy schema string only Spark parses
      case NonFatal(_) => None
    }
  }
}

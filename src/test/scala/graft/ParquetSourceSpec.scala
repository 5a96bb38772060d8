package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Parquet

/** [[graft.sources.Parquet]] must resolve exactly the schema Spark's own
  * inference gives, from the same file, without a Spark job. */
class ParquetSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(tag: String): JPath = Files.createTempDirectory(s"parquet_spec_$tag")

  private def assertParity(paths: String*): Unit = {
    val ours = Parquet.schema(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*).schema
    assert(ours == theirs, s"\nfooter: ${ours.treeString}\nspark:  ${theirs.treeString}")
  }

  /** Moves the single part file of a Spark write at `src` to `dest`. */
  private def movePart(src: JPath, dest: JPath): Unit = {
    val part = Files.list(src).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  test("schema parity: every testdata table, events after Tables.events' conf") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach(t => assertParity(s"$sf/$t.parquet"))
    Tables.events(spark, sf) // sets the nanos-as-long conf events is read under
    assertParity(s"$sf/events.parquet")
  }

  test("schema parity: a Spark-written multi-file directory with _SUCCESS") {
    val dir = tmpDir("multi").resolve("t").toString
    spark.range(0, 300).select($"id", ($"id" % 7).cast("string").as("k"))
      .repartition(3).write.parquet(dir)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    assertParity(dir)
    assert(Parquet.read(spark, dir).count() == 300)
  }

  test("schema parity: a batch-b* glob over directories that disagree") {
    val out = tmpDir("glob")
    Seq(2, 0, 1).foreach { b =>
      val df = if (b == 0) Seq((1L, 10)).toDF("doc_id", "n_bytes")
               else Seq((2L, 20L, "x")).toDF("doc_id", "n_bytes", "extra")
      df.coalesce(1).write.parquet(f"$out/batch-b$b%05d")
    }
    assertParity(s"$out/batch-b*")
    // Spark reads batch-b00000's footer: the first file by path
    assert(Parquet.schema(spark, s"$out/batch-b*").fieldNames.toSeq == Seq("doc_id", "n_bytes"))
  }

  test("schema parity: TIMESTAMP_NTZ and decimal columns, with and without Spark metadata") {
    val base = tmpDir("types")
    val spark1 = base.resolve("spark").toString
    Seq(("2024-01-02 03:04:05", "12.34")).toDF("ts", "amt")
      .select(to_timestamp_ntz($"ts").as("ts"), $"amt".cast("decimal(18,2)").as("amt"),
        $"amt".cast("decimal(38,6)").as("wide"))
      .write.parquet(spark1)
    assertParity(spark1)
    // parquet-mr writes no Spark row metadata: the footer's own types convert
    val plain = base.resolve("plain.parquet")
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 ts (TIMESTAMP(MICROS,false));
        |  optional int64 amt (DECIMAL(18,2));
        |  optional fixed_len_byte_array(16) wide (DECIMAL(38,6));
        |  optional binary name (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(plain.toUri))
      .withConf(new Configuration()).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000000000L).append("amt", 1234L).append("name", "a"))
    finally writer.close()
    assertParity(plain.toString)
    val types = Parquet.schema(spark, plain.toString).map(f => f.name -> f.dataType.simpleString)
    assert(types == Seq("ts" -> "timestamp_ntz", "amt" -> "decimal(18,2)",
      "wide" -> "decimal(38,6)", "name" -> "string"))
  }

  test("files that disagree resolve to the file Spark picks, summaries first") {
    val base = tmpDir("disagree")
    Seq((1, "a")).toDF("a", "b").coalesce(1).write.parquet(base.resolve("w1").toString)
    Seq((2L, 2.5)).toDF("a", "c").coalesce(1).write.parquet(base.resolve("w2").toString)
    val dir = Files.createDirectory(base.resolve("t"))
    movePart(base.resolve("w1"), dir.resolve("part-00000-x.parquet"))
    movePart(base.resolve("w2"), dir.resolve("part-00001-y.parquet"))
    assertParity(dir.toString)
    val first = Parquet.schema(spark, dir.toString)
    assert(first.fieldNames.toSeq == Seq("a", "b"))
    Files.move(dir.resolve("part-00000-x.parquet"), dir.resolve("part-00002-x.parquet"))
    assertParity(dir.toString)
    assert(Parquet.schema(spark, dir.toString).fieldNames.toSeq == Seq("a", "c"))
    // a summary file wins over every data file, _common_metadata over _metadata
    Files.copy(dir.resolve("part-00002-x.parquet"), dir.resolve("_metadata"))
    assertParity(dir.toString)
    assert(Parquet.schema(spark, dir.toString) == first)
    Files.copy(dir.resolve("part-00001-y.parquet"), dir.resolve("_common_metadata"))
    assertParity(dir.toString)
    assert(Parquet.schema(spark, dir.toString).fieldNames.toSeq == Seq("a", "c"))
    // spark.sql.parquet.mergeSchema is Spark's to honour
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      Files.delete(dir.resolve("_metadata"))
      Files.delete(dir.resolve("_common_metadata"))
      Files.move(dir.resolve("part-00001-y.parquet"), dir.resolve("part-00001-y.bak"))
      Seq((3, 4.5)).toDF("a", "c").coalesce(1).write.parquet(base.resolve("w3").toString)
      movePart(base.resolve("w3"), dir.resolve("part-00001-y.parquet"))
      Files.delete(dir.resolve("part-00001-y.bak"))
      assertParity(dir.toString)
      assert(Parquet.schema(spark, dir.toString).fieldNames.toSet == Set("a", "b", "c"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("schema parity: partition directories and multiple paths") {
    val dir = tmpDir("parts")
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$dir/batch=1")
    Seq((2L, "y")).toDF("id", "v").write.parquet(s"$dir/batch=2")
    assertParity(dir.toString)
    assert(Parquet.schema(spark, dir.toString).fieldNames.toSeq == Seq("id", "v", "batch"))
    assertParity(s"$dir/batch=1", s"$dir/batch=2")
    assert(Parquet.read(spark, dir.toString).where($"batch" === 2)
      .select($"v").as[String].collect().toSeq == Seq("y"))
    // a data column named like the partition column keeps its data position
    val shadow = tmpDir("shadow")
    Seq((3L, "z", 3)).toDF("id", "v", "batch").select("batch", "id", "v")
      .write.parquet(s"$shadow/batch=3")
    assertParity(shadow.toString)
    assert(Parquet.schema(spark, shadow.toString).fieldNames.toSeq == Seq("batch", "id", "v"))
  }

  test("no data file, a missing path or a corrupt footer raises Spark's own error") {
    val empty = tmpDir("empty").toString
    // messages name stages and tasks, so compare the class and condition
    def failure(f: => Any): (Class[_], String) = intercept[Exception](f) match {
      case e: SparkThrowable => (e.getClass, e.getCondition)
      case e => (e.getClass, null)
    }
    assert(failure(Parquet.read(spark, empty))._2 == "UNABLE_TO_INFER_SCHEMA")
    assert(failure(Parquet.read(spark, empty)) == failure(spark.read.parquet(empty)))
    val missing = s"$empty/nope"
    assert(failure(Parquet.schema(spark, missing)) == failure(spark.read.parquet(missing)))
    assert(failure(Parquet.read(spark, empty, s"$empty/b*")) ==
      failure(spark.read.parquet(empty, s"$empty/b*")))
    val corrupt = tmpDir("corrupt")
    Files.write(corrupt.resolve("part-00000.parquet"), "not parquet".getBytes)
    assert(failure(Parquet.read(spark, corrupt.toString)) ==
      failure(spark.read.parquet(corrupt.toString)))
  }
}

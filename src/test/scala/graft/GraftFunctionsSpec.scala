package graft

import org.apache.spark.sql.{Column, GraftFunctions, SparkSession}
import org.apache.spark.sql.functions.{array, col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The per-session SQL registration binds the same functions as
  * [[GraftExtensions]]. */
class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  test("GraftFunctions.register: dot_product and cosine_similarity callable from SQL") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dot,
        |       dot_product(array(CAST(1.5 AS FLOAT)), array(CAST(2 AS FLOAT))) AS dot_f,
        |       cosine_similarity(array(1.0D, 0.0D), array(2.0D, 0.0D)) AS cos""".stripMargin)
      .head()
    assert(row.getDouble(0) == 32.0)
    assert(row.getDouble(1) == 3.0)
    assert(row.getDouble(2) == 1.0)
  }

  /** `e` and its causes. */
  private def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def assertRaises(fn: String)(run: => Any): Unit = {
    val e = intercept[Exception](run)
    assert(chain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage == s"$fn: array arguments differ in length (3 vs 2)"), e)
  }

  test("dot_product and cosine_similarity raise on a length mismatch: " +
    "literal arrays (constant-folded, interpreted eval)") {
    GraftFunctions.register(spark)
    for (fn <- Seq("dot_product", "cosine_similarity"))
      assertRaises(fn) {
        spark.sql(s"SELECT $fn(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D))")
          .collect()
      }
  }

  test("dot_product and cosine_similarity raise on a length mismatch: " +
    "column inputs (generated code)") {
    val conf = spark.conf
    val saved = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
      .map(k => k -> conf.getOption(k))
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.range(4).select(
        array(col("id").cast("float"), lit(1f), lit(2f)).as("a3"),
        array(lit(1f), lit(2f), lit(3f)).as("b3"),
        array(lit(1f), lit(2f)).as("b2"))
      val fns = Seq[(String, (Column, Column) => Column)](
        "dot_product" -> GraftFunctions.dot_product,
        "cosine_similarity" -> GraftFunctions.cosine_similarity)
      for ((name, fn) <- fns) {
        assertRaises(name)(df.select(fn(col("a3"), col("b2"))).collect())
        assert(df.select(fn(col("a3"), col("b3"))).collect().length == 4)
      }
      assert(df.select(GraftFunctions.dot_product(col("a3"), col("b3")))
        .collect().map(_.getDouble(0)).toSeq == Seq(8.0, 9.0, 10.0, 11.0))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

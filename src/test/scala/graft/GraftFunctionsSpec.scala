package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The per-session SQL registration binds the same functions as
  * [[GraftExtensions]]. */
class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  test("GraftFunctions.register: dot_product and cosine_similarity callable from SQL") {
    org.apache.spark.sql.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dot,
        |       dot_product(array(CAST(1.5 AS FLOAT)), array(CAST(2 AS FLOAT))) AS dot_f,
        |       cosine_similarity(array(1.0D, 0.0D), array(2.0D, 0.0D)) AS cos""".stripMargin)
      .head()
    assert(row.getDouble(0) == 32.0)
    assert(row.getDouble(1) == 3.0)
    assert(row.getDouble(2) == 1.0)
  }
}

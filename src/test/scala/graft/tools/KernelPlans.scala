package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan-evidence dump for the r20 kernel rewrites (dd11/em01):
  * `semanticDedup` runs its assignment and pair join while the query is
  * built (PairJoin's probe and connectedComponents' collect), and the
  * returned plan reads pins, so query-level explain never shows them —
  * this prints (1) the nearest-centroid assignment plan (tight-loop UDF +
  * k-row broadcast label join: NO crossJoin, NO n×k intermediate, no
  * aggregate exchange) and (2) the within-cluster pair-cosine plan of
  * [[graft.operators.PairJoin.selfJoin]] (`dot_product` inside a
  * WholeStageCodegen span — the zip_with/aggregate form it replaced was
  * interpreted per element). Test-scoped harness tooling, like
  * [[ScaleUp]]. */
object KernelPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val vecs = (1L to 64L).map(i =>
      (i, Seq(i.toFloat / 64f, 1f - i.toFloat / 64f)))
      .toDF("vec_id", "embedding")
    val cent = Seq((0, 0, 0L, 2L), (0, 1, 0L, 2L),
      (1, 0, 2000L, 2L), (1, 1, 2000L, 2L)).toDF("label", "pos", "s", "n")

    println("\n########## assignNearestCentroid (r20 tight-loop argmin) ##########")
    graft.operators.Similarity.assignNearestCentroid(
      vecs, "vec_id", "embedding", cent).explain("formatted")

    println("\n########## pair cosine via dot_product (codegen) ##########")
    graft.operators.PairJoin.selfJoin(
        vecs.select(col("vec_id").as("_id_"), lit(0).as("cluster"),
          col("embedding").as("_u_")),
        Seq("cluster"), "KernelPlans", 0L, "", payload = Seq("_u_"),
        verify = Seq(org.apache.spark.sql.GraftFunctions.dot_product(
          col("_u__a"), col("_u__b")).as("cosine")),
        keep = col("cosine") >= 0.45)
      .explain("formatted")

    spark.stop()
  }
}

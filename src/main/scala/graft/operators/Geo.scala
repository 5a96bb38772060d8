package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextKernels

/** Geospatial operators (reference SURVEY.md §2.13) without a geometry
  * library dependency: polygons are carried as coordinate arrays (the WKB
  * `binary` + bbox pattern of the reference, GeoManager.scala:53-62, with
  * the ring inlined as `array<struct<x,y>>` so the point-in-polygon test is
  * a pure JVM kernel).
  *
  * The join strategy is spatial grid bucketing: both sides are keyed to a
  * uniform grid so the spatial match becomes an EQUI-join on cell keys
  * (hash-partitionable, AQE-skew-handled), with bbox + exact ray-casting
  * as cheap post-filters. A bare bbox theta-join would force a
  * BroadcastNestedLoopJoin — a cartesian at real polygon counts.
  */
object Geo {

  /** Ray-casting point-in-polygon (public algorithm). Ring = closed or
    * open sequence of (x, y). */
  def pointInRing(x: Double, y: Double, xs: Array[Double], ys: Array[Double]): Boolean = {
    var inside = false
    var i = 0
    var j = xs.length - 1
    while (i < xs.length) {
      if ((ys(i) > y) != (ys(j) > y) &&
        x < (xs(j) - xs(i)) * (y - ys(i)) / (ys(j) - ys(i)) + xs(i)) {
        inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  // NULL ring = no geometry = no match (SQL semantics, not an executor
  // NPE); an ODD-length flat ring is corrupt geometry — truncating the
  // dangling value would silently test against a DIFFERENT polygon, so
  // it raises by name instead (round 17)
  private val pipUdf = udf((x: Double, y: Double, ring: Seq[Double]) => {
    if (ring == null) false
    else {
      require(ring.length % 2 == 0,
        s"Geo.pointInPolygonJoin: flat ring array has odd length " +
          s"${ring.length} — corrupt [x0,y0,x1,y1,...] geometry")
      val n = ring.length / 2
      val xs = new Array[Double](n)
      val ys = new Array[Double](n)
      var i = 0
      while (i < n) { xs(i) = ring(2 * i); ys(i) = ring(2 * i + 1); i += 1 }
      pointInRing(x, y, xs, ys)
    }
  })

  /** Grid-bucketed point-in-polygon join.
    *
    * A raw bbox range predicate is a theta-join — Spark can only plan it as
    * BroadcastNestedLoop/cartesian (every point x every polygon), which dies
    * at real polygon counts. Instead both sides are keyed to a uniform grid:
    * each point gets its single covering cell, each polygon explodes to the
    * cells its bbox overlaps, and the join is an EQUI-join on (cellX, cellY)
    * that hash-partitions and scales. The bbox test then prunes within-cell
    * false positives and exact ray-casting decides. Each (point, polygon)
    * pair can meet in at most one cell (the point lives in exactly one), so
    * no dedup is needed.
    *
    * @param points   (pointCols..., xCol, yCol)
    * @param polygons must carry bbox columns `minX/maxX/minY/maxY` and a
    *                 flat `ring` array<double> [x0,y0,x1,y1,...]
    * @param cellSize grid pitch; <= 0 derives it from the polygons' MAX
    *                 bbox extent (one tiny agg over the polygon side — the
    *                 small side — so even the worst polygon's fan-out stays
    *                 <= 4 cells)
    */
  def pointInPolygonJoin(points: DataFrame, xCol: String, yCol: String,
                         polygons: DataFrame, cellSize: Double = 0.0): DataFrame = {
    val cs =
      if (cellSize > 0) cellSize
      else {
        // pitch = the MAX bbox extent, not the mean (round 17): with
        // skewed extents (10^4 city blocks + one country polygon) a
        // mean-derived pitch explodes the largest polygon into
        // (max/mean)^2 cells — the auto lane must bound the WORST
        // polygon's fan-out (<= 4 cells at max pitch), so it passes the
        // fan-out probe below by construction. Coarser cells only ever
        // add bbox-pruned false candidates, never wrong rows.
        val r = polygons
          .agg(max(col("maxX") - col("minX")).as("w"), max(col("maxY") - col("minY")).as("h"))
          .collect().headOption
        val w = r.flatMap(x => Option(x.get(0)).map(_.asInstanceOf[Double])).getOrElse(1.0)
        val h = r.flatMap(x => Option(x.get(1)).map(_.asInstanceOf[Double])).getOrElse(1.0)
        math.max(math.max(w, h), 1e-9)
      }
    // degenerate-fan-out probe (the PairJoin bucket guard's spirit):
    // an explicit cellSize far below a polygon's extent explodes that one
    // polygon into (extent/cs)^2 cells — a continental polygon at a 10 m
    // pitch is 10^12 rows out of ONE input row, an effective hang. One
    // cheap aggregate over the polygon side (the small side by contract)
    // raises by name first. The auto-derived pitch keeps fan-out ~O(1)
    // and skips nothing — it passes the probe by construction.
    // Per-axis counts are clamped BEFORE multiplying: an extreme
    // extent/pitch ratio (1e7 extent at 1e-3 pitch = 1e10 cells per axis)
    // would overflow the Long product and could wrap negative, slipping a
    // degenerate input past this guard only to die later in
    // sequence()/explode with a generic array-size error. Clamped at
    // bound+1 per axis the product tops out near 1e12 — comfortably inside
    // Long — and any clamped axis already exceeds the bound on its own.
    val cellBound = 1000000L
    def axisCells(lo: String, hi: String) =
      least(floor(col(hi) / cs) - floor(col(lo) / cs) + 1, lit(cellBound + 1))
    // inverted bboxes (max < min) are corrupt geometry and must raise BY
    // NAME here (round-18 self-review): a negative axis count slips the
    // upper clamp, two large negatives can overflow the product past the
    // guard, and Spark's sequence() STEPS DOWNWARD for max < min, so the
    // explode below would still fan out |span| cells the probe never saw
    val inverted = polygons
      .agg(max(when(col("maxX") < col("minX") ||
        col("maxY") < col("minY"), 1).otherwise(0)))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Int]))
      .getOrElse(0)
    require(inverted == 0,
      "Geo.pointInPolygonJoin: polygon with an inverted bbox " +
        "(maxX < minX or maxY < minY) — corrupt geometry; fix the bbox " +
        "columns (withBbox recomputes them from the ring)")
    val maxCells = polygons
      .agg(max(axisCells("minX", "maxX") * axisCells("minY", "maxY")))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    require(maxCells <= cellBound,
      s"Geo.pointInPolygonJoin: one polygon's bbox covers $maxCells grid " +
        s"cells (counts clamped at ${cellBound + 1} per axis) at " +
        s"cellSize=$cs — the cell explode would emit that many rows per " +
        "such polygon; raise cellSize (or pass <= 0 to derive it from the " +
        "max bbox extent)")
    val pts = points
      .withColumn("_cx_", floor(col(xCol) / cs))
      .withColumn("_cy_", floor(col(yCol) / cs))
    val polys = polygons
      .withColumn("_cx_", explode(sequence(floor(col("minX") / cs), floor(col("maxX") / cs))))
      .withColumn("_cy_", explode(sequence(floor(col("minY") / cs), floor(col("maxY") / cs))))
    val bbox = col(xCol) >= col("minX") && col(xCol) <= col("maxX") &&
      col(yCol) >= col("minY") && col(yCol) <= col("maxY")
    pts.join(polys, Seq("_cx_", "_cy_"))               // phase 1: cell equi-join
      .where(bbox)                                     // phase 2: cheap range
      .where(pipUdf(col(xCol), col(yCol), col("ring"))) // phase 3: exact
      .drop("_cx_", "_cy_")
  }

  /** Attach bbox columns from a flat ring array (ingest-time helper —
    * mirrors the reference storing MaxLat/MinLat/... beside the geometry). */
  def withBbox(polygons: DataFrame, ringCol: String = "ring"): DataFrame = polygons
    .withColumn("minX", expr(s"array_min(filter(transform($ringCol, (v, i) -> IF(i % 2 = 0, v, null)), v -> v IS NOT NULL))"))
    .withColumn("maxX", expr(s"array_max(filter(transform($ringCol, (v, i) -> IF(i % 2 = 0, v, null)), v -> v IS NOT NULL))"))
    .withColumn("minY", expr(s"array_min(filter(transform($ringCol, (v, i) -> IF(i % 2 = 1, v, null)), v -> v IS NOT NULL))"))
    .withColumn("maxY", expr(s"array_max(filter(transform($ringCol, (v, i) -> IF(i % 2 = 1, v, null)), v -> v IS NOT NULL))"))

  /** Address parsing (reference geo/ParsedAddress.scala:42-67
    * splitAdressNumber + adressPostCode): extract the house number (first
    * standalone 1-3 digit run — postcodes are longer), the postcode (LAST
    * standalone 4-9 digit run), and the residual street text. Pure SQL
    * expressions → codegen'd, pushdown-friendly, and mirrorable by any
    * ANSI engine (the oracle runs the same regexes). */
  def parseAddress(df: DataFrame, addrCol: String): DataFrame = {
    val s = lower(col(addrCol))
    df
      .withColumn("addr_number",
        regexp_extract(s, "\\b([0-9]{1,3})\\b", 1))
      .withColumn("addr_postcode",
        element_at(regexp_extract_all(s, lit("\\b([0-9]{4,9})\\b"), lit(1)), -1)
          .cast("int"))
      .withColumn("addr_street",
        trim(regexp_replace(regexp_replace(s, "[0-9]+", " "), "\\s+", " ")))
  }

  /** Address-to-street fuzzy localization (reference AddressLocalizator
    * capability): postcode equi-join prunes, then the best street per
    * address by positional token similarity. */
  private val simUdf = udf((a: String, b: String) =>
    TextKernels.tokenSetSimilarity(a, b))

  /** Full localization pipeline (reference geo/AddressLocalizator.scala:
    * 32-33): parse number + postcode out of the free-text address, prune
    * streets by the PARSED postcode, then similarity top-1. */
  def localizeParsedAddresses(addresses: DataFrame, addrCol: String,
                              streets: DataFrame, streetCol: String,
                              streetPostcodeCol: String,
                              minSimilarity: Double = 0.3): DataFrame = {
    val parsed = parseAddress(addresses, addrCol)
    localizeAddresses(parsed, addrCol, "addr_postcode",
      streets, streetCol, streetPostcodeCol, minSimilarity)
  }

  def localizeAddresses(addresses: DataFrame, addrCol: String, postcodeCol: String,
                        streets: DataFrame, streetCol: String,
                        streetPostcodeCol: String, minSimilarity: Double = 0.3): DataFrame = {
    val cand = addresses.join(streets,
      addresses(postcodeCol) === streets(streetPostcodeCol))
      .withColumn("_sim_", simUdf(col(addrCol), col(streetCol)))
      .where(col("_sim_") >= minSimilarity)
    val w = Window.partitionBy(addrCol, postcodeCol)
      .orderBy(col("_sim_").desc, col(streetCol))
    cand.withColumn("_rk_", row_number().over(w))
      .where(col("_rk_") === 1)
      .drop("_rk_")
      .withColumnRenamed("_sim_", "similarity")
  }

  /** GeoNames-style hierarchy flattener (reference twitter/GeoNames.scala:
    * 9-128): cascade of self-equi-joins denormalizing a parent-child
    * hierarchy into one row per leaf with all ancestor names. Generic:
    * `levels` = (levelName, parentKeyCol) from root to leaf. */
  def flattenHierarchy(nodes: DataFrame, idCol: String, parentCol: String,
                       nameCol: String, maxDepth: Int = 5): DataFrame = {
    // iterative join: path accumulates ancestor names root-first. One single
    // lazy plan — NO per-level driver action: probing "are we done?" with
    // isEmpty would recompute the whole accumulated lineage each level
    // (quadratic in depth). Once a row's parent chain is exhausted its
    // _pid_ is null, the left join misses, and further levels are row-level
    // no-ops — so looping to maxDepth unconditionally is both correct and
    // the scalable shape (depth is small and known for geo hierarchies).
    var acc = nodes.select(col(idCol).as("_nid_"), col(parentCol).as("_pid_"),
      array(col(nameCol)).as("path"))
    var i = 0
    while (i < maxDepth) {
      val parents = nodes.select(col(idCol).as("_jid_"),
        col(parentCol).as("_jpid_"), col(nameCol).as("_pname_"))
      acc = acc.join(parents, acc("_pid_") === parents("_jid_"), "left")
        .select(col("_nid_"),
          col("_jpid_").as("_pid_"),
          when(col("_pname_").isNotNull,
            concat(array(col("_pname_")), col("path"))).otherwise(col("path"))
            .as("path"))
      i += 1
    }
    acc.select(col("_nid_").as(idCol), col("path"),
      array_join(col("path"), " > ").as("full_name"))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}
import graft.Tables
import graft.operators.{Similarity, Skew}
import graft.sources.{Crawler, Parquet, Scratch, Shapefile}

/** Round-3 source/scale queries: shapefile ingest round-trip, crawler BFS,
  * salted skew join, bucketed co-located join, IVF ANN. Each oracle computes
  * the same result straight from the parquet tables, so the Spark side's
  * extra machinery (file formats, salting, bucketing) is proven
  * result-transparent. */
object SourceQueries {

  // Scoped by applicationId so two concurrent harness runs on the same
  // dataset can't race on SaveMode.Overwrite of a shared location or on
  // shared catalog table names; Scratch's shutdown hook deletes the
  // app-scoped roots and drops registered tables so runs don't accumulate.
  private def tmpDir(s: SparkSession, kind: String, d: String): String =
    Scratch.dir(s, kind, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Shapefile ingest round-trip: nation rows become polygons + dbf
    // attributes, written as a real .shp/.dbf pair, read back through the
    // distributed binaryFile-based reader. The oracle derives the same
    // rectangles directly from the parquet table — doubles round-trip
    // bit-exactly through the format, so this hash-gates the whole parser.
    "geo04_shapefile_roundtrip" -> ((s, d) => {
      val dir = tmpDir(s, "shp", d)
      new java.io.File(dir).mkdirs()
      val rows = Tables.nation(s, d)
        .select("n_nationkey", "n_name").orderBy("n_nationkey")
        .collect() // 25 rows: driver-side write is the format's own floor
      val shapes = rows.map { r =>
        val k = r.getInt(0).toDouble
        val (x0, y0) = ((k % 5) * 10.0, math.floor(k / 5) * 10.0)
        val (w, h) = ((k % 3) + 1.0, (k % 4) + 1.0)
        // closed rectangle ring, counter-clockwise
        Array(Array(x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h, x0, y0))
      }.toSeq
      Shapefile.writeShp(s"$dir/nations.shp", shapes)
      Shapefile.writeDbf(s"$dir/nations.dbf",
        Seq(Shapefile.DbfField("NKEY", 'N', 10, 0),
          Shapefile.DbfField("NAME", 'C', 30, 0)),
        rows.map(r => Seq(r.getInt(0).toString, r.getString(1))).toSeq)
      Shapefile.read(s, dir)
        .select(col("attrs")("NKEY").cast(IntegerType).as("n_nationkey"),
          col("attrs")("NAME").as("n_name"),
          col("minX"), col("minY"), col("maxX"), col("maxY"),
          col("n_points").cast(IntegerType).as("n_points"))
        .orderBy("n_nationkey")
    }),

    // ORC round-trip: documents written as ORC (Spark's second bundled
    // columnar format — schema, string/long types, and compression all
    // exercised), read back and projected. DuckDB can't read ORC, so the
    // oracle is SOURCE EQUIVALENCE: the same projection straight off the
    // parquet table — any loss or reorder in the ORC path breaks the hash
    "sr01_orc_roundtrip" -> ((s, d) => {
      val dir = tmpDir(s, "orc", d)
      Tables.documents(s, d).write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Schema evolution: batch 1 writes the original column spelling,
    // batch 2 the renamed spelling plus an ADDED column; the merged read
    // coalesces both spellings into one logical column and backfills the
    // added column with NULL for old rows (SchemaEvolution.readMerged)
    "sr02_schema_evolution" -> ((s, d) => {
      val dir = tmpDir(s, "schevo", d)
      val o = Tables.orders(s, d)
      o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").as("amount_v1"))
        .write.mode("overwrite").parquet(s"$dir/batch=1")
      o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").as("amount"),
          col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$dir/batch=2")
      graft.sources.SchemaEvolution
        .readMerged(s, dir, Map("amount_v1" -> "amount"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(amount) as double)").as("total_amount"),
          sum(when(col("o_orderstatus").isNotNull, 1L).otherwise(0L))
            .as("n_with_status"))
        .orderBy("batch")
    }),

    // Crawler: BFS over a synthetic link graph (2 out-edges per node,
    // derived from nation keys), seed "0", depth <= 4. The frontier
    // anti-join guarantees min-depth-first visits — mirrored by the
    // oracle's recursive CTE + min(depth).
    "cr01_crawl_bfs" -> ((s, d) => {
      val keys = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("k"))
      val edges = keys.select(col("k").cast("string").as("src"),
          ((col("k") * 2 + 1) % 25).cast("string").as("dst"))
        .union(keys.select(col("k").cast("string"),
          ((col("k") * 3 + 2) % 25).cast("string")))
      val seeds = s.createDataFrame(Seq(Tuple1("0"))).toDF("url")
      Crawler.crawl(seeds, Crawler.EdgeFetcher(edges), maxDepth = 4)
        .select(col("url"), col("depth").cast(IntegerType).as("depth"))
        .orderBy("url")
    }),

    // Robots.txt admission (RFC 9309 semantics): longest matching prefix
    // per host wins, Allow beats Disallow on a length tie, no-match =
    // allowed. URLs derived from documents (host = source, path =
    // /lang/docN); the rule table is the parsed form a robots fetch
    // yields, broadcast against the URL stream.
    "cr02_robots_filter" -> ((s, d) => {
      val urls = Tables.documents(s, d).select(
        col("doc_id"), col("source").as("host"),
        concat(lit("/"), col("lang"), lit("/doc"), col("doc_id")).as("path"))
      val rules = s.createDataFrame(Seq(
        ("src0", false, "/de"),
        ("src0", true, "/de/doc1"),
        ("src1", false, "/"),
        ("src1", true, "/en"),
        ("src2", false, "/zh"),
        ("src3", false, "/fr"),
        ("src3", false, "/fr/doc2"),
        ("src4", true, "/"))).toDF("host", "allow", "prefix")
      Crawler.robotsFilter(urls, "doc_id", "host", "path", rules)
        .select(col("doc_id"), col("host"), col("path"), col("allowed"),
          col("matched_prefix"))
        .orderBy("doc_id")
    }),

    // Salted join: lineitem x orders scattered over 8 salt buckets; output
    // must be byte-identical to the plain join (salting is pure
    // partitioning). Demonstrates the skew path the AQE thresholds may miss.
    "sk01_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("price_dec"))
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      Skew.saltedJoin(li, o, Seq("l_orderkey"), saltBuckets = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("price_dec")).cast("double").as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // Bloom-pruned join: a selective order slice's keys become a broadcast
    // Bloom filter applied to lineitem BEFORE the shuffle — identical
    // output to the plain join (oracle proves it), ~99% of non-matching
    // fact rows never shuffled. The explicit runtime-filter shape.
    "bj01_bloom_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 250000.0)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("price_dec"))
      Skew.bloomPrunedJoin(li, urgent, "l_orderkey", "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("price_dec")).cast("double").as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // Partition-pruned scan: orders written Hive-partitioned by month
    // (build-once via sharedDir), then a one-month read — the directory
    // layout turns the filter into a scan of 1/84th of the files
    // (PartitionPruningSpec asserts the pruned plan; the oracle proves
    // the month filter's semantics over the logical table).
    "pt01_partition_pruning" -> ((s, d) => {
      val dir = Scratch.sharedDir("part_table",
        s"pt01_orders_v1_${d}_${Scratch.fingerprint(s"$d/orders.parquet")}") { tmp =>
        Tables.orders(s, d)
          .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
          .write.mode(SaveMode.Overwrite).partitionBy("order_month")
          .parquet(tmp)
      }
      Parquet.read(s, dir)
        .where(col("order_month") === "1995-03")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Bucketed co-located join: both sides written bucketed by the join key
    // (8 buckets) so the sort-merge join runs with ZERO exchanges — the
    // pre-shuffled layout a 100 TB fact table would be stored in.
    // BucketedJoinSpec asserts the no-Exchange plan; the oracle proves the
    // result equals the plain join.
    "bk01_bucketed_join" -> ((s, d) => {
      // The production shape: a fact table is written bucketed ONCE, then
      // every job MOUNTS the layout. Build-once via sharedDir (bucketed
      // data is a pure function of the sf dir); each session then mounts
      // the files as external bucketed tables — bucket ids live in the
      // file names, so a catalog entry with the same CLUSTERED BY spec
      // re-attaches them without any rewrite.
      val dataRoot = Scratch.sharedDir("bucketed", s"bk_v1_${d}_${Scratch.fingerprint(s"$d/orders.parquet", s"$d/lineitem.parquet")}") { tmp =>
        val bt = s"bk_build_${s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")}"
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
          .write.mode(SaveMode.Overwrite)
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$tmp/orders")
          .saveAsTable(s"${bt}_o")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            col("l_extendedprice").cast(DecimalType(18, 2)).as("price_dec"))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$tmp/lineitem")
          .saveAsTable(s"${bt}_li")
        // external tables: DROP removes the build-time catalog entries,
        // the data files stay for the rename that publishes them
        s.sql(s"DROP TABLE ${bt}_o")
        s.sql(s"DROP TABLE ${bt}_li")
      }
      val tag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + d.replaceAll("[^A-Za-z0-9]", "_")
      val (oTbl, liTbl) = (s"bk_orders_$tag", s"bk_lineitem_$tag")
      def mount(tbl: String, sub: String, key: String): Unit =
        if (!s.catalog.tableExists(tbl)) {
          val ddl = Parquet.schema(s, s"$dataRoot/$sub").toDDL
          s.sql(s"CREATE TABLE $tbl ($ddl) USING parquet " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS " +
            s"LOCATION '$dataRoot/$sub'")
          Scratch.registerTable(s, tbl)
        }
      mount(oTbl, "orders", "o_orderkey")
      mount(liTbl, "lineitem", "l_orderkey")
      val o = s.table(oTbl).hint("merge") // SMJ reads buckets, no Exchange
      val li = s.table(liTbl).hint("merge")
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("price_dec")).cast("double").as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // Archive decompress-on-ingest (reference net2demy/Execute.scala:
    // 63-380): stage a zip landing zone from documents, stream-extract
    // every entry into loose storage files (the crawler's deflate step),
    // then scan the EXTRACTED files back — the gate proves bytes landed,
    // not just the manifest. ASCII text, so bytes == chars and the oracle
    // replays length() directly (the ws01 convention; multibyte,
    // flattening, and the 7z/gz/bz2/xz/tar.gz codec lanes are
    // spec-asserted in ArchiveIngestSpec)
    "cr03_zip_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val src = graft.sources.Scratch.dir(s, "zip", s"cr03_src_$d")
      val dest = graft.sources.Scratch.dir(s, "zip", s"cr03_dest_$d")
      graft.sources.ArchiveIngest.writeZip(
        docs.repartition(4, col("doc_id")), "doc_id", "text", src)
      graft.sources.ArchiveIngest.extract(s, src, dest) // eager: files land here
      s.read.format("binaryFile").load(s"$dest/*.txt")
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.txt$", 1).cast("long")
            .as("doc_id"),
          col("length").cast(IntegerType).as("n_bytes"))
        .orderBy("doc_id")
    }),

    // WebDataset-style tar shards: write documents as one ustar shard per
    // partition, stream the shards back, and prove every sample survived
    // with its exact byte length (text is ASCII, so bytes == chars and the
    // oracle replays length() directly; exact content equality is
    // spec-asserted including multibyte + binary entries)
    "ws01_tar_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val dir = graft.sources.Scratch.dir(s, "tar", s"ws01_$d")
      graft.sources.TarShards.write(
        docs.repartition(4, col("doc_id")), "doc_id", "text", dir)
      graft.sources.TarShards.read(s, dir)
        .select(regexp_replace(col("name"), "\\.txt$", "").cast("long").as("doc_id"),
          length(col("bytes")).cast(IntegerType).as("n_bytes"))
        .orderBy("doc_id")
    }),

    // IVF ANN top-3, oracle-gated via portable Rademacher pseudo-centroids:
    // DuckDB replays assign + probe + rerank end-to-end (the trained
    // Lloyd's path stays spec-gated by the recall floor in SourceOpsSpec)
    "ann04_knn_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
        k = 3, nCells = 16, nProbe = 4, seed = 101L,
        portableCentroids = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast(IntegerType).as("rank"))
        .orderBy("query_id", "rank")
    })
  )

  private val joinAggSql =
    """SELECT o_orderstatus, count(*) AS n_items,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "sr01_orc_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // sr02 replay: the merged-rename read must equal the logical table —
    // even keys are batch 1 (old spelling, no status), odd keys batch 2
    "sr02_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS batch,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_amount,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_with_status
        |FROM orders GROUP BY 1 ORDER BY batch""".stripMargin,
    "ws01_tar_shards" ->
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_bytes
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    // cr03 lands the same rows through the zip ingest path: if any entry
    // is lost or truncated during extract, doc_id/byte-length rows diverge
    "cr03_zip_ingest" ->
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_bytes
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    // Full portable-IVF replay (same splitmix64 recipe as the ann02
    // oracle): one mixed long per cell (mix64(101 + c*1000003)), centroid
    // component d = ±1 from bit (d mod 64), score accumulated ascending-d
    // in DOUBLE (bit-identical to the JVM kernel's float-widening loop).
    // Assign = argmax score (ties -> lower c), probe = top-4 cells, then
    // cell equi-join + exact cosine rerank, top-3 with neighbor tie-break.
    // Each corpus row is in exactly one cell, so no candidate dedup.
    "ann04_knn_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings),
        |ch AS (
        |  SELECT c, p3 AS h FROM (
        |    SELECT c,
        |      (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |    FROM (SELECT c, CAST(101 + c * 1000003 AS UHUGEINT) AS p0
        |          FROM range(0, 16) cc(c))) q1,
        |  LATERAL (SELECT (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |                  % CAST(18446744073709551616 AS UHUGEINT) AS p2) q2,
        |  LATERAL (SELECT xor(p2, p2 >> 31) AS p3) q3),
        |scores AS (
        |  SELECT v.vec_id, p.c,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CASE WHEN ((p.h >> CAST((d - 1) % 64 AS UHUGEINT)) & 1) = 1
        |            THEN CAST(v.embedding[d] AS DOUBLE)
        |            ELSE -CAST(v.embedding[d] AS DOUBLE) END
        |       FOR d IN range(1, len(v.embedding) + 1)]),
        |      (a, x) -> a + x) AS s
        |  FROM e v, ch p),
        |assign AS (
        |  SELECT vec_id, c AS cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
        |    FROM scores) t WHERE rn = 1),
        |probe AS (
        |  SELECT vec_id, c AS cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
        |    FROM scores WHERE vec_id < 50) t WHERE rn <= 4),
        |cand AS (
        |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id
        |  FROM probe q JOIN assign a ON q.cell = a.cell
        |  WHERE q.vec_id <> a.vec_id),
        |ed AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM e)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY cd.query_id
        |      ORDER BY list_cosine_similarity(qe.v, ce.v) DESC, cd.neighbor_id)
        |    AS INTEGER) AS rank
        |  FROM cand cd
        |  JOIN ed qe ON qe.vec_id = cd.query_id
        |  JOIN ed ce ON ce.vec_id = cd.neighbor_id) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "geo04_shapefile_roundtrip" ->
      """SELECT n_nationkey, n_name,
        | CAST((n_nationkey % 5) * 10 AS DOUBLE) AS minX,
        | CAST((n_nationkey // 5) * 10 AS DOUBLE) AS minY,
        | CAST((n_nationkey % 5) * 10 + (n_nationkey % 3) + 1 AS DOUBLE) AS maxX,
        | CAST((n_nationkey // 5) * 10 + (n_nationkey % 4) + 1 AS DOUBLE) AS maxY,
        | 5 AS n_points
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "cr01_crawl_bfs" ->
      """WITH RECURSIVE edges AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS src,
        |         CAST((n_nationkey * 2 + 1) % 25 AS VARCHAR) AS dst FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS VARCHAR),
        |         CAST((n_nationkey * 3 + 2) % 25 AS VARCHAR) FROM nation),
        |bfs AS (
        |  SELECT '0' AS url, 0 AS depth
        |  UNION ALL
        |  SELECT e.dst, b.depth + 1
        |  FROM bfs b JOIN edges e ON e.src = b.url
        |  WHERE b.depth < 4)
        |SELECT url, CAST(min(depth) AS INTEGER) AS depth
        |FROM bfs GROUP BY url ORDER BY url""".stripMargin,

    "cr02_robots_filter" ->
      """WITH urls AS (
        |  SELECT doc_id, source AS host,
        |         '/' || lang || '/doc' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |rules(host, allow, prefix) AS (VALUES
        |  ('src0', false, '/de'), ('src0', true, '/de/doc1'),
        |  ('src1', false, '/'), ('src1', true, '/en'),
        |  ('src2', false, '/zh'), ('src3', false, '/fr'),
        |  ('src3', false, '/fr/doc2'), ('src4', true, '/')),
        |m AS (
        |  SELECT u.doc_id, r.allow, r.prefix,
        |    row_number() OVER (PARTITION BY u.doc_id
        |      ORDER BY len(r.prefix) DESC, r.allow DESC, r.prefix) AS rk
        |  FROM urls u
        |  JOIN rules r ON r.host = u.host AND starts_with(u.path, r.prefix))
        |SELECT u.doc_id, u.host, u.path,
        |  coalesce(m.allow, true) AS allowed,
        |  coalesce(m.prefix, '') AS matched_prefix
        |FROM urls u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        |ORDER BY u.doc_id""".stripMargin,

    "sk01_salted_join" -> joinAggSql,
    "bk01_bucketed_join" -> joinAggSql,

    // bj01 replay: the plain join over the same selective slice — the
    // Bloom prefilter must be invisible in the result
    "bj01_bloom_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // pt01 replay: the month filter over the logical table
    "pt01_partition_pruning" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS revenue
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}

package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Building a relational q-tier query is planning only: table reads take
  * their schema from a footer on the driver ([[graft.sources.Parquet]]),
  * and the sharded scan's shard bounds are part of the plan, so no Spark
  * job starts before the action. */
class QueryBuildJobsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  private val sf = "/root/testdata/sf0.001"

  /** (job group, stage names) of every job started while `run` runs. */
  private def jobsDuring(run: => Unit): Seq[(String, Seq[String])] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[(String, Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += ((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
          e.stageInfos.map(_.name)))
      }
    }
    sc.addSparkListener(listener)
    try run
    finally {
      sc.clearJobGroup()
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.toSeq
  }

  test("q-tier: no job while building, no parquet schema job") {
    val sc = spark.sparkContext
    val qTier = SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
    assert(qTier.size == 28)
    val jobs = jobsDuring(qTier.foreach { name =>
      sc.setJobGroup(s"$name/build", "build")
      val df = SparkEntry.queries(name)(spark, sf)
      sc.setJobGroup(s"$name/action", "action")
      df.count()
      sc.clearJobGroup()
    })
    val builds = jobs.collect { case (g, _) if g != null && g.endsWith("/build") =>
      g.stripSuffix("/build") }
    assert(builds.isEmpty, s"jobs while building: $builds")
    val parquetJobs = jobs.filter(_._2.exists(_.startsWith("parquet at")))
    assert(parquetJobs.isEmpty, s"parquet schema jobs: $parquetJobs")
  }

  /** Jobs started while building each query, one job group per query. */
  private def buildJobs(names: Seq[String]): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    names.sorted.map { name =>
      name -> jobsDuring {
        sc.setJobGroup(name, "build")
        SparkEntry.queries(name)(spark, sf)
      }.count(_._1 == name)
    }
  }

  test("pair-join queries: build jobs within each query's ceiling") {
    // the counts measured when the ceilings were set; a ceiling may only
    // go down
    val ceilings = Map("dd11_semantic_dedup" -> 10, "dd12_incremental_neardup" -> 2,
      "ann02_knn_lsh" -> 4)
    val built = buildJobs(ceilings.keys.toSeq)
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }

  test("guarded queries: build jobs within each query's ceiling") {
    // each runs a guard probe while it is built: the join-volume probe
    // (Guards.fanOut), or ann03's corpus-size bound. The count before the
    // guards shared that probe is in each comment. A ceiling may only go
    // down
    val ceilings = Map(
      "fz01_fuzzy_part_lookup" -> 10, // 12
      "fz03_fuzzy_filtered_lookup" -> 10, // 12
      "dd05_ngram_jaccard_pairs" -> 6, // 6
      "dd15_ngram_dfcapped_pairs" -> 8, // 8
      "rc01_copurchase_topk" -> 5, // 5
      "ar01_association_rules" -> 11, // 11
      "ann03_embedding_neardup" -> 4) // 5
    val built = buildJobs(ceilings.keys.toSeq)
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }

  test("sharded-scan queries: build jobs within each query's ceiling") {
    // 0 unless the query runs other eager actions: cq01's LM scoring,
    // er01's clustering, lift01's tier rollup, pp05's shard write, and the
    // pins that dt01, km01, pp03 and rfm01 keep because they measured
    // faster (a lazy pin over an exchange runs it while building); a
    // ceiling may only go down
    val ceilings = Map(
      "rfm01_rfm_segments" -> 18, "lift01_cumulative_gains" -> 14,
      "dt01_best_split" -> 6, "tr03_rank_split" -> 0,
      "cq01_quality_buckets" -> 3, "ks01_ks_statistic" -> 0,
      "qn01_quantile_normalize" -> 0, "ab03_mann_whitney" -> 0,
      "km01_survival" -> 11, "sl01_skyline_orders" -> 0,
      "pk02_sequence_packing_sharded" -> 0, "pk03_packing_bfd" -> 0,
      "pp03_preprocess_pipeline" -> 9, "pp04_training_mix_sharded" -> 0,
      "pp05_curate_shard_pipeline" -> 6, "pp06_anneal_schedule" -> 0,
      "rl01_sorted_neighborhood" -> 0, "rl02_multipass_blocking" -> 0,
      "er01_entity_resolution" -> 8)
    val built = buildJobs(ceilings.keys.toSeq)
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }

  test("quantile queries: build jobs within each query's ceiling") {
    // every refinement pass runs while the query is built: a discovery
    // aggregate, then per pass the target table's broadcast and one
    // aggregate. The count before the three operators shared one core
    // (no broadcast in qd01's and qd03's passes) is in each comment. A
    // ceiling may only go down
    val ceilings = Map(
      "qd01_exact_quantiles" -> 9, // 7
      "qd02_group_quantiles_bisect" -> 9, // 9
      "qd03_weighted_quantiles" -> 6) // 5
    val built = buildJobs(ceilings.keys.toSeq)
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }

  test("tokenizer and sketch queries: build jobs within each query's ceiling") {
    // the tokenizer queries train while they are built (BPE: a pair-count
    // collect and a pin per merge round; unigram: the EM collects) and
    // collect their vocabulary or score table; the sketch queries build
    // none. The count before the word pass and the quantile walk each had
    // one core is in each comment. A ceiling may only go down
    val ceilings = Map(
      "bp01_bpe_merges" -> 26, // 26
      "bp02_bpe_segment" -> 26, // 26
      "bp03_tokenize_ids" -> 28, // 28
      "wp01_wordpiece_segment" -> 28, // 28
      "ug01_unigram_vocab" -> 12, // 12
      "ug02_unigram_segment" -> 6, // 6
      "qs01_quantile_sketch" -> 0, // 0
      "qs02_sketch_merge" -> 0, // 0
      "qs03_group_quantile_sketch" -> 0) // 0
    val built = buildJobs(ceilings.keys.toSeq)
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }

  test("array-lookup queries: build jobs within each query's ceiling") {
    // each pins its row ids while it is built (Elements.perRow); tr09 also
    // writes and reads back its embedding text, and fz04/fz05 run
    // FuzzyLookup.lookup's pins and candidate guard. The count before the
    // four operators shared one element pass is in each comment. A
    // ceiling may only go down
    val ceilings = Map(
      "tr02_word2vec_apply" -> 1, // 1
      "tr08_lemmatize" -> 1, // 1
      "tr09_text_embeddings" -> 3, // 3
      "fz04_fuzzy_multi_lookup" -> 12, // 13
      "fz05_fuzzy_array_lookup" -> 12) // 13
    val built = buildJobs(ceilings.keys.toSeq)
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }

  test("graph queries: build jobs within each query's ceiling") {
    // every round joins its pinned frames in place (the pins keep their
    // repartition(n, key) layout), so no round re-shuffles them; the count
    // before the pins kept a layout is in each comment. A ceiling may only
    // go down
    val ceilings = Map(
      "gr01_pagerank" -> 11, // 25
      "gr04_personalized_pagerank" -> 15, // 33
      "gr05_kcore" -> 13, // 17
      "gr06_bfs_distances" -> 12, // 19
      "gr07_bellman_ford" -> 12, // 19
      "hits01_hubs_authorities" -> 17, // 31
      "lp01_label_propagation" -> 9) // 15
    val built = buildJobs(ceilings.keys.toSeq)
    assert(built.forall { case (name, n) => n <= ceilings(name) }, built)
  }
}

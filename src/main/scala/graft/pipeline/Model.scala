package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Parquet

/** Pipeline DSL (reference: mllib/Model.scala:17-256, ModelStep.scala,
  * ModelPlan.scala — the query-lifecycle driver of the reference platform).
  *
  * A `Model` is a named, ordered list of steps folded over one flowing
  * DataFrame; steps may read a named side DataFrame instead, emit named
  * outputs consumed by later steps, and snapshot (memoize) their result to
  * parquet keyed by (project, model, step) — re-runs reuse the snapshot,
  * which both cuts lineage (the reference's checkpoint pattern,
  * core/util/util.scala:44-78) and makes multi-step experiments resumable.
  *
  * `Plan` reproduces ModelPlan's experiment generation: set/switch produce
  * the cross-product of step-parameter variants (grid search).
  */
case class Step(
    name: String,
    op: (DataFrame, Map[String, DataFrame]) => DataFrame,
    input: Option[String] = None,         // read a named DF instead of the flow
    outputs: Seq[String] = Nil,           // also register result under these names
    select: Seq[String] = Nil,
    drop: Seq[String] = Nil,
    rename: Map[String, String] = Map.empty,
    repartition: Option[Int] = None,
    cache: Boolean = false,
    snapshot: Boolean = false)

case class RunResult(df: DataFrame, named: Map[String, DataFrame],
                     log: Seq[(String, Long)])

case class Model(project: String, name: String, steps: Seq[Step] = Nil,
                 snapshotBase: Option[String] = None,
                 group: String = "models") {

  def step(s: Step): Model = copy(steps = steps :+ s)
  def step(stepName: String, op: DataFrame => DataFrame): Model =
    step(Step(stepName, (df, _) => op(df)))

  private def snapshotPath(stepName: String): Option[String] =
    snapshotBase.map(b => s"$b/$project/$name/$stepName")

  /** Fold the steps over `source`. Steps with `snapshot = true` write
    * parquet at the step path and re-read it (plan cut); when the snapshot
    * already exists and `reuseSnapshots`, the step op is skipped entirely
    * (the reference's step memoization, mllib/Model.scala:210-242). */
  def run(source: DataFrame,
          namedDataFrames: Map[String, DataFrame] = Map.empty,
          reuseSnapshots: Boolean = true,
          stopAfter: Option[String] = None): RunResult = {
    val spark = source.sparkSession
    var named = namedDataFrames
    var flow = source
    val log = Seq.newBuilder[(String, Long)]
    // a typo'd stopAfter used to run EVERY step silently (indexWhere = -1
    // fell through to steps.length) — the opposite of what the caller
    // asked; fail by name instead
    stopAfter.foreach(sa => require(steps.exists(_.name == sa),
      s"Model.run: stopAfter step '$sa' is not in " +
        s"[${steps.map(_.name).mkString(", ")}]"))
    val upTo = stopAfter.map(sa => steps.indexWhere(_.name == sa) + 1)
      .filter(_ > 0).getOrElse(steps.length)

    steps.take(upTo).foreach { s =>
      val t0 = System.nanoTime()
      // named-input misses say WHICH step wanted WHAT, not a bare
      // NoSuchElementException key dump
      s.input.foreach(n => require(named.contains(n),
        s"Model.run: step '${s.name}' reads named input '$n' but only " +
          s"[${named.keys.toSeq.sorted.mkString(", ")}] are registered"))
      val in = s.input.map(named(_)).getOrElse(flow)
      val path = if (s.snapshot) snapshotPath(s.name) else None
      val computed = path match {
        case Some(p) if reuseSnapshots && pathExists(spark, p) =>
          Parquet.read(spark, p)
        case Some(p) =>
          val out = shape(s, s.op(in, named))
          out.write.mode("overwrite").parquet(p)
          Parquet.read(spark, p)
        case None => shape(s, s.op(in, named))
      }
      val out = if (s.cache) computed.cache() else computed
      flow = out
      s.outputs.foreach(n => named += n -> out)
      log += s.name -> ((System.nanoTime() - t0) / 1000000)
    }
    RunResult(flow, named, log.result())
  }

  /** Append ONE run-log row to the partitioned-JSON experiment log — the
    * reference's run-history artifact (mllib/Model.scala:142-164: one row
    * per run, metrics as columns, appended
    * `partitionBy(modelGroup, project, model).json(logPath)`), which an
    * experiment audit later reads back with any JSON + hive-partition
    * reader. The partition columns use the reference's EXACT camelCase
    * names (`modelGroup`, not snake_case) so tooling that resolves the
    * reference's hive layout resolves this log unchanged.
    * Fixed columns carry the model identity and step roster;
    * each step's wall-clock lands in its own `{step}_ms` column (the
    * reference's per-step execMetrics) and caller-supplied `metrics`
    * append as their own columns. The row is one driver-side tuple — no
    * data-sized work; `coalesce(1)` keeps the append at one small file
    * per run. */
  def writeRunLog(logPath: String, result: RunResult,
                  metrics: Map[String, Double] = Map.empty,
                  comment: String = ""): Unit = {
    // loud on column collisions (the fuzzy-lookup reserved-name
    // convention): a step named `model` or a metric key `n_steps` would
    // otherwise silently REPLACE an identity/partition column via
    // withColumn, mis-bucketing the row
    val fixed = Seq("modelGroup", "project", "model", "comment",
      "n_steps", "step_names")
    val stepCols = result.log.map { case (s, _) => s"${s}_ms" }
    val dupSteps = stepCols.diff(stepCols.distinct).distinct
    require(dupSteps.isEmpty,
      s"writeRunLog: duplicate step timing column(s): ${dupSteps.mkString(", ")}")
    val clash = (stepCols ++ metrics.keys).filter(c =>
      fixed.contains(c) || (metrics.keySet & stepCols.toSet).contains(c))
    require(clash.isEmpty,
      s"writeRunLog: step/metric column(s) collide with fixed or " +
        s"each other's names: ${clash.distinct.mkString(", ")}")
    val spark = result.df.sparkSession
    import spark.implicits._
    // layout-migration guard: logs written before the camelCase rename
    // used snake_case model_group partition dirs; appending camelCase
    // into the same directory would SUCCEED here and then break every
    // subsequent read of the whole log with 'conflicting partition
    // column names' — fail loudly at write time instead
    val root = new org.apache.hadoop.fs.Path(logPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      val oldLayout = fs.listStatus(root)
        .exists(_.getPath.getName.startsWith("model_group="))
      require(!oldLayout,
        s"writeRunLog: $logPath contains a pre-rename snake_case " +
          "model_group= partition layout; appending the reference " +
          "camelCase modelGroup= layout into it would make the whole " +
          "directory unreadable — migrate (rename the partition dirs) " +
          "or write to a fresh logPath")
    }
    val base = Seq((group, project, name, comment, steps.length.toLong,
        result.log.map(_._1).mkString(",")))
      .toDF("modelGroup", "project", "model", "comment", "n_steps",
        "step_names")
    val withSteps = result.log.foldLeft(base) { case (df, (step, ms)) =>
      df.withColumn(s"${step}_ms", org.apache.spark.sql.functions.lit(ms)) }
    val row = metrics.toSeq.sortBy(_._1).foldLeft(withSteps) {
      case (df, (k, v)) => df.withColumn(k, org.apache.spark.sql.functions.lit(v)) }
    row.coalesce(1).write.mode("append")
      .partitionBy("modelGroup", "project", "model").json(logPath)
  }

  private def shape(s: Step, df0: DataFrame): DataFrame = {
    var df = df0
    s.repartition.foreach(n => df = df.repartition(n))
    if (s.select.nonEmpty) df = df.select(s.select.map(df.col): _*)
    if (s.drop.nonEmpty) df = df.drop(s.drop: _*)
    s.rename.foreach { case (from, to) => df = df.withColumnRenamed(from, to) }
    df
  }

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(p)
    hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath)
  }
}

/** Experiment generator (reference ModelPlan: set/switch/merge/repeat →
  * cross-product of model variants). A variant is a map of
  * "step.param" -> value handed to the step ops via the named-DF map's
  * sibling `params`. */
case class Plan(variants: Seq[Map[String, String]] = Seq(Map.empty)) {
  /** Fix a parameter across all variants. */
  def set(key: String, value: String): Plan =
    Plan(variants.map(_ + (key -> value)))
  /** Branch every variant over the given values (cross-product growth). */
  def switch(key: String, values: Seq[String]): Plan =
    Plan(for (v <- variants; x <- values) yield v + (key -> x))
  /** Concatenate another plan's variants. */
  def merge(other: Plan): Plan = Plan(variants ++ other.variants)
  /** Replicate every variant `n` times, stamping a run index (reference
    * ModelPlan.repeat, ModelPlan.scala:30 — repeated-measure experiments,
    * e.g. seed-variance estimation). */
  def repeat(n: Int, key: String = "run"): Plan =
    Plan(for (v <- variants; i <- 0 until n) yield v + (key -> i.toString))
  def size: Int = variants.length
}

/** Versioned step selection (reference mllib/ModelVersion.scala:7-92): a
  * model may carry several VERSIONS of a named step; a ModelVersion picks
  * one per step, overrides parameters, and accumulates experiment logs.
  * Steps here are descriptors — resolve() projects the chosen (name,
  * version) sequence onto executable [[Step]]s by key. */
case class VersionedStep(name: String, version: String,
                         params: Map[String, String] = Map.empty,
                         log: Boolean = false)

case class ModelVersion(steps: Seq[VersionedStep] = Nil, comment: String = "",
                        logs: Map[String, String] = Map.empty) {

  /** Ready = one version per step name (reference isReady). */
  def isReady: Boolean = steps.map(_.name).distinct.length == steps.length

  /** Choose versions: for each (step, version) pair keep ONLY that version
    * of the step (others of the same name drop out); chosen steps are
    * flagged for logging. Duplicate choices for one step are an error
    * (reference step()). */
  def step(stepChoices: (String, String)*): ModelVersion = {
    val dup = stepChoices.groupBy(_._1).filter(_._2.length > 1).keys
    require(dup.isEmpty, s"cannot choose more than one version for: ${dup.mkString(",")}")
    val chosen = stepChoices.toMap
    copy(steps = steps.flatMap { s =>
      chosen.get(s.name) match {
        case Some(v) if v == s.version => Some(s.copy(log = true))
        case Some(_) => None
        case None => Some(s)
      }
    })
  }

  def drop(stepsToDrop: String*): ModelVersion =
    copy(steps = steps.filterNot(s => stepsToDrop.contains(s.name)))

  /** Truncate after `lastStep` (inclusive) — reference dropAfter. */
  def dropAfter(lastStep: String): ModelVersion =
    copy(steps = {
      val i = steps.indexWhere(_.name == lastStep)
      if (i < 0) steps else steps.take(i + 1)
    })

  def comment(commentToAdd: String): ModelVersion =
    copy(comment = if (comment.isEmpty) commentToAdd else s"$comment, $commentToAdd")

  /** Parameter override on every version of `step` (reference params). */
  def params(step: String, paramPairs: (String, String)*): ModelVersion =
    copy(steps = steps.map(s =>
      if (s.name == step) s.copy(params = s.params ++ paramPairs, log = true) else s))

  def log(toLog: (String, String)*): ModelVersion = copy(logs = logs ++ toLog)

  /** Project onto executable steps: `available` maps (name, version) to a
    * parameterized Step builder. */
  def resolve(available: Map[(String, String), Map[String, String] => Step]): Seq[Step] =
    steps.map { s =>
      available.getOrElse((s.name, s.version),
        throw new NoSuchElementException(s"no step for (${s.name}, ${s.version})"))
        .apply(s.params)
    }

  def describe: Seq[String] =
    logs.map { case (k, v) => s"$k=>$v" }.toSeq ++
      (if (comment.nonEmpty) Seq(comment) else Nil) ++
      steps.map(s => s"${s.name}[${s.version}]${
        if (s.params.nonEmpty) s.params.map(p => s"${p._1}=${p._2}").mkString("(", ",", ")") else ""}")
}

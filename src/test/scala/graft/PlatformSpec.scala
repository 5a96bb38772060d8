package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ModelVersion, Plan, Step, VersionedStep}
import graft.sources.{Storage, WriteMode}

/** Platform plumbing: Storage/FSNode, ModelVersion step selection,
  * Plan.repeat, Application config parsing, Word2VecIndex. */
class PlatformSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  test("storage: content round-trip, write modes, list, last(pattern)") {
    val st = Storage.forSpark(spark)
    val base = s"/tmp/graft_storage_spec_${System.nanoTime()}"
    val a = st.getNode(s"$base/dir/a.txt").setContent("alpha")
    assert(a.exists && a.getContentAsString == "alpha")
    assertThrows[IllegalStateException](a.setContent("again")) // FailIfExists
    a.setContent("ignored", WriteMode.IgnoreIfExists)
    assert(a.getContentAsString == "alpha")
    a.setContent("beta", WriteMode.Overwrite)
    assert(a.getContentAsString == "beta")

    st.getNode(s"$base/dir/b_snapshot_1.txt").setContent("s1")
    Thread.sleep(1100) // fs mtime granularity is 1s on some filesystems
    st.getNode(s"$base/dir/b_snapshot_2.txt").setContent("s2")
    val names = st.getNode(s"$base/dir").list(recursive = true).map(_.path)
    assert(names.length == 3)
    val newest = st.getNode(base).last("b_snapshot_.*")
    assert(newest.map(_.getContentAsString).contains("s2"))

    // move with overwrite
    val moved = a.move(st.getNode(s"$base/dir/c.txt"), WriteMode.Overwrite)
    assert(!st.getNode(s"$base/dir/a.txt").exists && moved.getContentAsString == "beta")
    st.getNode(base).delete(recurse = true)
  }

  test("storage: isUnchanged mtime probe and tmp sandbox cleanup") {
    val st = Storage.forSpark(spark)
    val tmp = st.getTmpNode("probe.txt").setContent("v1")
    assert(!tmp.isUnchanged) // first probe primes the cache
    assert(tmp.isUnchanged)  // stable since
    Thread.sleep(1100)
    tmp.setContent("v2", WriteMode.Overwrite)
    assert(!tmp.isUnchanged) // mtime moved
    assert(tmp.path.contains("graft_"))
    st.removeMarkedFiles()
    assert(!tmp.exists)
  }

  test("modelVersion: choose versions, drop, dropAfter, params, logs") {
    val mv = ModelVersion(Seq(
      VersionedStep("clean", "v1"), VersionedStep("clean", "v2"),
      VersionedStep("train", "svc"), VersionedStep("score", "v1")))
    assert(!mv.isReady) // clean appears twice
    val chosen = mv.step("clean" -> "v2")
    assert(chosen.isReady)
    assert(chosen.steps.map(s => (s.name, s.version)) ==
      Seq(("clean", "v2"), ("train", "svc"), ("score", "v1")))
    assert(chosen.steps.head.log)
    assertThrows[IllegalArgumentException](mv.step("clean" -> "v1", "clean" -> "v2"))
    assert(chosen.dropAfter("train").steps.map(_.name) == Seq("clean", "train"))
    assert(chosen.drop("score").steps.map(_.name) == Seq("clean", "train"))
    val p = chosen.params("train", "reg" -> "0.1").log("seed" -> "7")
    assert(p.steps.find(_.name == "train").get.params == Map("reg" -> "0.1"))
    assert(p.logs == Map("seed" -> "7"))
    // resolve to executable steps by (name, version)
    val resolved = chosen.resolve(Map(
      ("clean", "v2") -> (_ => Step("clean", (df, _) => df)),
      ("train", "svc") -> (ps => Step(s"train-${ps.getOrElse("reg", "0")}", (df, _) => df)),
      ("score", "v1") -> (_ => Step("score", (df, _) => df))))
    assert(resolved.map(_.name) == Seq("clean", "train-0", "score"))
  }

  test("plan: repeat replicates variants with a run index") {
    val plan = Plan().switch("model", Seq("a", "b")).repeat(3)
    assert(plan.size == 6)
    assert(plan.variants.count(v => v("model") == "a" && v("run") == "2") == 1)
  }

  test("application: parses flat JSON and key=value configs") {
    object App extends Application {
      override def defaultConfValues = Map("depth" -> "1")
      def run(s: SparkSession, st: Storage, c: Map[String, String]): Unit = ()
    }
    val json = """{ "input": "/data/in", "quoted": "a \"b\" c" }"""
    assert(App.parseConfig(json) == Map("input" -> "/data/in", "quoted" -> "a \"b\" c"))
    assert(App.parseConfig("x=1\ny = 2\n#junk") == Map("x" -> "1", "y" -> "2"))
  }

  test("observe: metrics ride the action's own job") {
    import org.apache.spark.sql.functions._
    val df = Seq(1, 2, 3, 4, 5).toDF("v")
    val (cnt, m) = graft.operators.Observe.withMetrics(df,
      count(lit(1)).as("n"), avg(col("v")).as("mean"))(_.count())
    assert(cnt == 5L)
    assert(m("n") == 5L && m("mean") == 3.0)
  }

  test("word2vec index: lookup and deterministic nearest") {
    val lex = Seq(("Hot", Seq(1.0, 0.0)), ("warm", Seq(0.9, 0.1)),
      ("cold", Seq(0.0, 1.0))).toDF("token", "vector")
    val idx = graft.operators.Transformers.fitWord2VecIndex(lex)
    assert(idx.dim == 2)
    assert(idx("HOT").map(_.toSeq).contains(Seq(1.0, 0.0))) // case-folded
    assert(idx("missing").isEmpty)
    val nn = idx.nearest(Array(1.0, 0.05), 2).map(_._1)
    assert(nn == Seq("hot", "warm"))
  }
}

package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.operators._
import graft.sources.CorpusGen
import graft.tools.Profile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Every `Profile` mode on the golden corpus with one rep: each line is
  * a JSON object with its mode's keys, and `iter` reports the rows the
  * operators themselves return. Also checks the round reports the
  * iterative operators hand to a reporter. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()

  private def profile(args: String*): Seq[JsonNode] = {
    val lines = ArrayBuffer.empty[String]
    Profile.run(spark, args, lines += _)
    assert(lines.nonEmpty, s"no output from ${args.mkString(" ")}")
    lines.map(mapper.readTree).toSeq
  }

  private def assertKeys(nodes: Seq[JsonNode], mode: String, keys: String*): Unit =
    nodes.foreach { n =>
      assert(n.isObject && n.get("mode").asText == mode, n.toString)
      assert(n.fieldNames().asScala.toSet === (keys.toSet + "mode"), n.toString)
    }

  private lazy val graph = {
    val r = Pipeline.run(spark, CorpusGen.corpus(spark, dir))
    val nodes = r.trees.toDF().select(col("id"))
    (r, nodes)
  }

  test("iter: one line per operator, rows equal the operators' own counts") {
    val out = profile("iter", dir, "1")
    assertKeys(out, "iter", "op", "rep", "wall_s", "jobs", "rows", "rounds")
    val (r, nodes) = graph
    val wEdges = r.scores.toDF().where(col("isMatch"))
      .select(col("idA").as("src"), col("idB").as("dst"), col("normDist").as("w"))
    val expected = Map(
      "cc_star" -> Clustering.connectedComponents(r.matches, nodes).count(),
      "hashmin" -> HashToMin.connectedComponents(r.matches, nodes).count(),
      "center" -> CenterClustering.cluster(wEdges, nodes).count(),
      "pivot" -> PivotClustering.cluster(
        r.matches.select(col("idA").as("src"), col("idB").as("dst")), nodes).count())
    assert(out.map(n => n.get("op").asText -> n.get("rows").asLong).toMap === expected)
    out.foreach { n =>
      val rounds = n.get("rounds").elements().asScala.toSeq
      assert(rounds.map(_.get("round").asInt) === (1 to rounds.size), n.toString)
      rounds.foreach(rr => assert(rr.has("rows_out") && rr.has("wall_s"), rr.toString))
    }
  }

  test("round reports number 1..k, k the largest round in Pivot's and CENTER's output") {
    val (r, nodes) = graph
    def reported(run: Option[RoundReport => Unit] => org.apache.spark.sql.DataFrame) = {
      val seen = ArrayBuffer.empty[RoundReport]
      val report: RoundReport => Unit = seen += _
      val out = run(Some(report))
      (seen.toSeq, out.agg(max(col("round"))).head().getInt(0))
    }
    val (pivot, pivotMax) = reported(rep => PivotClustering.cluster(
      r.matches.select(col("idA").as("src"), col("idB").as("dst")), nodes, onRound = rep))
    assert(pivot.map(_.round) === (1 to pivotMax))
    assert(pivot.last.rowsOut === 0L, "the last pivot round leaves no node undecided")
    val (center, centerMax) = reported(rep => CenterClustering.cluster(r.scores.toDF()
      .where(col("isMatch"))
      .select(col("idA").as("src"), col("idB").as("dst"), col("normDist").as("w")),
      nodes, onRound = rep))
    assert(center.map(_.round) === (1 to center.size))
    // a last round may only retire edges the round before made no-ops
    assert(centerMax === center.size || centerMax === center.size - 1,
      s"max round $centerMax, ${center.size} rounds reported")
    assert(center.last.rowsOut === 0L, "the last CENTER round leaves no edge pending")
    assert((pivot ++ center).forall(_.wallNs > 0))
  }

  test("CC star rounds and Hash-to-Min rounds report 1..k when the contraction is partial") {
    // 4 shuffle partitions AQE may not coalesce: each partition's
    // union-find sees only part of the path, so CC's star loop runs
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    val path = (0 until 48).map(i => f"p_$i%02d")
    val edges = path.zip(path.tail).toDF("idA", "idB")
    val nodes = path.toDF("id")
    val cc = ArrayBuffer.empty[RoundReport]
    val ccReport: RoundReport => Unit = cc += _
    val labels = Clustering.connectedComponents(edges, nodes, onRound = Some(ccReport))
    assert(labels.collect().map(_.getString(1)).toSet === Set("p_00"))
    assert(cc.nonEmpty, "a partial contraction should leave star rounds to run")
    assert(cc.map(_.round) === (1 to cc.size))
    assert(cc.last.rowsOut === 47L, "the last star round leaves one edge per non-root node")
    val h2m = ArrayBuffer.empty[RoundReport]
    val h2mReport: RoundReport => Unit = h2m += _
    val (_, rounds) = HashToMin.run(edges, nodes, onRound = Some(h2mReport))
    assert(h2m.map(_.round) === (1 to rounds))
    assert((cc ++ h2m).forall(_.wallNs > 0))
  }

  test("queries: count and noop lines with the count's rows") {
    val out = profile("queries", dir, "er_clusters,q1_agg", "1", "both")
    assertKeys(out, "queries", "query", "rep", "force", "wall_s", "jobs", "rows")
    assert(out.map(n => (n.get("query").asText, n.get("force").asText)) === Seq(
      ("er_clusters", "count"), ("er_clusters", "noop"), ("q1_agg", "count"), ("q1_agg", "noop")))
    assert(out.head.get("rows").asLong === SparkEntry.queries("er_clusters")(spark, dir).count())
  }

  test("plans: a plan file per query plus the candidate-pair and attach plans") {
    SparkTestSession.withTempRoot("graft_profile_plans") { root =>
      val out = profile("plans", dir, root, "t", "er_clusters,q1_agg")
      assertKeys(out, "plans", "name", "file", "error")
      assert(out.map(_.get("name").asText) ===
        Seq("er_clusters", "q1_agg", "er_candidate_pairs", "er_attach_trees"))
      out.foreach { n =>
        assert(n.get("error").isNull, n.toString)
        val f = new java.io.File(n.get("file").asText)
        assert(f.getName === s"${n.get("name").asText}_t.txt")
        assert(scala.io.Source.fromFile(f).mkString.contains("Physical Plan"), f.toString)
      }
      val attach = scala.io.Source.fromFile(out.last.get("file").asText).mkString
      assert(attach.contains("InMemoryRelation"), "attach plan should read cached pairs")
    }
  }

  test("pipeline: one line with wall, jobs and F1") {
    val out = profile("pipeline", dir, "1")
    assertKeys(out, "pipeline", "mult", "cores", "files", "wall_s", "jobs", "trees",
      "pairs", "matches", "clusters", "f1")
    val p = out.head
    assert(out.size === 1 && p.get("jobs").asLong > 0 && p.get("f1").asDouble >= 0.99, p.toString)
    assert(p.get("clusters").asLong === graph._1.clusters.select("clusterId").distinct().count())
  }

  test("trees: one parquet file with the columns the Python baseline reads") {
    SparkTestSession.withTempRoot("graft_profile_trees") { root =>
      val outDir = s"$root/trees"
      val out = profile("trees", dir, outDir)
      assertKeys(out, "trees", "out", "trees")
      val t = spark.read.parquet(outDir)
      assert(t.columns.toSeq === Seq("id", "labelsH", "lmds", "keyroots"))
      assert(out.head.get("trees").asLong === graph._1.trees.count())
      assert(new java.io.File(outDir).listFiles().count(_.getName.endsWith(".parquet")) === 1)
    }
  }
}

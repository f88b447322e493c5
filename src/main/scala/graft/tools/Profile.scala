package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{ErQueries, Pipeline, SparkEntry}
import graft.operators._
import graft.sources.CorpusGen
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The engine's measurement tool. Every mode prints one JSON object per
  * line, each with its `mode`; `wall_s` is seconds and `jobs` counts
  * the Spark jobs the measured call started.
  *
  * {{{
  * runMain graft.tools.Profile iter     <sfDir> [reps=2]
  * runMain graft.tools.Profile queries  <sfDir> <q1,q2,...> [reps=3] [count|both]
  * runMain graft.tools.Profile plans    <sfDir> <outDir> [suffix=plan] [q1,q2,...]
  * runMain graft.tools.Profile pipeline <sfDir> [mult=1]
  * runMain graft.tools.Profile trees    <sfDir> <outDir>
  * }}}
  *
  *  - `iter`: CC, Hash-to-Min, CENTER and CC-Pivot over the pipeline's
  *    match graph, built first and not timed: one line per operator and
  *    rep with its rows and each round's [[RoundReport]].
  *  - `queries`: declared queries after [[ErQueries.warm]], forced by
  *    `count`, and with `both` also by the noop sink, which computes
  *    every column a count may prune.
  *  - `plans`: each query's formatted physical plan to
  *    `<outDir>/<query>_<suffix>.txt` (every query when no list is
  *    given), plus the pipeline's candidate-pair and attach plans.
  *  - `pipeline`: one `Pipeline.run` over the corpus fanned out `mult`
  *    times, timed through clusters and matches, with its pairwise F1.
  *  - `trees`: the parsed trees (id, labelsH, lmds, keyroots) as one
  *    parquet file, the input of `tools/py_zss_baseline.py`.
  *
  * The session runs at local[SPARK_GRAFT_CPUS] (default 4).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Profile <iter|queries|plans|pipeline|trees> <sfDir> [args]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq, println)
    finally spark.stop()
  }

  /** Runs `mode sfDir args…` in `spark`, passing each JSON line to `out`. */
  def run(spark: SparkSession, args: Seq[String], out: String => Unit): Unit = {
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    val c = Ctx(spark, jobs, out)
    val (sfDir, rest) = (args(1), args.drop(2))
    def arg(i: Int, default: String) = rest.lift(i).getOrElse(default)
    try args.head match {
      case "iter" => iter(c, sfDir, arg(0, "2").toInt)
      case "queries" =>
        queries(c, sfDir, rest.head.split(",").toSeq, arg(1, "3").toInt, arg(2, "count") == "both")
      case "plans" => plans(c, sfDir, rest.head, arg(1, "plan"), rest.lift(2).map(_.split(",").toSet))
      case "pipeline" => pipeline(c, sfDir, arg(0, "1").toInt)
      case "trees" => trees(c, sfDir, rest.head)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  private final case class Ctx(spark: SparkSession, jobs: JobCounter, out: String => Unit) {
    def emit(fields: (String, Any)*): Unit = out(json.writeValueAsString(obj(fields: _*)))
  }

  private val json = new ObjectMapper()

  private def obj(fields: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def secs(ns: Long): Double = math.round(ns / 1e6) / 1e3

  /** Runs `body`, returning its value, wall seconds and jobs started. */
  private def measured[T](c: Ctx)(body: => T): (T, Double, Long) = {
    val j0 = c.jobs.settled()
    val t0 = System.nanoTime()
    val v = body
    val wall = secs(System.nanoTime() - t0)
    (v, wall, c.jobs.settled() - j0)
  }

  private def iter(c: Ctx, sfDir: String, reps: Int): Unit = {
    val r = Pipeline.run(c.spark, CorpusGen.corpus(c.spark, sfDir))
    val matches = r.matches
    val nodes = r.trees.toDF().select(col("id"))
    val wEdges = r.scores.toDF().where(col("isMatch"))
      .select(col("idA").as("src"), col("idB").as("dst"), col("normDist").as("w"))
    Seq(matches, nodes, wEdges).foreach(_.count())
    val ops = Seq[(String, Option[RoundReport => Unit] => DataFrame)](
      "cc_star" -> (rep => Clustering.connectedComponents(matches, nodes, onRound = rep)),
      "hashmin" -> (rep => HashToMin.run(matches, nodes, onRound = rep)._1),
      "center" -> (rep => CenterClustering.cluster(wEdges, nodes, onRound = rep)),
      "pivot" -> (rep => PivotClustering.cluster(
        matches.select(col("idA").as("src"), col("idB").as("dst")), nodes, onRound = rep)))
    for ((op, cluster) <- ops; rep <- 1 to reps) {
      val rounds = ArrayBuffer.empty[RoundReport]
      val report: RoundReport => Unit = rounds += _
      val (rows, wall, jobs) = measured(c)(cluster(Some(report)).count())
      c.emit("mode" -> "iter", "op" -> op, "rep" -> rep, "wall_s" -> wall,
        "jobs" -> jobs, "rows" -> rows, "rounds" -> rounds.map(rr => obj(
          "round" -> rr.round, "rows_out" -> rr.rowsOut, "wall_s" -> secs(rr.wallNs))).asJava)
    }
    r.unpersist()
  }

  private def queries(c: Ctx, sfDir: String, names: Seq[String], reps: Int,
      noop: Boolean): Unit = {
    ErQueries.warm(c.spark, sfDir)
    for (q <- names; rep <- 1 to reps) {
      val build = SparkEntry.queries(q)
      val (rows, wall, jobs) = measured(c)(build(c.spark, sfDir).count())
      c.emit("mode" -> "queries", "query" -> q, "rep" -> rep, "force" -> "count",
        "wall_s" -> wall, "jobs" -> jobs, "rows" -> rows)
      if (noop) {
        val (_, w, j) = measured(c)(
          build(c.spark, sfDir).write.format("noop").mode("overwrite").save())
        c.emit("mode" -> "queries", "query" -> q, "rep" -> rep, "force" -> "noop",
          "wall_s" -> w, "jobs" -> j, "rows" -> rows)
      }
    }
  }

  /** Building a query's frame runs its shared layers' builds, as in
    * Bench and Verify; a query that fails is reported with its error. */
  private def plans(c: Ctx, sfDir: String, outDir: String, suffix: String,
      only: Option[Set[String]]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    def write(name: String)(df: => DataFrame): Unit = {
      val file = Paths.get(outDir, s"${name}_$suffix.txt")
      val error =
        try { Files.write(file, df.queryExecution.explainString(FormattedMode).getBytes(UTF_8)); null }
        catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }
      c.emit("mode" -> "plans", "name" -> name, "file" -> file.toString, "error" -> error)
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, build) => write(name)(build(c.spark, sfDir)) }
    // as in the pipeline, scoring reads the candidate pairs from cache
    val trees = ParseStage.parse(CorpusGen.corpus(c.spark, sfDir))
    val pairs = Blocking.candidatePairs(trees)
    write("er_candidate_pairs")(pairs)
    write("er_attach_trees")(Scoring.attachTrees(pairs.persist(), trees).toDF())
    pairs.unpersist()
  }

  private def pipeline(c: Ctx, sfDir: String, mult: Int): Unit = {
    val files = CorpusGen.corpus(c.spark, sfDir, mult)
    val nFiles = files.count()
    val ((r, nClusters, nMatches), wall, jobs) = measured(c) {
      val r = Pipeline.run(c.spark, files)
      (r, r.clusters.select("clusterId").distinct().count(), r.matches.count())
    }
    val f1 = Pipeline.pairwiseF1(r.scores, r.trees).select("f1").head().getDouble(0)
    c.emit("mode" -> "pipeline", "mult" -> mult,
      "cores" -> c.spark.sparkContext.defaultParallelism, "files" -> nFiles,
      "wall_s" -> wall, "jobs" -> jobs, "trees" -> r.trees.count(),
      "pairs" -> r.pairs.count(), "matches" -> nMatches, "clusters" -> nClusters, "f1" -> f1)
    r.unpersist()
  }

  private def trees(c: Ctx, sfDir: String, outDir: String): Unit = {
    ParseStage.parse(CorpusGen.corpus(c.spark, sfDir)).toDF()
      .select(col("id"), col("labelsH"), col("lmds"), col("keyroots"))
      .coalesce(1).write.mode("overwrite").parquet(outDir)
    c.emit("mode" -> "trees", "out" -> outDir,
      "trees" -> c.spark.read.parquet(outDir).count())
  }

  /** Counts the jobs started. The listener bus delivers events
    * asynchronously, so [[settled]] reads the count once every started
    * job has ended and no job started for 10 ms (waiting at most 1 s). */
  private final class JobCounter extends SparkListener {
    private val started = new AtomicLong()
    private val ended = new AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

    def settled(): Long = {
      val deadline = System.nanoTime() + 1000000000L
      var seen = -1L
      while ((started.get != seen || ended.get != seen) && System.nanoTime() < deadline) {
        seen = started.get
        Thread.sleep(10)
      }
      started.get
    }
  }
}

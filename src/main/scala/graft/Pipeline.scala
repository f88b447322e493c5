package graft

import graft.model._
import graft.operators._
import graft.parse.CodeParser
import graft.sources.TableIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end record-linkage pipeline:
  * scan → parse → block → pair → ZSS-score → threshold → cluster.
  *
  * Stage DAG + shuffle budget (explicit, per north_rule):
  *  1. parse      — narrow map, 0 shuffles
  *  2. pairs      — 1 shuffle (groupBy block key) + 1 (pair distinct)
  *  3. score      — 2 plain equi-joins (tree fetch; the blocking cap
  *                  bounds per-id degree) + the mapPartitions DP; AQE
  *                  skew split enabled on these shuffles
  *  4. cluster    — per-partition union-find contraction, then star
  *                  rounds until the first star forest, lineage
  *                  truncated per round
  * With `io` set, every stage persists to a table and is skipped on
  * re-run if its `_SUCCESS`-gated output exists — resume-from-checkpoint
  * at stage granularity.
  */
object Pipeline {

  final case class Config(
      tau: Double = 0.08,
      parse: CodeParser.ParseConfig = CodeParser.defaultConfig,
      blocking: Blocking.BlockingConfig = Blocking.BlockingConfig(),
      io: Option[TableIO] = None)

  /** Lazy stage handles: constructing a Result builds only the plan —
    * zero Spark jobs run until a stage is forced, so asking for `trees`
    * never pays for the DP or the clustering rounds. Each `lazy val`
    * memoizes, so shared upstream stages (persisted trees/scores) are
    * built once however many downstream stages are read. With `cfg.io`
    * set, forcing a stage writes-or-resumes it (and its upstreams) at
    * that moment.
    */
  final class Result private[Pipeline] (
      spark: SparkSession,
      files: Dataset[FileRow],
      cfg: Config) {
    import spark.implicits._

    private val metricsAcc = new org.apache.spark.util.CollectionAccumulator[PartMetrics]
    spark.sparkContext.register(metricsAcc, "graft.score.partMetrics")

    private val persisted = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
    private def persist[T](ds: Dataset[T]): Dataset[T] = {
      persisted.add(ds)
      ds.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Unpersists the stages forced so far; the others hold nothing. */
    def unpersist(): Unit = persisted.forEach(graft.util.SessionMemo.unpersist(_))

    lazy val trees: Dataset[TreeRow] = persist(staged(spark, cfg, "trees") {
      parseStage()
    }.as[TreeRow])

    private def parseStage(): DataFrame =
      ParseStage.parse(files, cfg.parse, cfg.blocking.mh, Some(metricsAcc)).toDF()

    // persist: the scoring stage, the FS assessment set and the pair
    // queries all read pairs — without it the blocking shuffle
    // re-executes per read
    lazy val pairs: DataFrame = persist(staged(spark, cfg, "pairs") {
      Blocking.candidatePairs(trees, cfg.blocking)
    })

    // persist: matches, clusters, F1 and metrics all read scores — without
    // it every downstream action re-runs the (expensive) DP stage
    lazy val scores: Dataset[ScoreRow] = persist(staged(spark, cfg, "scores") {
      scoreStage()
    }.as[ScoreRow])

    private def scoreStage(): DataFrame =
      Scoring.score(Scoring.attachTrees(pairs, trees), cfg.tau, Some(metricsAcc)).toDF()

    // persist: the clustering families, feedback layer, retract and the
    // edit-script sample all read matches — same multi-consumer rule as
    // scores (without it each reader re-runs the threshold projection)
    lazy val matches: DataFrame = persist(staged(spark, cfg, "matches") {
      Scoring.matches(scores)
    })

    // persist: ~8 queries read clusters (sizes, cohesion, golden, split,
    // eval, nmi, …) — each re-ran the CC finale's groupBy + anti-join
    // from the checkpointed edge set per action before this
    lazy val clusters: DataFrame = persist(staged(spark, cfg, "clusters") {
      Clustering.connectedComponents(matches, trees.toDF().select($"id"))
    })

    /** Per-partition lineage/metrics for the parse AND score stages. The
      * accumulator fills when a stage actually executes; on resume it
      * stays empty and the persisted metrics table (written in the same
      * run as the stages) is the record. If a crash landed between the
      * stage writes and the metrics write, the missing stages are re-run
      * purely to regenerate their side-band metrics — never persist a
      * partial metrics table, which would permanently under-record the
      * run. */
    lazy val metrics: DataFrame = cfg.io match {
      // the persisted table is only the record when NO stage executed this
      // run (acc empty); if stages re-ran (stage tables deleted, config
      // change under the same io root) the accumulator holds the truth and
      // the table must be regenerated, not returned stale
      case Some(io) if io.exists(spark, "metrics") && metricsAcc.value.isEmpty =>
        io.read(spark, "metrics")
      case other =>
        trees.count() // fills parse metrics when the parse stage executes
        scores.count() // fills score metrics likewise
        if (other.isDefined) {
          val have = scala.jdk.CollectionConverters
            .ListHasAsScala(metricsAcc.value).asScala.map(_.stage).toSet
          // stages resumed from checkpoint never executed: re-run them
          // for their side-band metrics only
          if (!have.contains("score")) scoreStage().count()
          if (!have.contains("parse")) parseStage().count()
        }
        val m = spark.createDataFrame(
          scala.jdk.CollectionConverters.ListHasAsScala(metricsAcc.value).asScala.toSeq)
        other.foreach(io => io.write(m, "metrics"))
        m
    }
  }

  /** Session defaults every entry point should use. AQE on, skew-join
    * split on — the pair-generation and tree-fetch shuffles are the
    * documented skew points. */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
  }

  def run(spark: SparkSession, files: Dataset[FileRow], cfg: Config = Config()): Result = {
    tune(spark)
    new Result(spark, files, cfg)
  }

  /** Run-or-resume: with an IO configured, a stage whose table already
    * exists is read back instead of recomputed. */
  private def staged(spark: SparkSession, cfg: Config, table: String)(
      compute: => DataFrame): DataFrame =
    cfg.io match {
      case Some(io) =>
        if (!io.exists(spark, table)) io.write(compute, table)
        io.read(spark, table)
      case None => compute
    }

  /** Pairwise precision/recall/F1 of the thresholded scorer against the
    * ground-truth groupId labels, evaluated ON the candidate pairs (the
    * BASELINE metric: labeled pairs sharing a blocking key). */
  def pairwiseF1(scores: Dataset[ScoreRow], trees: Dataset[TreeRow]): DataFrame = {
    val spark = scores.sparkSession
    import spark.implicits._
    val labels = trees.toDF().select($"id", $"groupId")
    val labeled = scores.toDF()
      .join(labels.withColumnRenamed("id", "idA").withColumnRenamed("groupId", "gA"), "idA")
      .join(labels.withColumnRenamed("id", "idB").withColumnRenamed("groupId", "gB"), "idB")
      .withColumn("isDup", ($"gA" === $"gB") && ($"gA" >= 0))
    labeled.agg(
      sum(when($"isMatch" && $"isDup", 1L).otherwise(0L)).as("tp"),
      sum(when($"isMatch" && !$"isDup", 1L).otherwise(0L)).as("fp"),
      sum(when(!$"isMatch" && $"isDup", 1L).otherwise(0L)).as("fn"))
      .select(
        $"tp", $"fp", $"fn",
        ($"tp" / ($"tp" + $"fp")).as("precision"),
        ($"tp" / ($"tp" + $"fn")).as("recall"),
        (lit(2.0) * $"tp" / (lit(2.0) * $"tp" + $"fp" + $"fn")).as("f1"))
  }
}

package perfbench

import graft.Pipeline
import graft.sources.CorpusGen
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** `batch_cold`: the flagship path, `Pipeline.run` over the generated
  * corpus forced through `clusters`. Each rep is cold: it starts with
  * nothing persisted or cached and releases all it persisted. */
object BatchCold {
  val Docs = 2000
  val Mult = 1

  /** Reps per untraced process. Rep 0 also compiles the plans and reps
    * keep getting faster while the JIT warms: `op_p50_s` is the median of
    * the reps from [[Warm]] on, and `pass_s`, all reps together, includes
    * the cold start, whose compile work varies less from run to run than
    * the JIT's later choices do. */
  val Reps = 6
  val Warm = 2
  /** A traced process makes 4 reps, traces rep 2 and compares it with the
    * mean of reps 1 and 3 for the tracing overhead. */
  val TracedReps = 4
  val TracedRep = 2

  def run(c: Ctx, t: Tally): Unit = {
    import c.spark
    val docs = c.docs.getOrElse(Docs)
    val setup = c.writeInput(docs)
    val walls = ArrayBuffer.empty[Double]
    var peak = 0.0
    var quality = (0.0, 0.0)
    var tracedWall = 0.0
    val reps = if (c.trace) TracedReps else Reps
    for (i <- 0 until reps) {
      Checks.assertClean(spark, c.probe)
      c.probe.resetPeak()
      val traced = c.trace && i == TracedRep
      t.op(s"rep $i") {
        val (r, wall) = Stats.secs(if (traced) tracedRep(c) else untracedRep(c))
        if (traced) tracedWall = wall else walls += wall
        peak = math.max(peak, c.probe.peakStoredBytes.toDouble)
        val f1 = Pipeline.pairwiseF1(r.scores, r.trees).first().getAs[Double]("f1")
        t.check(s"rep $i pair_f1", f1 >= 0.99, s"pair_f1 $f1 < 0.99")
        val sig = Seq(r.pairs, r.matches, r.clusters).map(Checks.signature).mkString(" ")
        t.check(s"rep $i signature", i == 0 || sig == t.signature, s"$sig != ${t.signature}")
        t.signature = sig
        if (traced) t.metrics ++= kernelCounts(c, r)
        // every rep has the same clusters (signature check): score the last
        else if (i == reps - 1) quality = Checks.clusterPairQuality(
          r.trees.toDF().select(col("id"), col("groupId")), r.clusters)
      }
      Checks.release(spark, c.probe)
    }
    if (c.trace) {
      Reads.tracedPass(c, t, docs)
      c.probe.sync()
      t.metrics ++= Layers.table(c.tracer.spans, c.probe, c.cores)
      t.metrics("kernel.cells_per_cpu_s") = t.metrics.getOrElse("kernel.dp_cells", 0.0) /
        math.max(1e-9, t.metrics("kernel.task_cpu_s"))
      t.metrics("kernel.task_skew") = Layers.kernelSkew(c.tracer.spans, c.probe)
      for (q <- Reads.Mix) t.metrics(s"query.$q.wall_s") =
        c.tracer.spans.filter(s => s.layer == "query" && s.name == q).map(_.secs).sum
      t.metrics("trace_overhead_frac") = tracedWall / ((walls(1) + walls(2)) / 2) - 1
    } else {
      t.measured = walls.sum
      t.metrics ++= Seq("setup_s" -> setup, "op_p50_s" -> Stats.median(walls.toSeq.drop(Warm)),
        "pass_s" -> walls.sum,
        "peak_storage_bytes" -> peak, "cluster_pair_recall" -> quality._1,
        "cluster_pair_precision" -> quality._2)
    }
  }

  private def untracedRep(c: Ctx): Pipeline.Result = {
    val r = Pipeline.run(c.spark, CorpusGen.corpus(c.spark, c.input, Mult))
    r.clusters.count() // a persisted frame: count materializes every column
    r
  }

  /** The same rep with each public lazy stage forced in order, one span
    * per layer; the generated input is persisted first (`scan`). */
  private def tracedRep(c: Ctx): Pipeline.Result =
    c.tracer("op", "batch_cold", "rep2") {
      val files = c.tracer("scan", "CorpusGen.corpus", "rep2") {
        val f = CorpusGen.corpus(c.spark, c.input, Mult).persist(StorageLevel.MEMORY_AND_DISK)
        f.count()
        f
      }
      val r = Pipeline.run(c.spark, files)
      c.tracer("parse", "trees", "rep2")(r.trees.count())
      c.tracer("block", "pairs", "rep2")(r.pairs.count())
      c.tracer("scores", "scores", "rep2")(r.scores.count())
      c.tracer("threshold", "matches", "rep2")(r.matches.count())
      c.tracer("cc", "clusters", "rep2")(r.clusters.count())
      r
    }

  /** Work counts of the traced rep, read back from its persisted stages.
    * Scorer metrics are per task attempt: keep one row per partition. */
  private def kernelCounts(c: Ctx, r: Pipeline.Result): Map[String, Double] = {
    val tau = Pipeline.Config().tau
    val m = r.metrics.where(col("stage") === "score")
      .groupBy(col("partitionId"))
      .agg(max(col("pairsScored")).as("p"), max(col("dpCells")).as("c"))
      .agg(sum(col("p")).cast("double"), sum(col("c")).cast("double")).first()
    val s = r.scores.toDF().agg(count(lit(1)).cast("double"),
      sum(when(col("isMatch"), 1L).otherwise(0L)).cast("double"),
      sum(when(col("dist") > floor(lit(tau) * (col("nA") + col("nB"))), 1L)
        .otherwise(0L)).cast("double")).first()
    val scored = math.max(1.0, s.getDouble(0))
    Map(
      "block.candidate_pairs" -> r.pairs.count().toDouble,
      "kernel.pairs" -> m.getDouble(0),
      "kernel.dp_cells" -> m.getDouble(1),
      "kernel.match_frac" -> s.getDouble(1) / scored,
      "kernel.band_cutoff_frac" -> s.getDouble(2) / scored,
      "cc.clusters" -> r.clusters.select(col("clusterId")).distinct().count().toDouble)
  }
}

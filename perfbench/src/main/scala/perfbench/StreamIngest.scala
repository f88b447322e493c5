package perfbench

import graft.operators.HashToMin
import graft.sources.{CorpusGen, ParquetTableIO}
import graft.streaming.StreamingEr
import graft.util.Hashing
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** `stream_ingest`: the corpus hash-split by path into micro-batches, fed
  * through `StreamingEr.processBatchBucketed` over a fresh state root per
  * pass, deleted afterwards. Closed loop, one producer: the next batch is
  * sent when the previous call returns. The first batch of a process also
  * compiles the plans and warms the JIT, and the second compiles the
  * merge with earlier state: `op_p50_s` is the median of the later
  * batches, and `pass_s` is the whole pass. */
object StreamIngest {
  val Docs = 1000
  val Batches = 6
  /** Batches that also compile plans, left out of `op_p50_s`. */
  val Warm = 2

  def run(c: Ctx, t: Tally): Unit = {
    import c.spark
    val setup = c.writeInput(c.docs.getOrElse(Docs))
    val files = CorpusGen.corpus(spark, c.input)
    val split = (0 until Batches).map(b => files.filter(f =>
      math.floorMod(Hashing.hashString(f.path), Batches) == b))
    // (pass, batch) -> wall
    val walls = collection.mutable.LinkedHashMap.empty[(Int, Int), Double]
    val passWalls = ArrayBuffer.empty[Double]
    var peak = 0.0
    var quality = (0.0, 0.0)
    // a traced process makes an untraced pass, then the traced one
    for (p <- 0 until (if (c.trace) 2 else 1) if t.failed == 0) {
      val traced = c.trace && p == 1
      val root = new java.io.File(c.work, s"stream$p").getAbsolutePath
      val io = new ParquetTableIO(root)
      Checks.assertClean(spark, c.probe)
      c.probe.resetPeak()
      var state: Option[StreamingEr.ErState] = None
      def batch(b: Int) = StreamingEr.processBatchBucketed(spark, split(b), io, root,
        numBuckets = c.cores)
      def pass(): Unit = for (b <- split.indices if t.failed == 0) t.op(s"pass $p batch $b") {
        val (st, wall) = Stats.secs(
          if (traced) c.tracer("stream", "processBatchBucketed", s"pass$p/batch$b")(batch(b))
          else batch(b))
        walls((p, b)) = wall
        state = Some(st)
      }
      val (_, passWall) = Stats.secs(
        if (traced) c.tracer("op", "stream_ingest", s"pass$p")(pass()) else pass())
      passWalls += passWall
      peak = math.max(peak, c.probe.peakStoredBytes.toDouble)
      state.filter(_ => t.failed == 0).foreach { st =>
        val got = Checks.signature(st.clusters.select(col("id"), col("clusterId")))
        val want = Checks.signature(
          HashToMin.connectedComponents(st.matches, st.trees.toDF().select(col("id")))
            .select(col("id"), col("clusterId")))
        if (got != want) {
          // the final state is wrong: every batch of the pass failed
          t.failed += split.size - 1
          t.fail(s"pass $p clusters", s"$got != HashToMin $want")
        }
        t.check(s"pass $p signature", p == 0 || got.toString == t.signature,
          s"$got != ${t.signature}")
        t.signature = got.toString
        if (!traced) quality = Checks.clusterPairQuality(st.trees.toDF(), st.clusters)
      }
      if (traced) {
        c.probe.sync()
        t.metrics("stream.state_bytes_written") = c.probe.stagesOf(
          c.tracer.spans.map(_.id).toSet).map(_.output).sum.toDouble
      }
      cleanUp(c, root)
    }
    if (c.trace) {
      t.metrics ++= Layers.table(c.tracer.spans, c.probe, c.cores)
      // batches 0 and 1 of the untraced pass also compile the plans (the
      // first batch and the first merge with state): compare the rest
      def later(p: Int) = walls.collect { case ((`p`, b), w) if b >= Warm => w }.sum
      t.metrics("trace_overhead_frac") = later(1) / later(0) - 1
    } else {
      t.measured = passWalls.head
      t.metrics ++= Seq("setup_s" -> setup,
        "op_p50_s" -> Stats.median(walls.collect { case ((_, b), w) if b >= Warm => w }.toSeq),
        "pass_s" -> passWalls.head,
        "peak_storage_bytes" -> peak, "cluster_pair_recall" -> quality._1,
        "cluster_pair_precision" -> quality._2)
    }
  }

  /** Release what a pass persisted, drop the tables it registered in the
    * session catalog and delete its state root. */
  private def cleanUp(c: Ctx, root: String): Unit = {
    Checks.release(c.spark, c.probe)
    c.spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("bstream_"))
      .foreach(n => c.spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}

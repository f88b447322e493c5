package graft

import graft.SparkTestSession.withTempRoot
import graft.sources.{CorpusGen, ParquetTableIO}
import org.scalatest.funsuite.AnyFunSuite

class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("pipeline resumes from stage checkpoints (north_rule)") {
    withTempRoot("graft_ckpt") { root =>
      val io = new ParquetTableIO(root)
      val cfg = Pipeline.Config(io = Some(io))
      val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001")

      // first run writes every stage (forcing clusters walks the whole
      // chain; metrics is its own lazy side-band)
      val r1 = Pipeline.run(spark, files, cfg)
      val clusters1 = r1.clusters.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(r1.metrics.count() > 0)
      assert(io.exists(spark, "trees") && io.exists(spark, "pairs") &&
        io.exists(spark, "scores") && io.exists(spark, "matches") &&
        io.exists(spark, "clusters") && io.exists(spark, "metrics"))

      // simulate a failure after blocking: drop later stages, keep the rest
      for (t <- Seq("scores", "matches", "clusters")) {
        val p = new org.apache.hadoop.fs.Path(s"$root/$t")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      assert(!io.exists(spark, "scores") && io.exists(spark, "pairs"))

      // resume: earlier stages read back, later stages recomputed; results identical
      val r2 = Pipeline.run(spark, files, cfg)
      val clusters2 = r2.clusters.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(clusters2 == clusters1)

      // a half-written stage directory (no _SUCCESS) does not count as done
      val scoresPath = new org.apache.hadoop.fs.Path(s"$root/scores/_SUCCESS")
      val fs = scoresPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(scoresPath, false)
      assert(!io.exists(spark, "scores"), "_SUCCESS-gated atomicity")
    }
  }

  test("crash between scores and metrics writes: metrics regenerated, not zeroed") {
    withTempRoot("graft_ckpt2") { root =>
      val io = new ParquetTableIO(root)
      val cfg = Pipeline.Config(io = Some(io))
      val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001")
      val r1 = Pipeline.run(spark, files, cfg)
      val m1 = r1.metrics.count()
      assert(m1 > 0)
      // simulate the crash window: scores persisted, metrics lost
      val p = new org.apache.hadoop.fs.Path(s"$root/metrics")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val r2 = Pipeline.run(spark, files, cfg)
      assert(r2.metrics.count() == m1, "resumed metrics must be regenerated, not empty")
      assert(io.exists(spark, "metrics"))
    }
  }

  test("constructing a Result runs zero Spark jobs (stages are lazy)") {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001")
      // settle any in-flight listener events with a marker job: the bus
      // is FIFO, so once the marker's start event lands, everything
      // enqueued before it has been counted
      def settle(): Int = {
        val want = jobs + 1
        spark.range(1).count()
        val deadline = System.nanoTime() + 10e9.toLong
        while (jobs < want && System.nanoTime() < deadline) Thread.sleep(10)
        Thread.sleep(100) // absorb any stragglers enqueued before the marker
        jobs
      }
      // marker cost is config-dependent (AQE), so measure it empirically
      val s0 = settle()
      val markerCost = settle() - s0
      val before = settle()
      val r = Pipeline.run(spark, files)
      val after = settle()
      // the only new jobs must be the marker's own
      assert(after == before + markerCost,
        s"Result construction started ${after - before - markerCost} jobs")
      // forcing a stage DOES run jobs — sanity that the listener works
      r.trees.count()
      assert(settle() > after + markerCost)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

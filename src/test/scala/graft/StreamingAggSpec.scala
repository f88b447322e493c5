package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.IncrementalAgg
import graft.sources.ParquetTableIO
import graft.streaming.StreamingAgg
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming exact-aggregate fold must equal the one-pass batch
  * aggregate after any batch split, survive replay without
  * double-counting (generation discipline), and resume from the latest
  * complete generation. */
class StreamingAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, BigDecimal)] =
    df.select(col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap

  private lazy val full = asMap(
    IncrementalAgg.aggregate(events, Seq("event_type"), Seq("value")))

  test("3 MemoryStream batches fold to the one-pass aggregate exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withTempRoot("graft_sagg") { root =>
      val io = new ParquetTableIO(root)
      val rows = events.select($"event_type", $"value").as[(String, Double)].collect()
      val stream = MemoryStream[(String, Double)]
      val q = StreamingAgg.start(stream.toDS().toDF("event_type", "value"),
        Seq("event_type"), Seq("value"), io, s"$root/_ckpt")
      try {
        rows.grouped((rows.length + 2) / 3).foreach { chunk =>
          stream.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      assert(StreamingAgg.latestGen(spark, io).contains(2L))
      assert(asMap(StreamingAgg.state(spark, io).get) == full)
    }
  }

  test("replaying a batch recomputes its generation from the prior one — no double count") {
    withTempRoot("graft_saggrep") { root =>
      val io = new ParquetTableIO(root)
      val b0 = events.where(col("event_id") % 2 === 0)
      val b1 = events.where(col("event_id") % 2 =!= 0)
      StreamingAgg.processBatch(b0, 0L, Seq("event_type"), Seq("value"), io)
      StreamingAgg.processBatch(b1, 1L, Seq("event_type"), Seq("value"), io)
      val before = asMap(StreamingAgg.state(spark, io).get)
      // at-least-once: batch 1 re-delivered — must fold into gen 0 again,
      // not into its own complete gen 1 output
      StreamingAgg.processBatch(b1, 1L, Seq("event_type"), Seq("value"), io)
      assert(asMap(StreamingAgg.state(spark, io).get) == before)
      assert(before == full)
    }
  }

  test("a _compact_old table beside the generations: no crash, GC keeps Retain generations") {
    withTempRoot("graft_sagggc") { root =>
      val io = new ParquetTableIO(root)
      val part = (b: Int) => events.where(col("event_id") % 4 === b)
      StreamingAgg.processBatch(part(0), 0L, Seq("event_type"), Seq("value"), io)
      // a complete table ParquetTableIO.compact leaves mid-swap: it
      // shares the generations' prefix but is not a generation
      io.write(StreamingAgg.state(spark, io).get, "agg_state_b0_compact_old")
      for (b <- 1 until 4)
        StreamingAgg.processBatch(part(b), b.toLong, Seq("event_type"), Seq("value"), io)
      assert(StreamingAgg.latestGen(spark, io).contains(3L))
      assert(asMap(StreamingAgg.state(spark, io).get) == full)
      val gens = new java.io.File(root).list().filter(_.matches("agg_state_b\\d+")).sorted.toSeq
      assert(gens == Seq("agg_state_b2", "agg_state_b3"), s"generations on disk: $gens")
    }
  }
}

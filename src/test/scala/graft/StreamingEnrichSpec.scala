package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.Upsert
import graft.sources.ParquetTableIO
import graft.streaming.StreamingEnrich
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingEnrichSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("each micro-batch joins the dim snapshot current at its time; unmatched keys survive") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withTempRoot("graft_enrich") { root =>
      val io = new ParquetTableIO(root)
      val out = s"$root/enriched"

      val v1 = StreamingEnrich.publishDim(io, spark,
        Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment"), "dim")
      assert(v1 == 1)

      val src = MemoryStream[(Long, Long)]
      val q = StreamingEnrich.enrichedStream(
        src.toDF().toDF("user_id", "event_id"), io, "dim", "user_id", out)
      try {
        // batch against dim v1: user 7 has no dim row — must pass through
        src.addData((1L, 10L), (7L, 70L))
        q.processAllAvailable()

        // the SCD loop: the next snapshot is derived from the latest with
        // Upsert and PUBLISHED as a new version — no overwrite, so there
        // is no self-read race and no reader ever sees a half-written dim
        val v2 = StreamingEnrich.publishDim(io, spark,
          Upsert.upsert(StreamingEnrich.latestDim(io, spark, "dim").get,
            Seq((1L, "platinum"), (7L, "bronze")).toDF("user_id", "segment"), "user_id"),
          "dim")
        assert(v2 == 2)
        src.addData((1L, 11L), (7L, 71L))
        q.processAllAvailable()

        val rows = spark.read.parquet(out)
          .select($"event_id", $"segment")
          .as[(Long, Option[String])].collect().toSet
        assert(rows == Set(
          (10L, Some("gold")),     // batch 1: dim v1
          (70L, None),             // batch 1: unmatched key survives, null-enriched
          (11L, Some("platinum")), // batch 2: sees the published v2 snapshot
          (71L, Some("bronze"))),  // batch 2: newly-added dim key now matches
          s"got $rows")
        // each batch carries its id — replayed batches are identifiable
        val batches = spark.read.parquet(out).select($"batch_id").distinct().count()
        assert(batches == 2)
      } finally q.stop()

      // a HALF-WRITTEN newer version (no _SUCCESS) is invisible: the
      // resolver keeps serving v2
      val fake = new java.io.File(s"$root/dim_v3")
      fake.mkdirs()
      import spark.implicits._
      val latest = StreamingEnrich.latestDim(io, spark, "dim").get
        .where(col("user_id") === 1L).select(col("segment")).as[String].head()
      assert(latest == "platinum", "incomplete dim version must not be served")

      // pruning keeps the newest versions only
      StreamingEnrich.pruneDimVersions(io, spark, "dim", retain = 1)
      assert(!io.exists(spark, "dim_v1") && io.exists(spark, "dim_v2"))
    }
  }
}

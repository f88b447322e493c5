package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.Sketches
import graft.sources.ParquetTableIO
import graft.streaming.StreamingSketch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming sketch table must give EXACTLY the one-pass batch
  * estimate (HLL union is register-wise max — split-independent), stay
  * kilobyte-sized per batch, and be idempotent under batch replay. */
class StreamingSketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  private def estMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(r.length - 1)).toMap

  test("3 MemoryStream batches: merged streaming estimate == one-pass batch estimate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withTempRoot("graft_sksink") { root =>
      val io = new ParquetTableIO(root)

      val rows = events.select($"event_type", $"event_id")
        .as[(String, Long)].collect()
      val stream = MemoryStream[(String, Long)]
      val q = StreamingSketch.start(
        stream.toDS().toDF("event_type", "event_id"),
        Seq("event_type"), "event_id", io, s"$root/_ckpt")
      try {
        rows.grouped((rows.length + 2) / 3).foreach { chunk =>
          stream.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally q.stop()

      val streamed = estMap(StreamingSketch.estimate(spark, io, Seq("event_type")))
      val direct = estMap(Sketches.hllDirectEstimate(events, Seq("event_type"), "event_id"))
      assert(streamed == direct,
        "streaming-maintained sketch table diverged from the one-pass sketch")
      // the state really is sketches, not rows: each shard table is tiny
      val nShardRows = StreamingSketch.partials(spark, io).count()
      assert(nShardRows <= 3 * 5, s"expected ≤ (batches × groups) sketch rows, got $nShardRows")
    }
  }

  test("theta stream: merged estimate == one-pass batch sketch; streamed sketches do set algebra") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.DsSketches
    implicit val sqlCtx = spark.sqlContext
    withTempRoot("graft_sktheta") { root =>
      val io = new ParquetTableIO(root)

      val rows = events.select($"event_type", $"user_id").as[(String, Long)].collect()
      val stream = MemoryStream[(String, Long)]
      val q = StreamingSketch.startWith(
        stream.toDS().toDF("event_type", "user_id"), s"$root/_ckpt") { (b, id) =>
        StreamingSketch.processBatchTheta(b, id, Seq("event_type"), "user_id", io)
      }
      try {
        rows.grouped((rows.length + 2) / 3).foreach { chunk =>
          stream.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally q.stop()

      // exact mode: streamed-merged == direct == exact distinct, exactly
      val streamed = StreamingSketch.thetaEstimate(spark, io, Seq("event_type"))
        .collect().map(r => r.getString(0) -> r.getAs[Double]("est")).toMap
      val exact = events.groupBy($"event_type").agg(countDistinct($"user_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      assert(streamed == exact, "streamed theta diverged from exact distinct")

      // set algebra straight off the STREAMED sketch table: |click ∩ view|
      val sk = StreamingSketch.thetaSketches(spark, io, Seq("event_type"))
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Array[Byte]]("sketch")).toMap
      val inter = DsSketches.thetaIntersectPair(lit(sk("click")), lit(sk("view")))
      val got = spark.range(1).select(DsSketches.thetaEstimate(inter)).head().getDouble(0)
      val want = events.where($"event_type" === "click").select($"user_id").distinct()
        .intersect(events.where($"event_type" === "view").select($"user_id").distinct())
        .count().toDouble
      assert(got == want, s"streamed-sketch intersection $got != exact $want")

      // replay idempotency: re-fold a full copy of the data as one more
      // batch — a theta UNION of an already-included set changes nothing
      StreamingSketch.processBatchTheta(events, 99L, Seq("event_type"), "user_id", io)
      val after = StreamingSketch.thetaEstimate(spark, io, Seq("event_type"))
        .collect().map(r => r.getString(0) -> r.getAs[Double]("est")).toMap
      assert(after == streamed)
    }
  }

  test("kll + freq streams: live quantiles rank-green, heavy hitters bounded, replay-safe") {
    import graft.operators.DsSketches
    withTempRoot("graft_skkf") { root =>
      val io = new ParquetTableIO(root)
      val b0 = events.where(col("event_id") % 3 === 0)
      val b1 = events.where(col("event_id") % 3 === 1)
      val b2 = events.where(col("event_id") % 3 === 2)
      val key = least(col("user_id") % 100, lit(10)).cast("long")
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        StreamingSketch.processBatchKll(b, i, Seq("event_type"), "value", io)
        StreamingSketch.processBatchFreq(b, i, key, io)
      }
      // live quantiles from the streamed sketch table pass the rank check
      val est = StreamingSketch.kllQuantiles(spark, io, Seq("event_type"),
        Seq(0.25, 0.5, 0.75))
      val checked = DsSketches.rankCheck(events, est, Seq("event_type"), "value",
        DsSketches.kllRankEps()).collect()
      assert(checked.length == 15)
      assert(checked.forall(_.getAs[Boolean]("rank_ok")),
        checked.filterNot(_.getAs[Boolean]("rank_ok")).mkString("; "))
      // live heavy hitters: bounds bracket exact counts of the full table
      val exact = events.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val items = StreamingSketch.freqItems(spark, io).collect()
      assert(items.nonEmpty)
      items.foreach { r =>
        val (item, lb, ub) = (r.getAs[Long]("item"), r.getAs[Long]("lb"), r.getAs[Long]("ub"))
        val x = exact.getOrElse(item, 0L)
        assert(lb <= x && x <= ub, s"item $item: exact=$x outside [$lb,$ub]")
      }
      // at-least-once replay: batch 2 re-delivered — the batch-numbered
      // table OVERWRITES (no double count), so the guarantees still hold
      // against the unchanged exact counts. Est values may legally shift
      // (Misra-Gries is arrival-order-dependent); the bounds may not.
      StreamingSketch.processBatchKll(b2, 2, Seq("event_type"), "value", io)
      StreamingSketch.processBatchFreq(b2, 2, key, io)
      val items2 = StreamingSketch.freqItems(spark, io).collect()
      items2.foreach { r =>
        val x = exact.getOrElse(r.getAs[Long]("item"), 0L)
        assert(r.getAs[Long]("lb") <= x && x <= r.getAs[Long]("ub"),
          s"post-replay item ${r.getAs[Long]("item")}: exact=$x outside bounds")
      }
      // the dominant key (bucket 10 absorbs ~90% of rows) must survive replay
      assert(items2.map(_.getAs[Long]("item")).contains(10L))
      val rechecked = DsSketches.rankCheck(events,
        StreamingSketch.kllQuantiles(spark, io, Seq("event_type"), Seq(0.25, 0.5, 0.75)),
        Seq("event_type"), "value", DsSketches.kllRankEps()).collect()
      assert(rechecked.forall(_.getAs[Boolean]("rank_ok")))
    }
  }

  test("tuple + reservoir + varopt streams: one ingest maintains all three, guarantees hold at read") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.DsSketches
    implicit val sqlCtx = spark.sqlContext
    withTempRoot("graft_sksamp") { root =>
      val io = new ParquetTableIO(root)

      val rows = events.select($"event_type", $"event_id", $"user_id", $"value")
        .as[(String, Long, Long, Double)].collect()
      val stream = MemoryStream[(String, Long, Long, Double)]
      val q = StreamingSketch.startWith(
        stream.toDS().toDF("event_type", "event_id", "user_id", "value"),
        s"$root/_ckpt") { (b, id) =>
        // one micro-batch, three sketch tables — b is reused, so compute once
        val batch = b.cache()
        try {
          StreamingSketch.processBatchTuple(batch, id, Seq("event_type"), "user_id", "value", io)
          StreamingSketch.processBatchReservoir(batch, id, Seq("event_type"), "event_id", io)
          StreamingSketch.processBatchVarOpt(batch, id, Seq("event_type"), "event_id", "value", io)
        } finally batch.unpersist()
      }
      try {
        rows.grouped((rows.length + 2) / 3).foreach { chunk =>
          stream.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally q.stop()

      val exact = events.groupBy($"event_type").agg(
          countDistinct($"user_id").as("u"), count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,6)")).cast("double").as("w"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val ids = events.select($"event_type", $"event_id").as[(String, Long)]
        .collect().groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSet }

      // tuple: exact mode — streamed-merged distinct users + value sums exact
      val tup = StreamingSketch.tupleSketches(spark, io, Seq("event_type"))
        .select($"event_type", DsSketches.tupleEstimate($"sketch").as("u"),
          DsSketches.tupleSumEstimate($"sketch").as("s"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      for ((g, (u, _, w)) <- exact) {
        assert(tup(g)._1 == u.toDouble, s"$g streamed tuple distinct")
        assert(math.abs(tup(g)._2 - w) <= 1e-6 * math.abs(w) + 1e-6, s"$g streamed tuple sum")
      }

      // reservoir: a VALID uniform k-sample of everything streamed so far
      val res = StreamingSketch.reservoirSketches(spark, io, Seq("event_type"))
        .select($"event_type", DsSketches.reservoirN($"sketch").as("n"),
          DsSketches.reservoirSamples($"sketch").as("s"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
      for ((g, (_, n, _)) <- exact) {
        val (rn, sample) = res(g)
        assert(rn == n, s"$g streamed reservoir n")
        assert(sample.size == math.min(DsSketches.ReservoirK.toLong, n), s"$g sample size")
        assert(sample.forall(ids(g)), s"$g non-member in streamed sample")
      }

      // varopt: total weight preserved exactly across batch unions — the
      // aggregate skips non-positive weights by design, so the exact side
      // must filter value > 0 too (not just rely on the data having none)
      val exactPos = events.filter($"value" > 0).groupBy($"event_type").agg(
          count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,6)")).cast("double").as("w"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val vo = StreamingSketch.varoptSketches(spark, io, Seq("event_type"))
        .select($"event_type", DsSketches.varoptTotalWeight($"sketch").as("w"),
          DsSketches.varoptSamples($"sketch").as("s"))
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(1), r.getSeq[org.apache.spark.sql.Row](2)))).toMap
      for ((g, (n, w)) <- exactPos) {
        val (vw, sample) = vo(g)
        assert(math.abs(vw - w) <= 1e-6 * math.abs(w) + 1e-6, s"$g streamed varopt weight")
        assert(sample.size == math.min(DsSketches.VarOptK.toLong, n), s"$g sample size")
        assert(sample.forall(r => ids(g)(r.getLong(0))), s"$g non-member in weighted sample")
      }

      // replay idempotency for the TABLE layout: re-writing a batch table
      // overwrites in place, so the partial count stays (batches × groups)
      val nTup = StreamingSketch.tupleSketches(spark, io, Seq("event_type")).count()
      StreamingSketch.processBatchTuple(
        events.where(col("event_id") % 3 === 0), 0L, Seq("event_type"), "user_id", "value", io)
      assert(StreamingSketch.tupleSketches(spark, io, Seq("event_type")).count() == nTup)
    }
  }

  test("replaying a batch overwrites the same shard table — estimate unchanged (idempotent)") {
    withTempRoot("graft_skrep") { root =>
      val io = new ParquetTableIO(root)
      val b0 = events.where(col("event_id") % 2 === 0)
      val b1 = events.where(col("event_id") % 2 =!= 0)
      StreamingSketch.processBatch(b0, 0L, Seq("event_type"), "event_id", io)
      StreamingSketch.processBatch(b1, 1L, Seq("event_type"), "event_id", io)
      val before = estMap(StreamingSketch.estimate(spark, io, Seq("event_type")))
      // at-least-once delivery: batch 1 re-processed
      StreamingSketch.processBatch(b1, 1L, Seq("event_type"), "event_id", io)
      val after = estMap(StreamingSketch.estimate(spark, io, Seq("event_type")))
      assert(after == before)
      val direct = estMap(Sketches.hllDirectEstimate(events, Seq("event_type"), "event_id"))
      assert(after == direct)
    }
  }
}

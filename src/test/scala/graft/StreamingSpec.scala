package graft

import graft.SparkTestSession.withTempRoot
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming windowed aggregation equals its batch twin") {
    import spark.implicits._
    val q = StreamingIngest.startMemoryStream(spark, "/root/testdata/sf0.001", "ev_win")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_win")
      val batch = StreamingIngest.windowedAgg(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      assert(streamed.count() > 0)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
      // and consistent with the oracle-checked q_events_window shape
      val viaQuery = RelQueries.queries("q_events_window")(spark, "/root/testdata/sf0.001")
      val agg = streamed.groupBy($"win_start".cast("long").as("win_start"), $"event_type")
        .agg(sum($"n").as("n"), sum($"sum_value").as("sum_value"))
      assert(agg.count() == viaQuery.count())
    } finally q.stop()
  }

  test("append mode emits each finalized window exactly once after watermark passage") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int, sec: Int = 0): java.sql.Timestamp =
      new java.sql.Timestamp((min * 60L + sec) * 1000L)
    val src = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = src.toDF().toDF("ts", "event_type", "value")
    val q = StreamingIngest.startAppendMemoryStream(events, "ev_append")
    def sink() = spark.table("ev_append")
    try {
      // batch 1: two events in window [0,5) and one in [5,10); the
      // watermark (max ts − 10 min) is still before every window end, so
      // append emits NOTHING yet
      src.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(6), "a", 4.0))
      q.processAllAvailable()
      assert(sink().count() == 0)

      // batch 2: event at 16 min → watermark 6 min > window [0,5) end →
      // that window (and only it) is finalized and emitted, exactly once
      src.addData((ts(16), "a", 8.0))
      q.processAllAvailable()
      val afterB2 = sink().select($"win_start".cast("long"), $"event_type", $"n", $"sum_value")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(afterB2 == Set((0L, "a", 2L, 3.0)))

      // batch 3: event at 31 min → watermark 21 min → windows [5,10) and
      // [15,20) finalize. A LATE event for [0,5) arrives behind the
      // watermark in the same batch: dropped, no re-emission of [0,5).
      src.addData((ts(31), "a", 16.0), (ts(3), "a", 99.0))
      q.processAllAvailable()
      val afterB3 = sink().select($"win_start".cast("long"), $"event_type", $"n", $"sum_value")
        .as[(Long, String, Long, Double)].collect().toSeq
      assert(afterB3.toSet == Set(
        (0L, "a", 2L, 3.0), (300L, "a", 1L, 4.0), (900L, "a", 1L, 8.0)))
      // exactly-once: no window ever appears twice in the append stream
      assert(afterB3.size == afterB3.toSet.size)
      // the still-open window [30,35) is not emitted
      assert(!afterB3.exists(_._1 == 1800L))
    } finally q.stop()
  }

  test("append stream with durable checkpoint: restart emits each window once, never twice") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the production shape from StreamingIngest's scaladoc: file source →
    // append windows → parquet sink, with checkpointLocation on durable
    // storage; a NEW query incarnation must continue from the commit log
    // and never re-emit a finalized window
    withTempRoot("graft_append_ckpt") { base =>
      val (srcDir, ckpt, sinkDir) = (s"$base/src", s"$base/ckpt", s"$base/sink")
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("ts", TimestampType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(min * 60L * 1000L)
      def writeBatch(rows: Seq[(java.sql.Timestamp, String, Double)]): Unit =
        rows.toDF("ts", "event_type", "value").coalesce(1)
          .write.mode("append").parquet(srcDir)
      def startQuery() =
        StreamingIngest.windowedAgg(spark.readStream.schema(schema).parquet(srcDir))
          .writeStream.outputMode("append").format("parquet")
          .option("path", sinkDir).option("checkpointLocation", ckpt).start()

      // incarnation 1: windows [0,5) and [5,10) plus an event at 16 min —
      // watermark 6 min finalizes [0,5) only
      writeBatch(Seq((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(6), "a", 4.0),
        (ts(16), "a", 8.0)))
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      val afterQ1 = spark.read.parquet(sinkDir).select($"win_start".cast("long"))
        .as[Long].collect().toSeq
      assert(afterQ1.sorted == Seq(0L), s"incarnation 1 should emit exactly [0,5): $afterQ1")

      // incarnation 2: NEW query, same checkpoint; an event at 31 min moves
      // the watermark to 21 min → [5,10) and [15,20) finalize; [0,5) must
      // NOT be re-emitted even though its source file is re-listable
      writeBatch(Seq((ts(31), "a", 16.0)))
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()
      val sink = spark.read.parquet(sinkDir)
        .select($"win_start".cast("long"), $"event_type", $"n", $"sum_value")
        .as[(Long, String, Long, Double)].collect().toSeq
      assert(sink.toSet == Set(
        (0L, "a", 2L, 3.0), (300L, "a", 1L, 4.0), (900L, "a", 1L, 8.0)))
      assert(sink.size == sink.toSet.size, s"duplicate window emission across restart: $sink")
    }
  }

  test("sessionization: flatMapGroupsWithState closes sessions on in-stream gaps and event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Long)] // (user_id, epoch seconds)
    val events = src.toDS().toDF("user_id", "sec")
      .select($"user_id", $"sec".cast("timestamp").as("ts"))
    val q = StreamingIngest.sessionize(events, gapSeconds = 120)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      // base B > 0: the initial watermark is 0 and rows at-or-before the
      // watermark are dropped as late, so the timeline starts above it
      val B = 1000000L
      // u1: three events B..B+60 (one session), then B+1000 (in-stream gap)
      src.addData((1L, B), (1L, B + 30), (1L, B + 60), (2L, B)); q.processAllAvailable()
      src.addData((1L, B + 1000), (99L, B + 10000)); q.processAllAvailable()
      src.addData((100L, B + 100000)); q.processAllAvailable() // advance watermark
      src.addData((101L, B + 200000)); q.processAllAvailable() // flush timeouts
      val got = spark.table("sessions")
        .select($"user_id", $"start_ts", $"end_ts", $"n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val expected = Set(
        (1L, B, B + 60, 3L),              // split from B+1000 by the gap
        (1L, B + 1000, B + 1000, 1L),
        (2L, B, B, 1L),
        (99L, B + 10000, B + 10000, 1L))  // all closed by watermark/timeout
      assert(expected.subsetOf(got), s"missing sessions: ${expected -- got}; got $got")
      // no session row duplicated
      assert(spark.table("sessions").count() == got.size)
    } finally q.stop()
  }

  test("sessionize with out-of-order arrivals inside the watermark delay still equals the batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val B = 1000000L
    val src = MemoryStream[(Long, Long)]
    val events = src.toDS().toDF("user_id", "sec")
      .select($"user_id", $"sec".cast("timestamp").as("ts"))
    val q = StreamingIngest.sessionize(events, gapSeconds = 120, watermarkDelay = "500 seconds")
      .toDF().writeStream.outputMode("append").format("memory").queryName("sessions_ooo").start()
    try {
      src.addData((1L, B + 1000)); q.processAllAvailable()
      // LATE but inside the 500 s delay: B+900/B+905 extend the open
      // session leftward/inside; B+2000 and B+2240 open two islands
      // 240 s apart (> gap)
      src.addData((1L, B + 900), (1L, B + 905), (1L, B + 2000), (1L, B + 2240))
      q.processAllAvailable()
      // a later arrival lands BETWEEN the two islands and bridges them
      // (120 s to each side) — the case single-open-session state loses
      src.addData((1L, B + 2120)); q.processAllAvailable()
      src.addData((-1L, B + 100000)); q.processAllAvailable()   // advance watermark
      src.addData((-2L, B + 200000)); q.processAllAvailable()   // flush timeouts
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
        df.select($"user_id", $"start_ts", $"end_ts", $"n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val got = rows(spark.table("sessions_ooo").where($"user_id" >= 0))
      val batchEvents = Seq((1L, B + 1000), (1L, B + 900), (1L, B + 905),
        (1L, B + 2000), (1L, B + 2240), (1L, B + 2120))
        .toDF("user_id", "sec").select($"user_id", $"sec".cast("timestamp").as("ts"))
      val expected = rows(StreamingIngest.sessionizeBatch(batchEvents, 120))
      assert(got == expected,
        s"out-of-order stream must match batch: only-stream=${got -- expected}, only-batch=${expected -- got}")
    } finally q.stop()
  }

  test("sessionize: the stream equals the batch twin on the real events table once all sessions close") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = raw.select($"user_id".cast("long"), unix_timestamp($"ts").as("sec"))
      .as[(Long, Long)].collect().sortBy(_._2)
    // two time-ordered batches split STRICTLY (watermark after batch 1 =
    // its max event time; an equal-time event in batch 2 would be late)
    val mid = ev(ev.length / 2)._2
    val (b1, b2) = (ev.filter(_._2 <= mid), ev.filter(_._2 > mid))
    val far = ev.map(_._2).max + 1000000L

    val src = MemoryStream[(Long, Long)]
    val events = src.toDS().toDF("user_id", "sec")
      .select($"user_id", $"sec".cast("timestamp").as("ts"))
    val q = StreamingIngest.sessionize(events, gapSeconds = 1800L).toDF()
      .writeStream.outputMode("append").format("memory").queryName("sessions_eq").start()
    try {
      src.addData(b1.toSeq); q.processAllAvailable()
      src.addData(b2.toSeq); q.processAllAvailable()
      src.addData((-1L, far)); q.processAllAvailable()     // advance watermark
      src.addData((-2L, far + 1000000L)); q.processAllAvailable() // flush timeouts
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
        df.select($"user_id", $"start_ts", $"end_ts", $"n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val got = rows(spark.table("sessions_eq").where($"user_id" >= 0))
      val batch = rows(StreamingIngest.sessionizeBatch(raw, 1800L))
      assert(got == batch,
        s"stream/batch session mismatch: only-stream=${got -- batch}, only-batch=${batch -- got}")
    } finally q.stop()
  }

  test("sessionize: randomized stream/batch differential over 3 seeds") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val B = 1000000L
    for (seed <- Seq(11L, 22L, 33L)) {
      val rnd = new scala.util.Random(seed)
      val events = Seq.fill(80)((rnd.nextInt(5).toLong + 1, B + rnd.nextInt(5000).toLong))
      val sorted = events.sortBy(_._2)
      // contiguous time-ordered chunks with STRICT ts boundaries (delay
      // 0: an event at-or-before the watermark would be dropped)
      val dts = sorted.map(_._2).distinct
      val cuts = Seq(dts(dts.size / 4), dts(dts.size / 2), dts(3 * dts.size / 4))
      val chunks = Seq(
        sorted.filter(_._2 <= cuts(0)),
        sorted.filter(e => e._2 > cuts(0) && e._2 <= cuts(1)),
        sorted.filter(e => e._2 > cuts(1) && e._2 <= cuts(2)),
        sorted.filter(_._2 > cuts(2)))
      val src = MemoryStream[(Long, Long)]
      val sink = s"sessions_rand_$seed"
      val q = StreamingIngest.sessionize(
        src.toDS().toDF("user_id", "sec")
          .select($"user_id", $"sec".cast("timestamp").as("ts")), gapSeconds = 300)
        .toDF().writeStream.outputMode("append").format("memory").queryName(sink).start()
      try {
        chunks.foreach { c => src.addData(c); q.processAllAvailable() }
        src.addData((-1L, B + 1000000L)); q.processAllAvailable()
        src.addData((-2L, B + 2000000L)); q.processAllAvailable()
        def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
          df.select($"user_id", $"start_ts", $"end_ts", $"n_events")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val got = rows(spark.table(sink).where($"user_id" >= 0))
        val expected = rows(StreamingIngest.sessionizeBatch(
          events.toDF("user_id", "sec")
            .select($"user_id", $"sec".cast("timestamp").as("ts")), 300))
        assert(got == expected, s"seed $seed: only-stream=${got -- expected}, " +
          s"only-batch=${expected -- got}")
      } finally q.stop()
    }
  }

  test("stateful stream: per-user running stats via the library mapGroupsWithState operator") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val events = spark.readStream
      .schema(StreamingIngest.eventSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val q = StreamingIngest.runningUserStats(events)
      .toDF("user_id", "n_events", "sum_value").writeStream
      .outputMode(OutputMode.Update).format("memory").queryName("user_stats").start()
    try {
      q.processAllAvailable()
      // the latest state per user must equal a batch groupBy
      val got = spark.table("user_stats")
        .groupBy($"user_id").agg(max($"n_events").as("n_events"))
      val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      val expected = batch.groupBy($"user_id").agg(count(lit(1)).as("n_events"))
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
      // value sums too (float-tolerant compare)
      val gotSum = spark.table("user_stats")
        .groupBy($"user_id").agg(max($"sum_value").as("s"))
        .agg(sum($"s")).head().getDouble(0)
      val expSum = batch.agg(sum($"value")).head().getDouble(0)
      assert(math.abs(gotSum - expSum) < 1e-6 * math.max(1.0, math.abs(expSum)))
    } finally q.stop()
  }
}

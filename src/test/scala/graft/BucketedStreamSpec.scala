package graft

import graft.SparkTestSession.withTempRoot
import graft.model.FileRow
import graft.operators.{Blocking, CandidateGen, ParseStage}
import graft.sources.{BucketedState, CorpusGen, ParquetTableIO}
import graft.streaming.StreamingEr
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed streaming path must deliver BOTH halves of its claim:
  *
  *  1. Semantics: capped-array state merged per batch produces exactly
  *     the batch pipeline's clusters and match set on a corpus whose
  *     blocks stay under the cap (cap subset-monotonicity:
  *     cap(old ∪ new) = cap(cap(old) ∪ new); the overflow corner is in
  *     StreamingErSpec), and the path is self-resuming from storage
  *     alone.
  *  2. Plan: the state side of the merge reads pre-distributed — the
  *     batch's only exchange is the delta's aggregation, strictly fewer
  *     exchanges than the same merge over plain-parquet state. This is
  *     the local demonstration of the 10^12-file incremental shape:
  *     per-batch shuffle volume proportional to the DELTA, never the
  *     cumulative index.
  */
class BucketedStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def exchanges(s: String): Int =
    s.linesIterator.count(_.matches(".*\\bExchange \\(\\d+\\).*"))

  private def setOf(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("bucketed-state stream == batch pipeline (clusters AND matches), resumes from storage") {
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001").persist()
    def part(b: Int) = files.filter((f: FileRow) =>
      math.floorMod(graft.util.Hashing.hashString(f.path), 3) == b)
    try withTempRoot("graft_bstream") { root =>
      val io = new ParquetTableIO(root)
      // no prev handle passed: every call resumes from storage, so the
      // "kill between batches" case is exercised by construction
      val buck = (0 until 3).map(b =>
        StreamingEr.processBatchBucketed(spark, part(b), io, root, numBuckets = 4)).last
      assert(buck.batchesSeen == 3)
      // blocks stay under the cap on this corpus, so the stream lands on
      // the batch pipeline's exact match edges and clusters
      val batch = Pipeline.run(spark, files)
      assert(setOf(buck.matches) == setOf(batch.matches), "match edge sets differ")
      assert(setOf(buck.clusters) == setOf(batch.clusters), "cluster assignments differ")
    } finally files.unpersist()
  }

  test("bucketed query restart: a NEW streaming query continues from storage") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001")
      .filter((f: FileRow) => math.floorMod(graft.util.Hashing.hashString(f.path), 10) == 2)
      .collect()
    val (b1, b2) = files.splitAt(files.length / 2)
    withTempRoot("graft_bstream_rq") { root =>
      val io = new ParquetTableIO(root)

      val s1 = MemoryStream[FileRow]
      val q1 = StreamingEr.startCheckpointedBucketed(spark, s1.toDS(), io, root, 4) { _ => () }
      try { s1.addData(b1.toSeq); q1.processAllAvailable() } finally q1.stop()

      val s2 = MemoryStream[FileRow]
      @volatile var last: Option[StreamingEr.ErState] = None
      val q2 = StreamingEr.startCheckpointedBucketed(spark, s2.toDS(), io, root, 4) { st => last = Some(st) }
      try { s2.addData(b2.toSeq); q2.processAllAvailable() } finally q2.stop()

      assert(last.isDefined && last.get.batchesSeen == 2)
      val batchClusters = setOf(Pipeline.run(spark, spark.createDataset(files.toSeq)).clusters)
      assert(setOf(last.get.clusters) == batchClusters)
    }
  }

  test("6-batch run with mid-stream process restart: flat-ish per-batch time, catalog-loss re-registration") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001")
      .filter((f: FileRow) => math.floorMod(graft.util.Hashing.hashString(f.path), 4) == 1)
      .collect()
    def part(b: Int) = files.filter(f =>
      math.floorMod(graft.util.Hashing.hashString(f.path), 6) == b).toSeq
    withTempRoot("graft_bstream_6b") { root =>
      val io = new ParquetTableIO(root)

      val times = Array.fill(6)(0.0)
      def drive(s: MemoryStream[FileRow], q: org.apache.spark.sql.streaming.StreamingQuery,
                batches: Range): Unit =
        batches.foreach { b =>
          val t0 = System.nanoTime()
          s.addData(part(b)); q.processAllAvailable()
          times(b) = (System.nanoTime() - t0) / 1e9
        }

      @volatile var last: Option[StreamingEr.ErState] = None
      val s1 = MemoryStream[FileRow]
      val q1 = StreamingEr.startCheckpointedBucketed(spark, s1.toDS(), io, root, 4) { st => last = Some(st) }
      try drive(s1, q1, 0 until 3) finally q1.stop()

      // simulate a PROCESS restart between queries: the session catalog
      // (which carries the bucket layout) is wiped, only storage remains —
      // the next batch must RE-REGISTER the bucketed tables from their
      // files (BucketedState.register) and still resume exactly
      val tag = java.lang.Long.toHexString(graft.util.Hashing.hashString(root) & 0xffffffffL)
      val stateTables = spark.sql("SHOW TABLES").collect()
        .map(_.getAs[String]("tableName")).filter(_.startsWith(s"bstream_${tag}_"))
      assert(stateTables.nonEmpty, "expected bucketed state tables in the catalog")
      stateTables.foreach(t => spark.sql(s"DROP TABLE $t"))

      val s2 = MemoryStream[FileRow]
      val q2 = StreamingEr.startCheckpointedBucketed(spark, s2.toDS(), io, root, 4) { st => last = Some(st) }
      try drive(s2, q2, 3 until 6) finally q2.stop()

      assert(last.isDefined && last.get.batchesSeen == 6)
      val batchClusters = setOf(Pipeline.run(spark, spark.createDataset(files.toSeq)).clusters)
      assert(setOf(last.get.clusters) == batchClusters,
        "6-batch incremental clusters must equal the batch pipeline across the restart")
      // generation GC (retain=2): only generations 4,5 remain on disk
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val idxGens = fs.listStatus(rootPath).map(_.getPath.getName)
        .filter(_.startsWith("bstream_index_b")).map(_.stripPrefix("bstream_index_b").toInt)
        .sorted.toSeq
      assert(idxGens == Seq(4, 5), s"expected GC to keep only gens 4,5; found $idxGens")
      // coarse no-growth lock: if per-batch cost were proportional to the
      // cumulative history (the full-index anti-shape), batch 5 would run
      // ~4-5x batch 1; allow generous shared-host noise but catch that
      val base = math.max(times(1), times(2))
      assert(math.max(times(4), times(5)) <= 3.0 * base + 2.0,
        s"per-batch time grew with history: ${times.mkString(", ")}")
    }
  }

  test("legacy untagged state under the TableIO root is refused loudly, not silently restarted") {
    import spark.implicits._
    val batch = CorpusGen.corpus(spark, "/root/testdata/sf0.001").limit(5)
    withTempRoot("graft_bstream_legacy") { root =>
      val io = new ParquetTableIO(root)
      // state written by a pre-tag version: untagged table names
      io.write(Seq(("x", "x")).toDF("id", "clusterId"), "bstream_clusters_b0")
      val e = intercept[IllegalStateException] {
        StreamingEr.processBatchBucketed(spark, batch, io, root, numBuckets = 4)
      }
      assert(e.getMessage.contains("legacy untagged state"),
        s"expected the legacy-state refusal, got: ${e.getMessage}")
    }
  }

  test("merge over bucketed state: only the delta shuffles") {
    import spark.implicits._
    val cfg = Blocking.BlockingConfig()
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001").persist()
    def part(b: Int) = files.filter((f: FileRow) =>
      math.floorMod(graft.util.Hashing.hashString(f.path), 3) == b)
    withTempRoot("graft_bstream_plan") { root =>

      // batch-0 state, written both ways: bucketed and plain parquet
      val keyed0 = Blocking.keyedIds(ParseStage.parse(part(0)), cfg)
      val idx0 = CandidateGen.mergeCappedMembers(None, keyed0, cfg.maxBlockSize)
        .select($"key", $"members")
      val nBuckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
      BucketedState.write(idx0, "bstream_spec_idx", s"$root/idx_bucketed", nBuckets, "key")
      idx0.write.parquet(s"$root/idx_plain")

      val newKeyed = Blocking.keyedIds(ParseStage.parse(part(1)), cfg)
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val overBucketed = fmt(CandidateGen.mergeCappedMembers(
          Some(BucketedState.read(spark, "bstream_spec_idx")), newKeyed, cfg.maxBlockSize))
        val overPlain = fmt(CandidateGen.mergeCappedMembers(
          Some(spark.read.parquet(s"$root/idx_plain")), newKeyed, cfg.maxBlockSize))
        // plain state re-shuffles the cumulative index every batch; the
        // bucketed state contributes zero exchanges — with numBuckets ==
        // shuffle partitions the delta's aggregation exchange is the ONLY
        // one in the whole merge
        assert(exchanges(overBucketed) < exchanges(overPlain),
          s"bucketed merge must shuffle strictly less\n--- bucketed:\n$overBucketed\n--- plain:\n$overPlain")
        assert(exchanges(overBucketed) == 1,
          s"expected the delta aggregation to be the only exchange\n$overBucketed")
        // pair emission from the merged index is pure array algebra: the
        // whole candidate plan holds exactly ONE join (the state merge) and
        // exactly TWO exchanges (delta aggregation + the distinct)
        val pairs = fmt(CandidateGen.pairsWithNewMember(CandidateGen.mergeCappedMembers(
          Some(BucketedState.read(spark, "bstream_spec_idx")), newKeyed, cfg.maxBlockSize)))
        val joins = pairs.linesIterator.count(_.matches(".*Join .*\\(\\d+\\).*"))
        assert(joins == 1, s"pair emission must not add joins (found $joins)\n$pairs")
        assert(exchanges(pairs) == 2,
          s"expected delta-agg + distinct to be the only exchanges\n$pairs")
        // storage-prune evidence for the 10^12 deployment claim: an
        // equality probe on the bucket column scans ONE bucket, not the
        // table — with Iceberg bucket partitions this is the same prune
        // the per-batch merge applies to untouched buckets. (Spark's
        // auto-bucketed-scan heuristic skips the bucketed layout for a
        // bare filter, so pin it on for the probe.)
        val someKey = BucketedState.read(spark, "bstream_spec_idx")
          .select($"key").head().getLong(0)
        val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        try {
          val prunedScan = fmt(BucketedState.read(spark, "bstream_spec_idx")
            .where($"key" === someKey))
          assert(prunedScan.contains(s"SelectedBucketsCount: 1 out of $nBuckets"),
            s"bucket pruning must select a single bucket\n$prunedScan")
        } finally
          spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.sql("DROP TABLE IF EXISTS bstream_spec_idx")
        files.unpersist()
      }
    }
  }
}

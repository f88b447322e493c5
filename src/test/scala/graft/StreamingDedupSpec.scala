package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.Dedup
import graft.sources.ParquetTableIO
import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming dedup twin must deliver: (1) cumulative pairs equal to
  * the batch near-dup pair set when blocks stay under cap, across
  * storage-only resume and a simulated process restart; (2) natural
  * idempotency under at-least-once replay (set-union state + distinct
  * pair union — no replay guard needed).
  */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("4 batches, storage-only resume + catalog loss: pairs equal the batch path") {
    withTempRoot("graft_dstream") { root =>
      val io = new ParquetTableIO(root)
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", $"text")
      def part(b: Int) = docs.where(pmod($"doc_id", lit(4)) === b)

      var st: StreamingDedup.DedupState = null
      for (b <- 0 until 4) {
        if (b == 2) {
          // simulate a process restart mid-stream: wipe the catalog
          // entries; the next batch must re-register the bucketed index
          // from its files (sidecar-validated) and continue exactly
          val tag = java.lang.Long.toHexString(
            graft.util.Hashing.hashString(root) & 0xffffffffL)
          spark.sql("SHOW TABLES").collect()
            .map(_.getAs[String]("tableName"))
            .filter(_.startsWith(s"dstream_${tag}_"))
            .foreach(t => spark.sql(s"DROP TABLE $t"))
        }
        // no state handle carried — every call resumes from storage
        st = StreamingDedup.processBatchBucketed(
          spark, part(b), "doc_id", "text", io, root, numBuckets = 4)
      }
      assert(st.batchesSeen == 4)
      val batch = pairSet(Dedup.minHashPairs(docs, "doc_id", "text")
        .orderBy($"idA", $"idB"))
      assert(pairSet(st.pairs) == batch,
        "streaming cumulative pairs must equal the batch near-dup pair set")
      // generation GC (retain=2): after 4 batches only generations 2,3
      // remain on disk — storage is O(retain), not O(batches)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val idxGens = fs.listStatus(rootPath).map(_.getPath.getName)
        .filter(_.startsWith("dstream_index_b")).map(_.stripPrefix("dstream_index_b").toInt)
        .sorted.toSeq
      assert(idxGens == Seq(2, 3), s"expected GC to keep only gens 2,3; found $idxGens")
    }
  }

  test("at-least-once replay is a natural no-op: same batch twice leaves pairs unchanged") {
    withTempRoot("graft_dstream_replay") { root =>
      val io = new ParquetTableIO(root)
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", $"text")
      def part(b: Int) = docs.where(pmod($"doc_id", lit(2)) === b)

      val s1 = StreamingDedup.processBatchBucketed(
        spark, part(0), "doc_id", "text", io, root, numBuckets = 4)
      val p1 = pairSet(s1.pairs)
      val replayed = StreamingDedup.processBatchBucketed(
        spark, part(0), "doc_id", "text", io, root, numBuckets = 4)
      assert(pairSet(replayed.pairs) == p1, "replayed batch must not change the pair set")
      // membership idempotent too: same total index cardinality
      def card(st: StreamingDedup.DedupState): Long =
        st.index.agg(sum(size($"members"))).head().getLong(0)
      assert(card(s1) == card(replayed), "replayed batch must not change the index")

      val s2 = StreamingDedup.processBatchBucketed(
        spark, part(1), "doc_id", "text", io, root, numBuckets = 4)
      assert(pairSet(s2.pairs) ==
        pairSet(Dedup.minHashPairs(docs, "doc_id", "text")),
        "replay must not disturb the final result either")
    }
  }

  test("foreachBatch wiring: MemoryStream drives checkpointed bucketed dedup across a query restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withTempRoot("graft_dstream_q") { root =>
      val io = new ParquetTableIO(root)
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)].collect()
      val (b1, b2) = docs.splitAt(docs.length / 2)

      val s1 = MemoryStream[(Long, String)]
      val q1 = StreamingDedup.startCheckpointedBucketed(
        spark, s1.toDS().toDF("doc_id", "text").as[(Long, String)],
        "doc_id", "text", io, root, 4) { _ => () }
      try { s1.addData(b1.toSeq); q1.processAllAvailable() } finally q1.stop()

      @volatile var last: Option[StreamingDedup.DedupState] = None
      val s2 = MemoryStream[(Long, String)]
      val q2 = StreamingDedup.startCheckpointedBucketed(
        spark, s2.toDS().toDF("doc_id", "text").as[(Long, String)],
        "doc_id", "text", io, root, 4) { st => last = Some(st) }
      try { s2.addData(b2.toSeq); q2.processAllAvailable() } finally q2.stop()

      assert(last.isDefined && last.get.batchesSeen == 2)
      val full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", $"text")
      assert(pairSet(last.get.pairs) == pairSet(Dedup.minHashPairs(full, "doc_id", "text")))
    }
  }
}

package graft

import graft.SparkTestSession.withTempRoot
import graft.model.FileRow
import graft.sources.{CorpusGen, ParquetTableIO}
import graft.streaming.StreamingEr
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** Incremental ER beyond plain arrival: deletions, block-cap overflow and
  * at-least-once redelivery, each on the bucketed-state path. Batch
  * equality on the uncapped corpus, resume and query restart are
  * asserted in BucketedStreamSpec.
  */
class StreamingErSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** Deterministic `n`-way arrival split; it interleaves duplicate groups
    * across batches. */
  private def part(files: Dataset[FileRow], n: Int, b: Int): Dataset[FileRow] =
    files.filter((f: FileRow) => math.floorMod(graft.util.Hashing.hashString(f.path), n) == b)

  /** Feeds the `n` arrival batches of `files` through the stream with
    * state under `root`, returning the final state. */
  private def stream(files: Dataset[FileRow], n: Int, root: String,
      cfg: Pipeline.Config = Pipeline.Config()): StreamingEr.ErState = {
    val io = new ParquetTableIO(root)
    (0 until n).map(b =>
      StreamingEr.processBatchBucketed(spark, part(files, n, b), io, root, 4, cfg)).last
  }

  test("deletes: add-add-delete == batch pipeline over the surviving corpus") {
    import org.apache.spark.sql.functions.col
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001").persist()
    def idOf(f: FileRow) = graft.util.Hashing.rowId128Hex(f.repo, f.path, f.commit)
    try withTempRoot("graft_stream_del") { root =>
      val io = new ParquetTableIO(root)
      val state = (0 until 2).map(b =>
        StreamingEr.processBatchBucketed(spark, part(files, 3, b), io, root, 4)).last

      // delete a deterministic slice (ids whose first hex digit is '0')
      val del = state.trees.toDF().select(col("id"))
        .where(col("id").startsWith("0")).persist()
      val delIds = del.collect().map(_.getString(0)).toSet
      assert(delIds.nonEmpty, "slice must be non-trivial")
      val afterDel = StreamingEr.processDeletes(spark, del, io, root, 4)

      // every surface purged
      assert(afterDel.trees.toDF().where(col("id").startsWith("0")).count() == 0)
      assert(afterDel.keyed.where(col("id").startsWith("0")).count() == 0)
      assert(afterDel.matches.where(
        col("idA").startsWith("0") || col("idB").startsWith("0")).count() == 0)

      // equals the batch pipeline run on the surviving corpus (no block
      // overflows its cap on this corpus, so no displacement caveat)
      val surviving = files.filter((f: FileRow) =>
        math.floorMod(graft.util.Hashing.hashString(f.path), 3) < 2 && !delIds.contains(idOf(f)))
      assert(pairsOf(afterDel.clusters) == pairsOf(Pipeline.run(spark, surviving).clusters))

      // the delete is durable: the next micro-batch resumes from the
      // purged generation, so no deleted id comes back
      val next = StreamingEr.processBatchBucketed(spark, part(files, 3, 2), io, root, 4)
      def ids(df: org.apache.spark.sql.DataFrame, c: String) =
        df.select(col(c)).collect().map(_.getString(0)).toSet
      val back = ids(next.trees.toDF(), "id") ++ ids(next.keyed, "id") ++
        ids(next.clusters, "id") ++ ids(next.matches, "idA") ++ ids(next.matches, "idB")
      assert((back & delIds).isEmpty, s"deleted ids came back: ${(back & delIds).take(5)}")
      val batchClusters = pairsOf(Pipeline.run(spark,
        surviving.unionByName(part(files, 3, 2))).clusters)
      assert(pairsOf(next.clusters) == batchClusters)
      del.unpersist()
    } finally files.unpersist()
  }

  test("cap overflow: stream matches ⊇ batch matches, clusters coarsen, CC invariant holds") {
    import org.apache.spark.sql.functions._
    // maxBlockSize=2 forces block-cap overflow everywhere — the corner
    // where stream and batch may legitimately diverge. The PROVABLE
    // invariants (the merge caps the new side too):
    //  1. every full-batch pair is emitted in the batch where its later
    //     member arrives (cap membership is subset-monotone), so stream
    //     matches ⊇ batch matches;
    //  2. hence stream clusters COARSEN batch clusters (each batch
    //     cluster lands inside exactly one stream cluster);
    //  3. the stream's own oracle invariant: clusters (built from
    //     star-contracted per-batch CC) == CC(cumulative match set).
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001").persist()
    val tinyCap = Pipeline.Config(blocking =
      graft.operators.Blocking.BlockingConfig(maxBlockSize = 2))
    try withTempRoot("graft_stream_cap") { root =>
      val batch = Pipeline.run(spark, files, tinyCap)
      val batchMatches = pairsOf(batch.matches)
      val st = stream(files, 3, root, tinyCap)
      val streamMatches = pairsOf(st.matches)

      assert(batchMatches.subsetOf(streamMatches),
        s"batch matches missing from stream: ${(batchMatches -- streamMatches).take(5)}")

      // refinement: no batch cluster is split across stream clusters
      val bc = batch.clusters.withColumnRenamed("clusterId", "bCl")
      val sc = st.clusters.withColumnRenamed("clusterId", "sCl")
      val split = bc.join(sc, "id").groupBy(col("bCl"))
        .agg(countDistinct(col("sCl")).as("n")).where(col("n") > 1).count()
      assert(split == 0, "a batch cluster is split across stream clusters")

      // clusters == CC(cumulative matches), recomputed directly
      val direct = graft.operators.Clustering
        .connectedComponents(st.matches, st.trees.toDF().select(col("id")))
      assert(pairsOf(st.clusters) == pairsOf(direct))
    } finally files.unpersist()
  }

  test("at-least-once delivery: a replayed batch is a state no-op, in-batch duplicates collapse") {
    // crash-after-state-write-before-offset-commit re-delivers the whole
    // batch; the id guard must reduce it to an empty delta so state
    // (trees, matches, clusters) is unchanged
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001").persist()
    try {
      withTempRoot("graft_stream_replay") { root =>
        val io = new ParquetTableIO(root)
        StreamingEr.processBatchBucketed(spark, part(files, 2, 0), io, root, 4)
        val b1 = StreamingEr.processBatchBucketed(spark, part(files, 2, 1), io, root, 4)
        val before = (b1.trees.count(), pairsOf(b1.clusters), b1.matches.count())
        val b2 = StreamingEr.processBatchBucketed(spark, part(files, 2, 1), io, root, 4) // replay
        assert(b2.trees.count() == before._1, "replay duplicated tree rows")
        assert(pairsOf(b2.clusters) == before._2, "replay changed clusters")
        assert(b2.matches.count() == before._3, "replay changed the match set")
      }
      // a batch with internal duplicates is deduped to one row per id
      withTempRoot("graft_stream_dup") { root =>
        val dup = part(files, 2, 0).unionByName(part(files, 2, 0))
        val solo = StreamingEr.processBatchBucketed(spark, dup, new ParquetTableIO(root), root, 4)
        assert(solo.trees.count() == part(files, 2, 0).count(), "in-batch duplicates survived")
      }
    } finally files.unpersist()
  }
}

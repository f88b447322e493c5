package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.{Blocking, ParseStage}
import graft.sources.{BucketedState, CorpusGen}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed state layout must deliver its one promise: joins and
  * aggregations on the bucket column read the table pre-distributed —
  * NO exchange on the state side. This is the local demonstration of
  * the 100 TB incremental-join shape (persistent block index bucketed
  * by key; each batch joins against it without re-shuffling the
  * corpus-sized state).
  */
class BucketedStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def exchanges(s: String): Int =
    s.linesIterator.count(_.matches(".*\\bExchange \\(\\d+\\).*"))

  test("bucketed block index: key joins and aggregations run shuffle-free") {
    withTempRoot("graft_bucketed") { root =>
      val trees = ParseStage.parse(CorpusGen.corpus(spark, "/root/testdata/sf0.001"))
      val keyed = Blocking.keyedIds(trees, Blocking.BlockingConfig())

      BucketedState.write(keyed, "block_index", s"$root/block_index", 8, "key")
      assert(BucketedState.exists(spark, "block_index"))
      val state = BucketedState.read(spark, "block_index")
      assert(state.count() == keyed.count())

      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // the incremental shape: a (small) batch of new keys probing the
        // persistent index — the bucketed side must contribute ZERO
        // exchanges; only the new side shuffles to the bucket layout
        val newKeys = keyed.where(pmod(col("key"), lit(97)) === 0) // narrow "new batch"
        val probe = fmt(newKeys.join(state.withColumnRenamed("id", "old_id"), "key"))
        assert(probe.contains("SortMergeJoin") || probe.contains("ShuffledHashJoin"))
        assert(exchanges(probe) <= 1,
          s"bucketed state side must not re-shuffle (expected <=1 exchange for the new side)\n$probe")

        // self-join of the state on its bucket column: no exchange at all
        val self = fmt(state.join(state.withColumnRenamed("id", "id2"), "key"))
        assert(exchanges(self) == 0, s"bucketed self-join must be shuffle-free\n$self")

        // per-key aggregation: the bucketed distribution satisfies the
        // aggregate's requirement — no exchange before the final result
        val agg = fmt(state.groupBy(col("key")).agg(count(lit(1))))
        assert(exchanges(agg) == 0, s"bucketed aggregation must be shuffle-free\n$agg")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.sql("DROP TABLE IF EXISTS block_index")
      }
    }
  }

  test("restart survival: re-registered bucketed files keep zero-exchange reads and pruning") {
    withTempRoot("graft_bucketed_rr") { root =>
      val trees = ParseStage.parse(CorpusGen.corpus(spark, "/root/testdata/sf0.001"))
      val keyed = Blocking.keyedIds(trees, Blocking.BlockingConfig())
      BucketedState.write(keyed, "block_index_rr", s"$root/idx", 8, "key")
      val want = keyed.count()

      // simulate a process restart: the in-memory catalog entry is gone,
      // only the bucketed files remain
      spark.sql("DROP TABLE block_index_rr")
      assert(!BucketedState.exists(spark, "block_index_rr"))

      val state = BucketedState.readOrRegister(spark, "block_index_rr", s"$root/idx", 8, "key")
      assert(state.count() == want, "re-registered table must read the same rows")

      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // the layout came back whole: per-key aggregation and self-join
        // are shuffle-free again — the restart-surviving zero-exchange
        // read the session-scoped catalog alone could not provide
        val agg = fmt(state.groupBy(col("key")).agg(count(lit(1))))
        assert(exchanges(agg) == 0, s"re-registered aggregation must be shuffle-free\n$agg")
        val self = fmt(state.join(state.withColumnRenamed("id", "id2"), "key"))
        assert(exchanges(self) == 0, s"re-registered self-join must be shuffle-free\n$self")
        // and storage pruning: an equality probe scans ONE bucket
        val someKey = state.select(col("key")).head().getLong(0)
        val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        try {
          val pruned = fmt(state.where(col("key") === someKey))
          assert(pruned.contains("SelectedBucketsCount: 1 out of 8"),
            s"re-registered probe must prune to a single bucket\n$pruned")
        } finally
          spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.sql("DROP TABLE IF EXISTS block_index_rr")
      }
    }
  }

  test("register refuses a wrong or unverifiable bucket layout") {
    withTempRoot("graft_bucketed_bad") { root =>
      val trees = ParseStage.parse(CorpusGen.corpus(spark, "/root/testdata/sf0.001"))
      val keyed = Blocking.keyedIds(trees, Blocking.BlockingConfig()).limit(100)
      BucketedState.write(keyed, "block_index_bad", s"$root/idx", 8, "key")
      spark.sql("DROP TABLE block_index_bad")
      // wrong numBuckets: Spark would silently skip rows on pruned reads,
      // so this must fail loudly instead of registering
      val e1 = intercept[IllegalArgumentException] {
        BucketedState.register(spark, "block_index_bad", s"$root/idx", 4, "key")
      }
      assert(e1.getMessage.contains("bucket layout mismatch"))
      // wrong bucket column: same
      intercept[IllegalArgumentException] {
        BucketedState.register(spark, "block_index_bad", s"$root/idx", 8, "id")
      }
      // a directory without the sidecar spec cannot be verified at all
      keyed.write.parquet(s"$root/plain")
      val e2 = intercept[IllegalStateException] {
        BucketedState.register(spark, "block_index_bad", s"$root/plain", 8, "key")
      }
      assert(e2.getMessage.contains("no bucket spec sidecar"))
      // and the correct params still register fine after the failures
      BucketedState.register(spark, "block_index_bad", s"$root/idx", 8, "key")
      assert(BucketedState.read(spark, "block_index_bad").count() == keyed.count())
      spark.sql("DROP TABLE IF EXISTS block_index_bad")
    }
  }

  test("IVF inverted file as bucketed table: probe prunes to nprobe lists, join shuffle-free") {
    // the ANN scale path's storage claim, demonstrated: at corpus scale
    // the inverted file lives bucketed by list id, a query's nprobe
    // probes prune the scan to those buckets, and the probe join reads
    // the corpus side pre-distributed
    import graft.operators.Similarity
    withTempRoot("graft_ivf_bucketed") { root =>
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 20)
      val (corpusLists, queryLists) = Similarity.ivfAssignments(emb, queries, nlist = 16, nprobe = 4)
      BucketedState.write(corpusLists, "ivf_inv_file", s"$root/inv", 16, "list")
      try {
        val inv = BucketedState.read(spark, "ivf_inv_file")
        // one query's probe set: nprobe list ids -> at most nprobe buckets
        val probes = queryLists.where(col("query_id") === 0)
          .select(col("list")).collect().map(_.getInt(0)).toSeq
        assert(probes.size == 4)
        val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        try {
          val pruned = fmt(inv.where(col("list").isin(probes: _*)))
          val sel = pruned.linesIterator.find(_.contains("SelectedBucketsCount"))
            .getOrElse(fail(s"no bucket pruning in plan\n$pruned"))
          val n = "SelectedBucketsCount: (\\d+)".r.findFirstMatchIn(sel).get.group(1).toInt
          assert(n <= 4, s"probe must scan at most nprobe buckets, scanned $n\n$pruned")
        } finally
          spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
        // the probe join: inverted-file side contributes no exchange
        val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val joined = fmt(queryLists.join(inv, "list"))
          assert(exchanges(joined) <= 1,
            s"inverted-file side must read pre-distributed (<=1 exchange, the query side)\n$joined")
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      } finally
        spark.sql("DROP TABLE IF EXISTS ivf_inv_file")
    }
  }
}

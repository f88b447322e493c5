package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.Upsert
import graft.sources.ParquetTableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class UpsertSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("upsert replaces same-key rows, appends new keys, passes the rest through") {
    import spark.implicits._
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "n")
    val updates = Seq((2L, "B2", 99), (9L, "z", 90)).toDF("id", "v", "n")
    val got = Upsert.upsert(base, updates, "id")
      .as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "a", 10), (2L, "B2", 99), (3L, "c", 30), (9L, "z", 90)))
  }

  test("upsert rejects a schema mismatch loudly") {
    import spark.implicits._
    val base = Seq((1L, "a")).toDF("id", "v")
    val bad = Seq((1L, "a", 1)).toDF("id", "v", "extra")
    val e = intercept[IllegalArgumentException](Upsert.upsert(base, bad, "id"))
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("latestPerKey keeps exactly the highest-version row per key") {
    import spark.implicits._
    val updates = Seq((1L, "old", 1L), (1L, "new", 2L), (2L, "only", 5L))
      .toDF("id", "v", "version")
    val got = Upsert.latestPerKey(updates, "id", "version")
      .select($"id", $"v").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "new"), (2L, "only")))
  }

  test("partitioned write prunes to the filtered partition at planning time") {
    import org.apache.spark.sql.execution.FormattedMode
    withTempRoot("graft_part") { root =>
      val io = new ParquetTableIO(root)
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      io.writePartitioned(docs, "docs_by_lang", Seq("lang"))

      val q = io.read(spark, "docs_by_lang").where(col("lang") === "es")
      val plan = q.queryExecution.explainString(FormattedMode)
      // the lang predicate must be a PartitionFilter (directory prune),
      // not a row-level PushedFilter over every file
      assert(plan.contains("PartitionFilters") &&
        plan.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("lang")),
        s"lang filter not applied at partition level\n$plan")
      // and the pruned scan must actually read only the one partition
      def partitionsRead(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.executedPlan.collectLeaves()
          .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount.toLong }.sum
      val scannedFiles = partitionsRead(q)
      val allFiles = partitionsRead(io.read(spark, "docs_by_lang"))
      assert(scannedFiles < allFiles, s"pruning read $scannedFiles of $allFiles files")
      // value-correct roundtrip (partition column restored from the path)
      val expected = docs.where(col("lang") === "es").count()
      assert(q.count() == expected)
    }
  }

  // ---- SCD type-2 -------------------------------------------------------

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  private def dim1 = {
    import spark.implicits._
    Seq(
      (1L, "a", ts("2020-01-01"), Option.empty[java.sql.Timestamp], true),
      (2L, "b", ts("2020-01-01"), Option.empty[java.sql.Timestamp], true),
      (3L, "c", ts("2019-01-01"), Option(ts("2020-01-01")), false), // history
      (3L, "c2", ts("2020-01-01"), Option.empty[java.sql.Timestamp], true))
      .toDF("key", "attr", "valid_from", "valid_to", "is_current")
  }

  test("scd2Merge closes changed rows, opens new versions, passes no-ops and history through") {
    import spark.implicits._
    val updates = Seq(
      (1L, "a9", ts("2021-06-01")), // changed → close + open
      (2L, "b", ts("2021-06-01")),  // identical → no-op
      (9L, "z", ts("2021-06-01"))) // new key → first open version
      .toDF("key", "attr", "uts")
    val got = graft.operators.Upsert.scd2Merge(dim1, updates, "key", Seq("attr"), "uts")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().toSet
    assert(got == Set(
      (1L, "a", ts("2020-01-01"), Some(ts("2021-06-01")), false),
      (1L, "a9", ts("2021-06-01"), None, true),
      (2L, "b", ts("2020-01-01"), None, true),
      (3L, "c", ts("2019-01-01"), Some(ts("2020-01-01")), false),
      (3L, "c2", ts("2020-01-01"), None, true),
      (9L, "z", ts("2021-06-01"), None, true)))
  }

  test("scd2Merge invariants survive chained merges: one open row per key, contiguous intervals") {
    import spark.implicits._
    val u1 = Seq((1L, "a9", ts("2021-01-01")), (9L, "z", ts("2021-01-01"))).toDF("key", "attr", "uts")
    val u2 = Seq((1L, "a10", ts("2022-01-01")), (9L, "z", ts("2022-01-01"))).toDF("key", "attr", "uts")
    val m2 = graft.operators.Upsert.scd2Merge(
      graft.operators.Upsert.scd2Merge(dim1, u1, "key", Seq("attr"), "uts"),
      u2, "key", Seq("attr"), "uts").persist()
    // exactly one open version per key
    val openCounts = m2.where(col("is_current"))
      .groupBy(col("key")).count().where(col("count") =!= 1).count()
    assert(openCounts == 0)
    // open rows have null valid_to; closed rows don't
    assert(m2.where(col("is_current") && col("valid_to").isNotNull).count() == 0)
    assert(m2.where(!col("is_current") && col("valid_to").isNull).count() == 0)
    // key 1 history: 2020→2021 closed, 2021→2022 closed, 2022 open
    val k1 = m2.where(col("key") === 1).orderBy(col("valid_from"))
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect()
    assert(k1.map(_._2).toSeq == Seq("a", "a9", "a10"))
    // contiguity: each close ts equals the next version's valid_from
    k1.sliding(2).foreach { case Array(prev, next) =>
      assert(prev._4.contains(next._3), s"gap between $prev and $next") }
    // 9's second identical update was a no-op
    assert(m2.where(col("key") === 9).count() == 1)
    m2.unpersist()
  }

  test("scd2Merge classifies via ONE broadcast join of the update batch") {
    import org.apache.spark.sql.execution.FormattedMode
    import spark.implicits._
    val updates = Seq((1L, "a9", ts("2021-06-01"))).toDF("key", "attr", "uts")
    val plan = graft.operators.Upsert.scd2Merge(dim1, updates, "key", Seq("attr"), "uts")
      .queryExecution.explainString(FormattedMode)
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 1, s"expected the update batch broadcast\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"SCD-2 merge must not shuffle the dimension for a patch batch\n$plan")
  }
}

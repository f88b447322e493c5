package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.OneToOneMatching
import graft.streaming.StreamingLink
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Incremental 1:1 linkage: stream ≡ batch at every fold step,
  * at-least-once replay idempotency, and deterministic weight upgrade. */
class StreamingLinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def toDf(edges: Seq[(String, String, Double)]): DataFrame = {
    import spark.implicits._
    edges.toDF("lft", "rgt", "w")
  }

  private def collectMatched(df: DataFrame): Set[(String, String, Double)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  test("stream equals batch after every micro-batch, shuffled arrival") {
    val rnd = new scala.util.Random(41)
    val edges = (for {
      l <- 0 until 14; r <- 0 until 14
      if rnd.nextDouble() < 0.3
    } yield (f"l$l%02d", f"r$r%02d", (1 + rnd.nextInt(5)).toDouble)).toList
    val shuffled = rnd.shuffle(edges)
    val batches = shuffled.grouped((shuffled.size + 2) / 3).toSeq
    var st: Option[StreamingLink.LinkState] = None
    var seen = List.empty[(String, String, Double)]
    for (b <- batches) {
      seen ++= b
      st = Some(StreamingLink.update(spark, toDf(b), st))
      assert(collectMatched(st.get.matched) ==
        OneToOneMatching.sequentialGreedy(seen).toSet,
        s"after batch ${st.get.batches}")
    }
    assert(st.get.batches == batches.size)
  }

  test("at-least-once replay of a whole batch is idempotent") {
    val b1 = Seq(("l1", "r1", 3.0), ("l2", "r2", 2.0))
    val b2 = Seq(("l3", "r1", 5.0), ("l2", "r3", 4.0))
    val s2 = StreamingLink.update(spark, toDf(b2),
      Some(StreamingLink.update(spark, toDf(b1), None)))
    val s3 = StreamingLink.update(spark, toDf(b2), Some(s2)) // redelivery
    assert(collectMatched(s3.matched) == collectMatched(s2.matched))
    assert(s3.edges.count() == s2.edges.count())
  }

  test("durable fold: kill-and-resume, half-written generations skipped, GC keeps retain, fold == batch") {
    withTempRoot("graft_slink") { root =>
      val io = new graft.sources.ParquetTableIO(root)
      val b1 = Seq(("l1", "r1", 3.0), ("l2", "r2", 2.0))
      val b2 = Seq(("l3", "r1", 5.0), ("l2", "r3", 4.0))
      val b3 = Seq(("l1", "r4", 9.0), ("l4", "r2", 1.0))
      // two batches, then "crash" — each call resumes purely from storage
      StreamingLink.updateDurable(spark, toDf(b1), io)
      StreamingLink.updateDurable(spark, toDf(b2), io)
      val (resumed, k) = StreamingLink.resumeState(spark, io, "slink")
      assert(k == 2 && resumed.get.batches == 2)
      assert(collectMatched(resumed.get.matched) ==
        OneToOneMatching.sequentialGreedy(b1 ++ b2).toSet)
      // a crash between the two writes leaves a HALF generation: the
      // resume scan must refuse it and the retried batch overwrite it
      io.write(toDf(b3), "slink_edges_b2")
      val (afterCrash, k2) = StreamingLink.resumeState(spark, io, "slink")
      assert(k2 == 2 && afterCrash.get.batches == 2, "half generation must not resume")
      val st3 = StreamingLink.updateDurable(spark, toDf(b3), io, retain = 1)
      assert(st3.batches == 3)
      assert(collectMatched(st3.matched) ==
        OneToOneMatching.sequentialGreedy(b1 ++ b2 ++ b3).toSet)
      // retain = 1 at generation 2 pruned generations <= 1 — and the
      // directory-listing resume still lands on the latest complete
      // generation instead of restarting from empty past the hole
      assert(!io.exists(spark, "slink_edges_b0") &&
        !io.exists(spark, "slink_edges_b1"), "old generations must be GC'd")
      val (fin, k3) = StreamingLink.resumeState(spark, io, "slink")
      assert(k3 == 3 && fin.get.batches == 3,
        "resume must survive pruned early generations")
      assert(collectMatched(fin.get.matched) == collectMatched(st3.matched))
    }
  }

  test("GC reclaims a generation remnant that lost its _SUCCESS marker") {
    withTempRoot("graft_slinkgc") { root =>
      val io = new graft.sources.ParquetTableIO(root)
      val b = (i: Int) => Seq((s"l$i", s"r$i", i.toDouble))
      StreamingLink.updateDurable(spark, toDf(b(1)), io)
      StreamingLink.updateDurable(spark, toDf(b(2)), io)
      // simulate a crashed delete: generation 0's edges table lost its
      // _SUCCESS but kept data files — a complete-only listing would
      // never show it to any later prune (permanent storage leak)
      val g0 = new java.io.File(root, "slink_edges_b0")
      assert(new java.io.File(g0, "_SUCCESS").delete())
      assert(g0.exists())
      StreamingLink.updateDurable(spark, toDf(b(3)), io, retain = 1)
      assert(!g0.exists(), "un-gated generation remnant must still be GC'd")
      // and the ungated remnant never participated in the resume
      val (fin, k) = StreamingLink.resumeState(spark, io, "slink")
      assert(k == 3 && fin.get.batches == 3)
      // retain = 0 is refused loudly, not honored destructively
      val e = intercept[IllegalArgumentException] {
        StreamingLink.updateDurable(spark, toDf(b(4)), io, retain = 0) }
      assert(e.getMessage.contains("retain"))
    }
  }

  test("re-scored pair deterministically upgrades to the max weight") {
    val s1 = StreamingLink.update(spark, toDf(Seq(("l1", "r1", 1.0), ("l2", "r1", 2.0))), None)
    assert(collectMatched(s1.matched) == Set(("l2", "r1", 2.0)))
    val s2 = StreamingLink.update(spark, toDf(Seq(("l1", "r1", 9.0))), Some(s1))
    assert(collectMatched(s2.matched) == Set(("l1", "r1", 9.0)))
    // and a new heavy edge DISPLACES a standing match (the cascade that
    // makes incremental maintenance impossible without retained edges)
    val s3 = StreamingLink.update(spark, toDf(Seq(("l1", "r9", 99.0))), Some(s2))
    assert(collectMatched(s3.matched) == Set(("l1", "r9", 99.0), ("l2", "r1", 2.0)))
  }
}

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

  test("kill-and-resume: resumed fold == batch") {
    withTempRoot("graft_slink") { root =>
      val batches = Seq(
        Seq(("l1", "r1", 3.0), ("l2", "r2", 2.0)),
        Seq(("l3", "r1", 5.0), ("l2", "r3", 4.0)),
        Seq(("l1", "r4", 9.0), ("l4", "r2", 1.0)))
      // each batch runs as a fresh process would: nothing is carried
      // between calls but the storage under `root`
      val last = batches.map(b =>
        StreamingLink.updateDurable(spark, toDf(b), new graft.sources.ParquetTableIO(root))).last
      assert(last.batches == 3)
      assert(collectMatched(last.matched) ==
        OneToOneMatching.sequentialGreedy(batches.flatten).toSet)
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
      val st = StreamingLink.updateDurable(spark, toDf(b(3)), io)
      assert(!g0.exists(), "un-gated generation remnant must still be GC'd")
      // the remnant never took part in the resume: generation 1 did
      assert(st.batches == 3)
      assert(collectMatched(st.matched) ==
        OneToOneMatching.sequentialGreedy((1 to 3).flatMap(b)).toSet)
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

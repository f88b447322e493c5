package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.Pprl
import graft.streaming.StreamingPprl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming PPRL blocking: fold ≡ batch purgedPairs after EVERY batch
  * (including the retraction case — a block crossing the purge bound
  * mid-stream must take its previously-visible pairs with it), replay
  * idempotency, dead-key monotonicity, and the live foreachBatch
  * wiring through a real MemoryStream. */
class StreamingPprlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import StreamingPprl._

  private def keyed(rows: Seq[(String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("key", "id")
  }

  private def pairSet(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def batchPairs(rows: Seq[(String, String)], purge: Int) =
    pairSet(Pprl.purgedPairs(keyed(rows), purge))

  test("fold == batch after every batch; purge crossing RETRACTS pairs") {
    val purge = 3
    // key k grows 2 -> 4 members: alive (1 pair) after batch 1, dead
    // (0 pairs) after batch 2; key q stays alive throughout
    val b1 = Seq("k" -> "a", "k" -> "b", "q" -> "x", "q" -> "y")
    val b2 = Seq("k" -> "c", "k" -> "d", "q" -> "z")
    val st1 = foldBatch(None, keyed(b1),
      Pprl.HlshConfig(purge = purge))
    assert(pairSet(pairs(st1)) == batchPairs(b1, purge))
    assert(pairSet(pairs(st1)).contains(("a", "b")), "k visible before purge")
    val st2 = foldBatch(Some(st1), keyed(b2),
      Pprl.HlshConfig(purge = purge))
    val want2 = batchPairs(b1 ++ b2, purge)
    assert(pairSet(pairs(st2)) == want2)
    assert(!pairSet(pairs(st2)).exists(p => p._1 == "a" || p._2 == "b"),
      "k's pairs retracted after crossing purge")
    assert(want2 == Set(("x", "y"), ("x", "z"), ("y", "z")))
  }

  test("randomized prefix equivalence: 4 batches, fold == batch at every prefix") {
    val rng = new scala.util.Random(23)
    val purge = 4
    val all = Seq.fill(120)((s"k${rng.nextInt(12)}", s"id${rng.nextInt(40)}"))
    val batches = all.grouped(30).toSeq
    var st: Option[State] = None
    var seen = Seq.empty[(String, String)]
    for (b <- batches) {
      st = Some(foldBatch(st, keyed(b), Pprl.HlshConfig(purge = purge)))
      seen ++= b
      assert(pairSet(pairs(st.get)) == batchPairs(seen, purge),
        s"prefix of ${seen.size} rows")
    }
  }

  test("replay idempotency: re-folding a batch is a no-op; dead keys stay dead") {
    val purge = 2
    val b1 = Seq("k" -> "a", "k" -> "b")
    val b2 = Seq("k" -> "c")            // kills k (3 > 2)
    val st1 = foldBatch(None, keyed(b1), Pprl.HlshConfig(purge = purge))
    val st1r = foldBatch(Some(st1), keyed(b1), Pprl.HlshConfig(purge = purge))
    assert(pairSet(pairs(st1r)) == pairSet(pairs(st1)))
    val st2 = foldBatch(Some(st1r), keyed(b2), Pprl.HlshConfig(purge = purge))
    assert(pairSet(pairs(st2)).isEmpty)
    // replay the killing batch, then add yet another member: still dead
    val st2r = foldBatch(Some(st2), keyed(b2), Pprl.HlshConfig(purge = purge))
    val st3 = foldBatch(Some(st2r), keyed(Seq("k" -> "a")),
      Pprl.HlshConfig(purge = purge))
    assert(pairSet(pairs(st3)).isEmpty)
    val deadRow = st3.blocks.where(col("key") === "k").collect()(0)
    assert(deadRow.getAs[Boolean]("dead"))
    assert(deadRow.getAs[scala.collection.Seq[String]]("members").isEmpty,
      "tombstone carries no members — state stays bounded")
  }

  test("durable fold: kill-and-resume, half-written generation refused, purge crossing survives restart") {
    val purge = 3
    withTempRoot("graft_spprl") { root =>
      val io = new graft.sources.ParquetTableIO(root)
      val b1 = Seq("k" -> "a", "k" -> "b", "q" -> "x", "q" -> "y")
      val b2 = Seq("k" -> "c", "k" -> "d", "q" -> "z")   // kills k across the restart
      updateDurable(spark, keyed(b1), io, cfg = Pprl.HlshConfig(purge = purge))
      // "crash": everything below resumes purely from storage
      val (resumed, k1) = resumeState(spark, io, "spprl")
      assert(k1 == 1 && resumed.get.batchesSeen == 1)
      assert(pairSet(pairs(resumed.get)) == batchPairs(b1, purge))
      // a half-written generation (no _SUCCESS) must be refused on
      // resume and overwritten by the retried batch
      io.write(keyed(b2), "spprl_blocks_b1")
      val succ = new org.apache.hadoop.fs.Path(s"$root/spprl_blocks_b1/_SUCCESS")
      succ.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(succ, false)
      val (afterCrash, k2) = resumeState(spark, io, "spprl")
      assert(k2 == 1 && afterCrash.get.batchesSeen == 1, "half generation must not resume")
      val st2 = updateDurable(spark, keyed(b2), io, cfg = Pprl.HlshConfig(purge = purge))
      assert(st2.batchesSeen == 2)
      assert(pairSet(pairs(st2)) == batchPairs(b1 ++ b2, purge))
      assert(!pairSet(pairs(st2)).contains(("a", "b")),
        "purge crossing retracts across the restart boundary")
      // the on-disk generation reads back complete and identical
      val (fin, k3) = resumeState(spark, io, "spprl")
      assert(k3 == 2 && pairSet(pairs(fin.get)) == pairSet(pairs(st2)))
    }
  }

  test("durable GC keeps retain generations; resume survives pruned early generations") {
    val purge = 4
    withTempRoot("graft_spprl_gc") { root =>
      val io = new graft.sources.ParquetTableIO(root)
      val b1 = Seq("k" -> "a", "k" -> "b")
      val b2 = Seq("q" -> "x", "q" -> "y")
      val b3 = Seq("q" -> "z", "k" -> "c")
      updateDurable(spark, keyed(b1), io, cfg = Pprl.HlshConfig(purge = purge))
      updateDurable(spark, keyed(b2), io, cfg = Pprl.HlshConfig(purge = purge))
      val st3 = updateDurable(spark, keyed(b3), io,
        cfg = Pprl.HlshConfig(purge = purge), retain = 1)
      assert(st3.batchesSeen == 3)
      // retain = 1 at generation 2 pruned generations <= 1 — storage is
      // O(retain), and the listing-based resume still lands on the latest
      // complete generation instead of restarting from empty past the hole
      assert(!io.exists(spark, "spprl_blocks_b0") &&
        !io.exists(spark, "spprl_blocks_b1"), "old generations must be GC'd")
      val (fin, k) = resumeState(spark, io, "spprl")
      assert(k == 3 && fin.get.batchesSeen == 3,
        "resume must survive pruned early generations")
      assert(pairSet(pairs(fin.get)) == batchPairs(b1 ++ b2 ++ b3, purge))
    }
  }

  test("durable GC reclaims a generation remnant that lost its _SUCCESS marker") {
    val purge = 4
    withTempRoot("graft_spprl_orph") { root =>
      val io = new graft.sources.ParquetTableIO(root)
      updateDurable(spark, keyed(Seq("k" -> "a", "k" -> "b")), io,
        cfg = Pprl.HlshConfig(purge = purge))
      // simulate a crashed delete: generation 0 loses its _SUCCESS but
      // keeps data files — invisible to listTables, visible to the GC's
      // listTablesAll sweep
      val succ = new org.apache.hadoop.fs.Path(s"$root/spprl_blocks_b0/_SUCCESS")
      val fs = succ.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(succ, false)
      updateDurable(spark, keyed(Seq("q" -> "x", "q" -> "y")), io,
        cfg = Pprl.HlshConfig(purge = purge))
      // resume refused the orphan, so batch 2 wrote generation 0 again? No:
      // resumeState found nothing complete, wrote b0 fresh — the remnant
      // was overwritten; fold a third batch with retain = 1 and assert the
      // orphan-or-rewritten b0 is gone while the stream stays correct
      val st = updateDurable(spark, keyed(Seq("q" -> "z")), io,
        cfg = Pprl.HlshConfig(purge = purge), retain = 1)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/spprl_blocks_b0")),
        "remnant generation must be reclaimed by the listTablesAll sweep")
      assert(pairSet(pairs(st)) ==
        batchPairs(Seq("q" -> "x", "q" -> "y", "q" -> "z"), purge))
    }
  }

  test("foreachBatch wiring: MemoryStream-fed fold converges to the batch pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val comp = Pprl.CompositeClk
    val rng = new scala.util.Random(31)
    def toks(n: Int) = Seq.fill(n)(s"w${rng.nextInt(300)}")
    val docs = (0 until 8).flatMap { g =>
      val content = toks(30)
      (0 until 2).map(m =>
        (s"g${g}_$m", s"d$g/f_$m.src", "js", content.updated(0, s"m$g$m")))
    }
    def keyedOf(df: DataFrame): DataFrame = {
      val elems = df.select(col("id"), Pprl.grams(col("path")).as("f0"),
        array(col("lang")).as("f1"), col("ctoks").as("f2"))
      Pprl.hlshKeys(
        Pprl.encodeComposite(elems, Seq("f0", "f1", "f2"), comp),
        Pprl.HlshConfig(), comp)
    }
    @volatile var last: Option[State] = None
    val ms = MemoryStream[(String, String, String, Seq[String])]
    val q = StreamingPprl.start(
      ms.toDS().toDF("id", "path", "lang", "ctoks"),
      keyedOf) { st => last = Some(st) }
    try {
      ms.addData(docs.take(6)); q.processAllAvailable()
      ms.addData(docs.drop(6)); q.processAllAvailable()
    } finally q.stop()
    assert(last.get.batchesSeen == 2)
    val want = pairSet(Pprl.purgedPairs(
      keyedOf(docs.toDF("id", "path", "lang", "ctoks")),
      Pprl.HlshConfig().purge))
    assert(pairSet(pairs(last.get)) == want)
    assert(want.nonEmpty, "the planted near-identical docs must pair")
  }
}

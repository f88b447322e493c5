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

  test("kill-and-resume: resumed fold == batch") {
    val purge = 3
    withTempRoot("graft_spprl") { root =>
      val b1 = Seq("k" -> "a", "k" -> "b", "q" -> "x", "q" -> "y")
      val b2 = Seq("k" -> "c", "k" -> "d", "q" -> "z")   // kills k across the restart
      // each batch runs as a fresh process would: nothing is carried
      // between calls but the storage under `root`
      val st = Seq(b1, b2).map(b => updateDurable(spark, keyed(b),
        new graft.sources.ParquetTableIO(root), Pprl.HlshConfig(purge = purge))).last
      assert(st.batchesSeen == 2)
      assert(pairSet(pairs(st)) == batchPairs(b1 ++ b2, purge))
      assert(!pairSet(pairs(st)).contains(("a", "b")),
        "purge crossing retracts across the restart boundary")
    }
  }

  test("durable GC reclaims a generation remnant that lost its _SUCCESS marker") {
    val purge = 4
    withTempRoot("graft_spprl_orph") { root =>
      val io = new graft.sources.ParquetTableIO(root)
      val batches = Seq(Seq("k" -> "a", "k" -> "b"), Seq("q" -> "x", "q" -> "y"), Seq("q" -> "z"))
      batches.take(2).foreach(b => updateDurable(spark, keyed(b), io, Pprl.HlshConfig(purge = purge)))
      // simulate a crashed delete: generation 0 loses its _SUCCESS but
      // keeps data files — invisible to resume, visible to the GC's
      // listTablesAll sweep
      val succ = new org.apache.hadoop.fs.Path(s"$root/spprl_blocks_b0/_SUCCESS")
      val fs = succ.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(succ, false))
      val st = updateDurable(spark, keyed(batches(2)), io, Pprl.HlshConfig(purge = purge))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/spprl_blocks_b0")),
        "remnant generation must be reclaimed by the listTablesAll sweep")
      // the remnant never took part in the resume: generation 1 did
      assert(st.batchesSeen == 3)
      assert(pairSet(pairs(st)) == batchPairs(batches.flatten, purge))
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

package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.TruthDiscovery
import graft.streaming.StreamingTruth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental truth discovery: stream ≡ batch at every fold step,
  * at-least-once replay idempotency, the durable kill-and-resume twin,
  * and the corpus-model pin. */
class StreamingTruthSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def toDf(rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("source", "entity", "value")
  }

  private def resolvedSet(df: DataFrame): Set[(String, String)] =
    df.select(col("entity"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  private def trustMap(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def randClaims(seed: Long, nS: Int, nE: Int): Seq[(String, String, String)] = {
    val rng = new graft.util.Hashing.DetRng(seed)
    (for {
      s <- 0 until nS; e <- 0 until nE
      if rng.nextInt(4) != 0
    } yield (f"s$s%02d", f"e$e%03d", s"v${rng.nextInt(3)}")).distinct
  }

  test("stream equals batch after every micro-batch, shuffled arrival") {
    val all = randClaims(51L, 6, 15)
    val rng = new scala.util.Random(7)
    val batches = rng.shuffle(all).grouped((all.size + 2) / 3).toSeq
    var st: Option[StreamingTruth.TruthState] = None
    var seen = List.empty[(String, String, String)]
    for (b <- batches) {
      seen ++= b
      st = Some(StreamingTruth.update(spark, toDf(b), st))
      // same claims SET -> same resolution (the 9-dp-rounded winner
      // pick absorbs partition-order float noise); trust agrees to
      // relative 1e-9 (sums reorder between the fold's distinct() and
      // the batch frame, so last-ULP drift is expected, not a bug)
      val batchRes = TruthDiscovery.resolve(toDf(seen))
      assert(resolvedSet(st.get.resolved) === resolvedSet(batchRes),
        s"after batch ${st.get.batches}")
      val batchTrust = trustMap(TruthDiscovery.investment(toDf(seen)).trust)
      trustMap(st.get.trust).foreach { case (s0, t) =>
        assert(math.abs(t - batchTrust(s0)) <= 1e-9 * math.max(1.0, math.abs(t)),
          s"trust($s0) after batch ${st.get.batches}: $t vs ${batchTrust(s0)}")
      }
    }
    assert(st.get.batches === batches.size)
  }

  test("at-least-once replay of a whole batch is idempotent") {
    val b1 = Seq(("s1", "e1", "a"), ("s2", "e1", "b"), ("s1", "e2", "c"))
    val b2 = Seq(("s2", "e2", "c"), ("s3", "e1", "a"))
    val s2 = StreamingTruth.update(spark, toDf(b2),
      Some(StreamingTruth.update(spark, toDf(b1), None)))
    val s3 = StreamingTruth.update(spark, toDf(b2), Some(s2)) // redelivery
    assert(s3.claims.count() === s2.claims.count())
    assert(resolvedSet(s3.resolved) === resolvedSet(s2.resolved))
    assert(trustMap(s3.trust) === trustMap(s2.trust))
  }

  test("kill-and-resume: resumed fold == batch") {
    withTempRoot("graft_struth") { root =>
      val batches = Seq(
        Seq(("s1", "e1", "a"), ("s2", "e1", "b"), ("s2", "e2", "c")),
        Seq(("s3", "e1", "a"), ("s1", "e2", "c")),
        Seq(("s3", "e2", "d"), ("s1", "e3", "x")))
      // each batch runs as a fresh process would: nothing is carried
      // between calls but the storage under `root`
      val last = batches.map(b =>
        StreamingTruth.updateDurable(spark, toDf(b), new graft.sources.ParquetTableIO(root))).last
      assert(last.batches === 3)
      assert(resolvedSet(last.resolved) ===
        resolvedSet(TruthDiscovery.resolve(toDf(batches.flatten))))
    }
  }

  test("corpus model: the 3-batch fold (with redelivery) lands on the batch resolution") {
    val s = spark
    val st = ErQueries.streamTruthResults(s, "/root/testdata/sf0.001")
    assert(st.batches === ErQueries.StreamTruthBatches)
    // the fold's cumulative claims must be exactly the model's claims
    val batchClaims = ErQueries.truthResults(s, "/root/testdata/sf0.001")
      .claims.select(col("source"), col("entity"), col("value"))
    assert(st.claims.count() === batchClaims.count())
    assert(st.claims.except(batchClaims).count() === 0L)
    // and the resolution matches the batch fixpoint's 50/50 pin
    val truth = ErQueries.truthResults(s, "/root/testdata/sf0.001")
      .claims.select(col("entity"), col("truth")).distinct()
    val correct = st.resolved.join(truth, "entity")
      .agg(sum(when(col("value") === col("truth"), 1L).otherwise(0L)),
        count(lit(1))).head()
    assert(correct.getLong(0) === 50L && correct.getLong(1) === 50L)
  }
}

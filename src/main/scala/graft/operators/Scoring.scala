package graft.operators

import graft.model.{PartMetrics, ScoreRow, TreeRow}
import graft.zs.Scorer
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** Stage 3: pairwise Zhang–Shasha scoring inside `mapPartitions`.
  *
  * The DP kernel is a black box to Catalyst by design (SURVEY.md §5):
  * keyroot decomposition must not be decomposed into relational ops. One
  * [[Scorer]] per partition reuses its scratch matrices across every
  * pair, so steady-state scoring allocates nothing but the output rows.
  *
  * Per-partition lineage goes through a CollectionAccumulator — one
  * [[PartMetrics]] row per task, registered via a task-completion
  * listener, collected on the driver after the action and persisted by
  * the Pipeline. #rows = #partitions, so the driver-side cost is
  * negligible even at cluster scale.
  */
object Scoring {

  /** Internal join-product row: a candidate pair with both flattened trees. */
  final case class PairTrees(
      idA: String, idB: String,
      laA: Array[Long], lmA: Array[Int], krA: Array[Int],
      laB: Array[Long], lmB: Array[Int], krB: Array[Int])

  /** Attach both trees to each candidate pair: two plain equi-joins on
    * id, the trees side one row per key. No salting: the blocking cap
    * (`CandidateGen.capByKey`) bounds every id's pair degree BEFORE pairs
    * exist — a tree has at most 2·bands + 1 block keys (two size buckets
    * per band, plus the sha256 key) and each block keeps at most
    * maxBlockSize members, so degree ≤ (2·bands + 1)·(maxBlockSize − 1)
    * = 1,071 at the defaults. No id is hot enough to need spreading;
    * AQE skew-join split (Pipeline.tune) covers residual shuffle skew.
    */
  def attachTrees(pairs: DataFrame, trees: Dataset[TreeRow]): Dataset[PairTrees] = {
    val spark = trees.sparkSession
    import spark.implicits._
    // ship hashed labels, not strings: primitive-array rows keep the
    // scoring stage free of string deserialization and shrink shuffle
    // and cache bytes (labels stay on TreeRow for the SQL surface)
    def side(s: String) = trees.toDF().select($"id".as(s"id$s"),
      $"labelsH".as(s"la$s"), $"lmds".as(s"lm$s"), $"keyroots".as(s"kr$s"))
    val withB = pairs.join(side("A"), "idA").join(side("B"), "idB")
    // Explicit repartition before the DP stage: AQE sizes the join
    // output by BYTES (~64MB targets), but scoring cost is CPU per pair
    // — a byte-coalesced layout would cap DP parallelism at a handful
    // of tasks. Hash on the pair id so heavy trees spread evenly.
    val par = spark.sparkContext.defaultParallelism * 6
    withB.select($"idA", $"idB", $"laA", $"lmA", $"krA", $"laB", $"lmB", $"krB")
      .repartition(par, $"idA", $"idB")
      .as[PairTrees]
  }

  /** Score all pairs; `tau` is the normalized-distance match threshold.
    * normDist = dist / (nA + nB), well-defined in [0,1] by the unit-cost
    * bound d ≤ |A| + |B|. */
  def score(
      pairTrees: Dataset[PairTrees],
      tau: Double,
      metricsAcc: Option[CollectionAccumulator[PartMetrics]] = None): Dataset[ScoreRow] = {
    val spark = pairTrees.sparkSession
    import spark.implicits._
    pairTrees.mapPartitions { it =>
      val scorer = new Scorer
      val t0 = System.nanoTime()
      var rowsIn = 0L
      metricsAcc.foreach { acc =>
        val tc = TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          acc.add(PartMetrics(
            stage = "score",
            partitionId = tc.partitionId(),
            rowsIn = rowsIn,
            rowsOut = rowsIn,
            pairsScored = scorer.pairsScored,
            dpCells = scorer.cellsTouched,
            wallNs = System.nanoTime() - t0))
        }
      }
      val emptyHash = graft.util.Hashing.hashString("")
      it.map { p =>
        rowsIn += 1
        val nA = p.laA.length
        val nB = p.laB.length
        // Banded DP: exact distance for matches (d ≤ τ·(nA+nB)), capped
        // at maxDist+1 beyond. Its band grows by doubling to the pair's
        // distance, so a near-duplicate walks a band of width ~2d in
        // the keyroot pairs near the diagonal, not 2τ·(nA+nB) in all.
        val maxDist = (tau * (nA + nB)).toInt
        val d = scorer.distHashedBounded(
          p.laA, p.lmA, p.krA, p.laB, p.lmB, p.krB, emptyHash, maxDist)
        val nd = d.toDouble / math.max(1, nA + nB)
        ScoreRow(p.idA, p.idB, d, nA, nB, nd, isMatch = nd <= tau)
      }
    }
  }

  /** Matched edges only, as (idA, idB). */
  def matches(scores: Dataset[ScoreRow]): DataFrame = {
    import scores.sparkSession.implicits._
    scores.toDF().where($"isMatch").select($"idA", $"idB")
  }
}

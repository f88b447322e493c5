package graft.streaming

import graft.operators.{CandidateGen, Pprl}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental (streaming) PPRL blocking: the foreachBatch twin of
  * [[Pprl.encodedPairs]] with EXACT batch equivalence.
  *
  * The subtlety is the PURGE rule. Capped blocking (StreamingDedup) is
  * monotone — pairs only ever appear — so a cumulative pair table
  * works. Purging is NOT monotone: a block that crosses the purge
  * bound must RETRACT every pair it ever produced (the batch run would
  * never have emitted them). Emitting retraction rows would push the
  * bookkeeping onto every consumer; instead the state machine keeps
  * the invariant that the candidate set is a PURE VIEW over bounded
  * state:
  *
  *   - per band key, state is either (alive, members) with
  *     |members| ≤ purge, or a DEAD tombstone with members dropped;
  *   - a key dies exactly when its cumulative membership exceeds
  *     purge, and death is monotone (a dead key never revives);
  *   - candidate pairs are derived on read from the alive blocks only
  *     — so a key's death retracts its pairs by construction, and
  *     after every batch `pairs(state)` equals the batch
  *     [[Pprl.purgedPairs]] over all data seen so far EXACTLY
  *     (asserted per batch in StreamingPprlSpec).
  *
  * Replay safety: membership is a set (array_union), so re-folding a
  * batch is a no-op on alive keys and harmless on dead ones —
  * at-least-once delivery needs no replay guard (spec-locked).
  *
  * Scale shape: the fold is ONE full-outer join of the key-partitioned
  * state with a delta-sized aggregate (at 10^12 rows the state side is
  * a bucketed table pruning to touched buckets, as in [[StreamingEr]]/
  * [[StreamingDedup]]); state per key is ≤ purge members or a
  * tombstone, so the pair view fans out at most C(purge, 2) per key.
  */
object StreamingPprl {

  final case class State(blocks: DataFrame, batchesSeen: Int)

  private def emptyMembers = array().cast("array<string>")

  /** Fold one micro-batch of band keys (key, id) into the block state
    * (key, members, dead). */
  def foldBlocks(prev: Option[DataFrame], newKeyed: DataFrame,
                 purge: Int): DataFrame = {
    val delta = newKeyed.distinct().groupBy(col("key"))
      .agg(sort_array(collect_set(col("id"))).as("nm"))
    val merged = prev match {
      case None => delta.select(col("key"), col("nm").as("u"), lit(false).as("wasDead"))
      case Some(p) =>
        p.join(delta, Seq("key"), "full_outer")
          .select(col("key"),
            array_sort(array_union(
              coalesce(col("members"), emptyMembers),
              coalesce(col("nm"), emptyMembers))).as("u"),
            coalesce(col("dead"), lit(false)).as("wasDead"))
    }
    merged.select(col("key"),
      when(col("wasDead") || size(col("u")) > purge, emptyMembers)
        .otherwise(col("u")).as("members"),
      (col("wasDead") || size(col("u")) > purge).as("dead"))
  }

  /** One micro-batch: encode-side callers pass the new docs' band keys
    * ((key, id), e.g. `Pprl.hlshKeys(encodedBatch, cfg, clk)`). The
    * returned state's blocks are eagerly checkpointed so lineage never
    * chains across batches. */
  def foldBatch(prev: Option[State], newKeyed: DataFrame,
                cfg: Pprl.HlshConfig = Pprl.HlshConfig()): State = {
    val blocks = foldBlocks(prev.map(_.blocks), newKeyed, cfg.purge)
      .localCheckpoint(true)
    State(blocks, prev.map(_.batchesSeen).getOrElse(0) + 1)
  }

  /** The candidate-pair VIEW over the alive blocks — equals batch
    * [[Pprl.purgedPairs]] over everything folded so far, exactly. */
  def pairs(state: State): DataFrame =
    state.blocks
      .where(!col("dead") && size(col("members")) >= 2)
      .select(explode(CandidateGen.pairwise(col("members"),
        (x, y) => struct(x.as("idA"), y.as("idB")))).as("p"))
      .select(col("p.idA"), col("p.idB"))
      .distinct()

  /** Durable fold: each batch resumes from the latest COMPLETE block
    * generation in storage ([[StateGenerations]], `_SUCCESS`-gated) and
    * commits the next — a crash between batches loses nothing, a
    * half-written generation is refused on resume and overwritten by the
    * retry, and at-least-once redelivery is idempotent because the fold
    * is (set-union state). The returned state's blocks read back FROM
    * storage, so lineage is cut at the table and the next fold's
    * full-outer join starts from persisted data. */
  def updateDurable(spark: SparkSession, newKeyed: DataFrame,
                    io: graft.sources.TableIO,
                    cfg: Pprl.HlshConfig = Pprl.HlshConfig()): State = {
    val store = new StateGenerations(spark, io, "spprl", Seq(StateGenerations.Table("blocks")))
    val prev = store.latest.map(g => State(g("blocks"), g.batchesSeen))
    val g = store.commit("blocks" -> foldBatch(prev, newKeyed, cfg).blocks)
    State(g("blocks"), g.batchesSeen)
  }

  /** foreachBatch wiring over a stream of documents already encoded to
    * band keys (key, id). */
  def start[T](stream: Dataset[T],
               toKeyed: DataFrame => DataFrame,
               cfg: Pprl.HlshConfig = Pprl.HlshConfig())(
               onBatch: State => Unit): StreamingQuery = {
    var state: Option[State] = None
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        val next = foldBatch(state, toKeyed(batch.toDF()), cfg)
        state = Some(next)
        onBatch(next)
      }
      .start()
  }
}

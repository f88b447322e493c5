package graft.streaming

import graft.operators.{CandidateGen, Dedup}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental (streaming) corpus dedup: the foreachBatch twin of
  * [[graft.operators.Dedup.minHashPairs]], built on the same
  * capped-member bucketed state machine as [[StreamingEr]]. Each
  * micro-batch of new documents is MinHash-banded, merged into the
  * persistent `(key, members)` block index with ONE delta-sized
  * exchange ([[CandidateGen.mergeCappedMembers]] — the state side reads
  * pre-distributed from its bucketed table), and near-dup candidate
  * pairs touching a new member are emitted join-free
  * ([[CandidateGen.pairsWithNewMember]] — membership colocated in the
  * row). The cumulative pair set only ever grows: a near-dup, once
  * found, is never un-found, and when no block overflows the cap the
  * result equals batch [[Dedup.minHashPairs]] exactly (cap subset
  * monotonicity; StreamingDedupSpec asserts it).
  *
  * The whole path is NATURALLY idempotent under at-least-once replay:
  * re-merging a batch's members is a set union (no-op), and re-emitting
  * its pairs lands in a distinct-union — no replay guard needed, which
  * a spec locks by feeding the same batch twice.
  *
  * At 10^12-document scale the index is an Iceberg bucket-partitioned
  * table and each batch prunes to touched buckets; locally
  * [[graft.sources.BucketedState]] demonstrates the identical plan
  * shape, and survives process restarts via sidecar-validated DDL
  * re-registration.
  */
object StreamingDedup {

  final case class DedupState(
      index: DataFrame,   // (key, members sorted array) — capped block index
      pairs: DataFrame,   // (idA, idB) cumulative near-dup candidates
      batchesSeen: Int)

  /** One micro-batch against durable state under `bucketRoot`/`io` —
    * self-resuming like [[StreamingEr.processBatchBucketed]]: every call
    * finds the LATEST complete [[StateGenerations]] generation (the
    * index bucketed by key, then the pairs table) and commits the next,
    * so a crash or restart between batches loses nothing and storage
    * stays at two generations, not O(batches). `batchesSeen` counts
    * generations ever written (GC does not reset it). */
  def processBatchBucketed(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      io: graft.sources.TableIO,
      bucketRoot: String,
      numBuckets: Int,
      p: Dedup.MinHashParams = Dedup.MinHashParams()): DedupState = {
    graft.Pipeline.tune(spark)
    val store = new StateGenerations(spark, io, "dstream", Seq(
      StateGenerations.Table("index", Some("key")), StateGenerations.Table("pairs")),
      Some(StateGenerations.Buckets(bucketRoot, numBuckets)))
    val prev = store.latest
    val prevPairs = prev.map(_("pairs"))

    val merged = CandidateGen
      .mergeCappedMembers(prev.map(_("index")),
        Dedup.minHashKeyed(newDocs, idCol, textCol, p), p.cap)
      .persist()
    val newPairs = CandidateGen.pairsWithNewMember(merged)
    val allPairs = prevPairs.map(_.unionByName(newPairs)).getOrElse(newPairs).distinct()

    val g = store.commit("index" -> merged.select(col("key"), col("members")),
      "pairs" -> allPairs)
    merged.unpersist()
    DedupState(index = g("index"), pairs = g("pairs"), batchesSeen = g.batchesSeen)
  }

  /** foreachBatch wiring: stop/restart/crash-safe — every micro-batch
    * resumes from the latest complete state generation in storage. */
  def startCheckpointedBucketed[T](
      spark: SparkSession,
      stream: Dataset[T],
      idCol: String,
      textCol: String,
      io: graft.sources.TableIO,
      bucketRoot: String,
      numBuckets: Int,
      p: Dedup.MinHashParams = Dedup.MinHashParams())(
      onBatch: DedupState => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        onBatch(processBatchBucketed(
          spark, batch.toDF(), idCol, textCol, io, bucketRoot, numBuckets, p))
      }
      .start()
}

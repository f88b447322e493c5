package graft.streaming

import graft.operators.IncrementalAgg
import graft.sources.TableIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the EXACT incremental aggregate table
  * ([[IncrementalAgg]]): each micro-batch folds its delta into the
  * persisted per-group (count, decimal-sum) state.
  *
  * Unlike the sketch table (whose union is idempotent by itself), an
  * exact-sum fold applied twice DOUBLE-COUNTS — so replay safety comes
  * from [[StateGenerations]]: batch n commits generation `agg_state_b{n}`
  * computed from the latest complete generation below n ⊕ agg(delta_n).
  * Re-delivering batch n recomputes `agg_state_b{n}` from the UNCHANGED
  * generation below it — same result, not a double application — and
  * the store keeps only the newest generations, so state does not grow
  * with the stream's age. Reads resume from the latest complete
  * generation. Each generation is #groups rows — metadata-sized,
  * O(delta) work per batch, never an O(history) rescan.
  */
object StreamingAgg {

  private def store(spark: SparkSession, io: TableIO) =
    new StateGenerations(spark, io, "agg", Seq(StateGenerations.Table("state")))

  /** Latest complete generation number, if any. */
  def latestGen(spark: SparkSession, io: TableIO): Option[Long] =
    store(spark, io).latest.map(_.number)

  /** Current state (latest complete generation). */
  def state(spark: SparkSession, io: TableIO): Option[DataFrame] =
    store(spark, io).latest.map(_("state"))

  /** Fold one micro-batch: generation batchId = prev ⊕ agg(batch). */
  def processBatch(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                   sumCols: Seq[String], io: TableIO): Unit = {
    val st = store(batch.sparkSession, io)
    val deltaAgg = IncrementalAgg.aggregate(batch, groupCols, sumCols)
    // resume from the latest generation BELOW this batch id — a replay
    // of batch n must not fold into n's own (possibly complete) output
    val next = st.latestBelow(batchId).map(_("state")) match {
      case Some(prev) => IncrementalAgg.merge(prev, deltaAgg, groupCols, sumCols)
      case None => deltaAgg
    }
    st.commitAt(batchId, "state" -> next)
  }

  /** foreachBatch wiring for a streaming source. */
  def start[T](stream: Dataset[T], groupCols: Seq[String], sumCols: Seq[String],
               io: TableIO, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        processBatch(batch.toDF(), batchId, groupCols, sumCols, io)
      }
      .start()
}

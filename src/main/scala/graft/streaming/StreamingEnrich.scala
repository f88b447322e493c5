package graft.streaming

import graft.sources.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Stream enrichment against a SLOWLY-CHANGING dimension.
  *
  * A plain stream-static join freezes the static side's content at
  * query planning for most sources — a dim row updated mid-stream is
  * not reliably observed by later micro-batches. And maintaining the
  * dim by OVERWRITING one directory races against concurrent readers
  * (the overwrite deletes files mid-scan). So the dim here is
  * VERSIONED: [[publishDim]] writes each snapshot as a brand-new
  * `<prefix>_v<N>` table — complete (`_SUCCESS`-gated) before it is
  * discoverable, never mutated after — and every micro-batch resolves
  * the LATEST COMPLETE version via `TableIO.listTables` and
  * broadcast-joins it. A half-written update is invisible by
  * construction (no `_SUCCESS` → not listed → the batch keeps using
  * the previous version), and an in-flight batch reading version N is
  * untouched by version N+1 landing beside it. With Iceberg, versions
  * collapse into one table's snapshots and the resolve becomes a
  * snapshot read.
  *
  * The dim read is one small table listing per batch; the join never
  * shuffles the stream side. Old versions are pruned with
  * [[pruneDimVersions]] once no in-flight batch can be reading them.
  *
  * StreamingEnrichSpec publishes a new version between batches and
  * asserts each batch joined against the snapshot current AT ITS TIME
  * — and that rows with no dim entry pass through null-enriched
  * rather than being dropped (left join: enrichment must never lose
  * events).
  */
object StreamingEnrich {

  private def versionsOf(io: TableIO, spark: SparkSession, dimPrefix: String): Seq[Int] =
    StateGenerations.numbered(spark, io, s"${dimPrefix}_v").map(_.toInt)

  /** Publish `df` as the next dim version; returns the version number.
    * The snapshot is complete before it becomes discoverable. */
  def publishDim(io: TableIO, spark: SparkSession, df: DataFrame, dimPrefix: String): Int = {
    val next = versionsOf(io, spark, dimPrefix).lastOption.getOrElse(0) + 1
    io.write(df, s"${dimPrefix}_v$next")
    next
  }

  /** The latest complete dim snapshot (None before the first publish). */
  def latestDim(io: TableIO, spark: SparkSession, dimPrefix: String): Option[DataFrame] =
    versionsOf(io, spark, dimPrefix).lastOption
      .map(v => io.read(spark, s"${dimPrefix}_v$v"))

  /** Drop all but the newest `retain` versions. */
  def pruneDimVersions(io: TableIO, spark: SparkSession, dimPrefix: String,
                       retain: Int = 2): Unit =
    StateGenerations.dropOldest(spark, io, s"${dimPrefix}_v", retain)

  /** `stream`: any streaming DataFrame with `keyCol`; each micro-batch
    * is left-joined against the latest complete `<dimPrefix>_v<N>`
    * snapshot and appended to the parquet directory `outPath`, tagged
    * with the batch id. Pass `checkpoint` for restart durability —
    * with it, batch ids continue across restarts and a replayed batch
    * overlaps an identifiable id; without it the query runs on an
    * ephemeral checkpoint (ids restart at 0). */
  def enrichedStream(stream: DataFrame, io: TableIO, dimPrefix: String,
                     keyCol: String, outPath: String,
                     checkpoint: Option[String] = None): StreamingQuery = {
    val spark = stream.sparkSession
    val writer = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dim = latestDim(io, spark, dimPrefix).getOrElse(
          throw new IllegalStateException(s"no complete dim version under $dimPrefix"))
        batch.join(broadcast(dim), Seq(keyCol), "left")
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
        ()
      }
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer.start()
  }
}

package graft.streaming

import graft.operators.{DsSketches, Sketches}
import graft.sources.TableIO
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of a mergeable sketch table — the cheap path
  * to "distinct users per group, live" at 100 TB ingest rates.
  *
  * Each micro-batch folds its rows into ONE Datasketches HLL sketch
  * per (group, batch) and writes only those kilobyte rows
  * ([[Sketches.hllPartials]] with the batch id as the shard); a read
  * unions the sketches ([[Sketches.hllMergeEstimate]]), never the
  * underlying events. Because HLL union is register-wise max, the
  * merged estimate is EXACTLY what one sketch over all rows would
  * give, for ANY batch split — StreamingSketchSpec asserts equality
  * against the batch-built sketch, not approximation.
  *
  * Durability/replay: each batch writes its partial under a
  * batch-numbered, `_SUCCESS`-gated table (overwrite semantics), so an
  * at-least-once re-delivery of a batch overwrites the same table with
  * the same sketch — idempotent with no fold at all. These tables are
  * not [[StateGenerations]]: a read unions every batch's partial, so
  * none is superseded and none is pruned.
  *
  * The same batch-numbered shape carries the three Datasketches
  * families ([[graft.operators.DsSketches]]): theta (live distinct sets
  * that support set ALGEBRA across streamed groups at read time), KLL
  * (live quantiles), and Misra–Gries (live heavy hitters). Theta/HLL
  * reads reproduce the one-pass sketch exactly; KLL/freq replays may
  * legally shift estimates within bounds (randomized compaction /
  * arrival-order eviction) — the spec pins the guarantees, not bytes.
  */
object StreamingSketch {

  val TablePrefix = "hll_shard_b"

  /** Fold one micro-batch into its per-group sketch row and persist it
    * under a batch-numbered table. Exposed for direct testing. */
  def processBatch(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                   valueCol: String, io: TableIO): Unit = {
    val partial = Sketches.hllPartials(batch, groupCols,
      lit(batchId).as("shard"), valueCol)
    io.write(partial, s"$TablePrefix$batchId")
  }

  /** All persisted partials (complete batches only — `_SUCCESS`-gated
    * by TableIO). */
  def partials(spark: SparkSession, io: TableIO): DataFrame =
    partialsOf(spark, io, TablePrefix)

  private def partialsOf(spark: SparkSession, io: TableIO, prefix: String): DataFrame =
    io.listTables(spark, prefix)
      .map(t => io.read(spark, t))
      .reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalStateException(
        s"no committed sketch partials under prefix '$prefix' yet — " +
          "the stream has not completed its first batch"))

  /** Current per-group distinct estimate from the sketch table alone —
    * the production read path: unions #batches kilobyte rows. */
  def estimate(spark: SparkSession, io: TableIO, groupCols: Seq[String]): DataFrame =
    Sketches.hllMergeEstimate(partials(spark, io), groupCols)

  /** foreachBatch wiring for a streaming source. */
  def start[T](stream: Dataset[T], groupCols: Seq[String], valueCol: String,
               io: TableIO, checkpointDir: String): StreamingQuery =
    startWith(stream, checkpointDir) { (batch, batchId) =>
      processBatch(batch, batchId, groupCols, valueCol, io)
    }

  /** Generic foreachBatch wiring: any batch-numbered sketch processor. */
  def startWith[T](stream: Dataset[T], checkpointDir: String)
                  (process: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        process(batch.toDF(), batchId)
      }
      .start()

  // ---- Datasketches families: same batch-numbered idempotent shape ----

  val ThetaPrefix = "theta_shard_b"
  val KllPrefix = "kll_shard_b"
  val FreqPrefix = "freq_shard_b"

  /** Theta twin: live distinct sets that additionally support set
    * ALGEBRA at read time — two streamed groups' sketches intersect /
    * difference without touching any row (exact below 2^lgK). */
  def processBatchTheta(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                        valueCol: String, io: TableIO): Unit =
    io.write(DsSketches.thetaPartials(batch, groupCols,
      lit(batchId).as("shard"), valueCol), s"$ThetaPrefix$batchId")

  /** Merged per-group theta estimate (+2σ bounds) from sketches alone. */
  def thetaEstimate(spark: SparkSession, io: TableIO,
                    groupCols: Seq[String]): DataFrame =
    DsSketches.thetaMergeEstimate(partialsOf(spark, io, ThetaPrefix), groupCols)

  /** Merged per-group theta SKETCHES — input for set algebra across the
    * streamed groups (DsSketches.theta*Pair). */
  def thetaSketches(spark: SparkSession, io: TableIO,
                    groupCols: Seq[String]): DataFrame =
    DsSketches.thetaMerge(partialsOf(spark, io, ThetaPrefix), groupCols)

  /** KLL twin: live quantiles per group from a mergeable sketch table. */
  def processBatchKll(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                      valueCol: String, io: TableIO): Unit =
    io.write(DsSketches.kllPartials(batch, groupCols,
      lit(batchId).as("shard"), valueCol), s"$KllPrefix$batchId")

  def kllQuantiles(spark: SparkSession, io: TableIO, groupCols: Seq[String],
                   ps: Seq[Double]): DataFrame =
    DsSketches.kllMergedQuantiles(partialsOf(spark, io, KllPrefix), groupCols, ps)

  /** Frequent-items twin: one Misra–Gries partial row per batch; the
    * read merges #batches kilobyte rows into live heavy hitters. */
  def processBatchFreq(batch: DataFrame, batchId: Long, keyCol: Column,
                       io: TableIO, maxMapSize: Int = DsSketches.FreqMapSize): Unit = {
    DsSketches.register(batch.sparkSession)
    io.write(batch.agg(call_function("graft_freq_agg", keyCol,
      lit(maxMapSize)).as("sketch")), s"$FreqPrefix$batchId")
  }

  /** Live heavy hitters (item, est, lb, ub) from the streamed partials. */
  def freqItems(spark: SparkSession, io: TableIO,
                maxMapSize: Int = DsSketches.FreqMapSize): DataFrame = {
    DsSketches.register(spark)
    val merged = partialsOf(spark, io, FreqPrefix)
      .agg(call_function("graft_freq_agg", col("sketch"), lit(maxMapSize)).as("s"))
      .head().getAs[Array[Byte]](0)
    DsSketches.freqItems(spark, merged)
  }

  // ---- sampling + tuple twins: batch id is the shard, merge at read ----

  val TuplePrefix = "tuple_shard_b"
  val ReservoirPrefix = "res_shard_b"
  val VarOptPrefix = "varopt_shard_b"

  /** Tuple twin: live per-group distinct-key sets, each retained key
    * carrying its running metric SUM — merged sketches still support
    * read-time set algebra across streamed groups. */
  def processBatchTuple(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                        keyCol: String, valueCol: String, io: TableIO): Unit =
    io.write(DsSketches.tupleSketch(batch, groupCols, keyCol, valueCol),
      s"$TuplePrefix$batchId")

  /** Merged per-group tuple SKETCHES from the streamed partials. */
  def tupleSketches(spark: SparkSession, io: TableIO,
                    groupCols: Seq[String]): DataFrame =
    DsSketches.tupleMerge(partialsOf(spark, io, TuplePrefix), groupCols)

  /** Reservoir twin: a live uniform k-sample per group. Reservoir union
    * is n-weighted, so the merged sample is a VALID uniform k-sample of
    * everything streamed so far, for ANY batch split. */
  def processBatchReservoir(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                            valueCol: String, io: TableIO,
                            k: Int = DsSketches.ReservoirK): Unit =
    io.write(DsSketches.reservoirSketch(batch, groupCols, valueCol, k),
      s"$ReservoirPrefix$batchId")

  /** Merged per-group reservoir SKETCHES from the streamed partials. */
  def reservoirSketches(spark: SparkSession, io: TableIO, groupCols: Seq[String],
                        k: Int = DsSketches.ReservoirK): DataFrame =
    DsSketches.reservoirMerge(partialsOf(spark, io, ReservoirPrefix), groupCols, k)

  /** VarOpt twin: a live WEIGHTED k-sample per group whose total weight
    * stays exact under union — streaming importance sampling with
    * unbiased subset-sum estimates at any read point. */
  def processBatchVarOpt(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                         keyCol: String, weightCol: String, io: TableIO,
                         k: Int = DsSketches.VarOptK): Unit =
    io.write(DsSketches.varoptSketch(batch, groupCols, keyCol, weightCol, k),
      s"$VarOptPrefix$batchId")

  /** Merged per-group VarOpt SKETCHES from the streamed partials. */
  def varoptSketches(spark: SparkSession, io: TableIO, groupCols: Seq[String],
                     k: Int = DsSketches.VarOptK): DataFrame =
    DsSketches.varoptMerge(partialsOf(spark, io, VarOptPrefix), groupCols, k)
}

package graft.streaming

import graft.operators.Survivorship
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental golden-record maintenance over a streaming ER run: after
  * each micro-batch's clustering, recompute canonical rows ONLY for the
  * clusters whose membership changed and carry every other golden row
  * forward — the O(delta)-per-batch shape a 10^12-file deployment needs
  * (recomputing survivorship over the full cluster table per batch is
  * an O(history) rescan).
  *
  * Affected-cluster rule: diff the previous and current cluster
  * assignments per id (null-safe full outer). A cluster is affected iff
  * it contains an id whose assignment changed — which covers every
  * mutation CC can produce: new member joins (its id is new), two
  * clusters merge (the losing cluster's members all change id), a
  * cluster's representative changes (every member re-labels). Clusters
  * whose id vanished entirely (merged away) are dropped via the
  * semi-join on current cluster ids. Everything else is carried
  * verbatim — asserted by the spec via the `nRecomputed` metric.
  */
object StreamingSurvivorship {

  /** golden: the maintained canonical-row table; clusters: the
    * assignment it was built from; attrs: cumulative per-id attributes
    * (id, lang, commit, sha256, content_len); nRecomputed: clusters
    * recomputed THIS batch (the delta-size evidence). */
  final case class GoldenState(
      golden: DataFrame,
      clusters: DataFrame,
      attrs: DataFrame,
      nRecomputed: Long)

  /** Fold one batch: `clusters` is the ER state's full current
    * assignment, `batchAttrs` the NEW ids' attribute rows. At cluster
    * scale `attrs`/`golden` live as TableIO tables; here they are
    * checkpointed DataFrames (same algebra; `clusters` may be the
    * storage read-back StreamingEr.processBatchBucketed returns). */
  def update(clusters: DataFrame, batchAttrs: DataFrame,
      prev: Option[GoldenState]): GoldenState = {
    val attrs = prev match {
      case Some(p) => p.attrs.unionByName(batchAttrs).localCheckpoint(true)
      case None => batchAttrs.localCheckpoint(true)
    }
    val cl = clusters.localCheckpoint(true)
    prev match {
      case None =>
        val golden = Survivorship.goldenRecords(cl, attrs).localCheckpoint(true)
        GoldenState(golden, cl, attrs, golden.count())
      case Some(p) =>
        // ids whose assignment changed (appeared, vanished, re-labeled)
        val changed = p.clusters.withColumnRenamed("clusterId", "prevCid")
          .join(cl, Seq("id"), "full_outer")
          .where(!(col("prevCid") <=> col("clusterId")))
        // affected = current clusters containing any changed id
        val affected = cl.join(
          changed.select(col("clusterId")).where(col("clusterId").isNotNull).distinct(),
          Seq("clusterId"), "left_semi")
        val recomputed = Survivorship.goldenRecords(affected, attrs)
        val liveCids = cl.select(col("clusterId")).distinct()
        val carried = p.golden
          .join(liveCids, Seq("clusterId"), "left_semi") // merged-away rows drop
          .join(recomputed.select(col("clusterId")), Seq("clusterId"), "left_anti")
        val golden = carried.unionByName(recomputed).localCheckpoint(true)
        GoldenState(golden, cl, attrs, recomputed.count())
    }
  }
}

package graft.streaming

import graft.operators.OneToOneMatching
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental one-to-one linkage: fold micro-batches of cross-catalog
  * candidate edges and keep the greedy maximum-weight 1:1 matching
  * current after every batch.
  *
  * Greedy matching is NOT incrementally maintainable under edge
  * insertion: one new heavy edge can displace both its endpoints'
  * standing matches and the displaced partners' next-best edges cascade
  * arbitrarily far (the same structural argument as connected components
  * under deletion — [[graft.operators.Clustering.retract]]). The honest
  * design therefore retains the cumulative ACCEPTED-edge set (small by
  * construction: FS-accepted pairs, ~O(#records), not candidate pairs)
  * and re-matches it per batch; the measured geometric round decay
  * (BENCH.md — 6 rounds at 2M edges) makes the re-match cheap relative
  * to the scoring that produced the edges. At deployment scale the edge
  * set is a `TableIO`-backed table exactly like
  * [[StreamingEr]]'s match state; the in-memory state here keeps the
  * semantics testable without a metastore.
  *
  * Replay guard: edges are keyed by (lft, rgt) and duplicates keep the
  * MAX weight, so at-least-once redelivery — same pair, same weight —
  * is idempotent, and a re-scored pair deterministically upgrades.
  */
object StreamingLink {

  final case class LinkState(edges: DataFrame, matched: DataFrame, batches: Int)

  /** Fold one micro-batch of edges (lft, rgt, w) into `prev`. Returns
    * the new state: cumulative deduplicated edges and the matching over
    * them — identical, including round numbers, to
    * [[OneToOneMatching.greedyMatch]] over all edges seen so far. */
  def update(
      spark: SparkSession,
      newEdges: DataFrame,
      prev: Option[LinkState]): LinkState = {
    val batch = newEdges.select(col("lft"), col("rgt"), col("w"))
    val all = prev.map(_.edges.unionByName(batch)).getOrElse(batch)
      .groupBy(col("lft"), col("rgt")).agg(max(col("w")).as("w"))
      .localCheckpoint(true)
    val matched = OneToOneMatching.greedyMatch(all).localCheckpoint(true)
    LinkState(all, matched, prev.map(_.batches).getOrElse(0) + 1)
  }

  /** Durable twin of [[update]]: state round-trips through `io` as one
    * [[StateGenerations]] generation per batch (the cumulative edge
    * table, the authoritative state, then the matched table, written
    * alongside so readers never pay a re-match), so a crashed stream
    * RESUMES at the last complete batch — the same kill-and-resume
    * contract as StreamingEr's checkpointed path. */
  def updateDurable(
      spark: SparkSession,
      newEdges: DataFrame,
      io: graft.sources.TableIO): LinkState = {
    val store = new StateGenerations(spark, io, "slink",
      Seq(StateGenerations.Table("edges"), StateGenerations.Table("matched")))
    val prev = store.latest.map(g =>
      LinkState(g("edges"), g("matched"), g.batchesSeen))
    val next = update(spark, newEdges, prev)
    store.commit("edges" -> next.edges, "matched" -> next.matched)
    next
  }
}

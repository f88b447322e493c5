package graft.streaming

import graft.operators.TruthDiscovery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental truth discovery: fold micro-batches of claims and keep
  * the source-reliability fixpoint's resolution current after every
  * batch.
  *
  * Truth discovery is NOT incrementally maintainable under claim
  * insertion: one batch can flip a source's estimated reliability and
  * every belief that source touches re-weighs, cascading through the
  * fixpoint (the same structural argument as greedy matching under edge
  * insertion — [[StreamingLink]] — and components under deletion). The
  * honest design therefore retains the cumulative DISTINCT claims set
  * (small by construction: one row per source-entity-value assertion,
  * not per delivery) and re-runs the fixed-round fixpoint per batch;
  * the measured flat per-round cost (BENCH.md, "Truth-discovery fixpoint
  * at 10M claims") makes the re-fit cheap and PREDICTABLE — each batch
  * pays rounds × (one broadcast join + two aggregates) over the claims
  * table, nothing history-proportional beyond the claims themselves.
  * At deployment scale the claims set is a `TableIO`-backed table
  * exactly like [[StreamingEr]]'s match state; the in-memory state
  * keeps the semantics testable without a metastore.
  *
  * Replay guard: claims are SET-semantic — the state is
  * `distinct(source, entity, value)` — so at-least-once redelivery of
  * any batch (or any subset) is exactly idempotent.
  */
object StreamingTruth {

  final case class TruthState(claims: DataFrame, trust: DataFrame,
                              resolved: DataFrame, batches: Int)

  /** Fold one micro-batch of claims (source, entity, value) into
    * `prev`. Returns the new state: cumulative distinct claims, final
    * per-source trust, and the per-entity resolution — identical,
    * including tie-breaks, to [[TruthDiscovery.resolve]] over all
    * claims seen so far. */
  def update(
      spark: SparkSession,
      newClaims: DataFrame,
      prev: Option[TruthState]): TruthState = {
    val batch = newClaims.select(col("source"), col("entity"), col("value"))
    val all = prev.map(_.claims.unionByName(batch)).getOrElse(batch)
      .distinct()
      .localCheckpoint(true)
    val r = TruthDiscovery.investment(all)
    val resolved = TruthDiscovery.resolveFrom(all, r).localCheckpoint(true)
    TruthState(all, r.trust.localCheckpoint(true), resolved,
      prev.map(_.batches).getOrElse(0) + 1)
  }

  /** Durable twin of [[update]]: state round-trips through `io` as one
    * [[StateGenerations]] generation per batch (the cumulative claims
    * table, the authoritative state, then trust and resolution, written
    * alongside so readers never re-run the fixpoint), so a crashed
    * stream RESUMES at the last complete batch. */
  def updateDurable(
      spark: SparkSession,
      newClaims: DataFrame,
      io: graft.sources.TableIO): TruthState = {
    val store = new StateGenerations(spark, io, "struth", Seq(
      StateGenerations.Table("claims"), StateGenerations.Table("trust"),
      StateGenerations.Table("resolved")))
    val prev = store.latest.map(g =>
      TruthState(g("claims"), g("trust"), g("resolved"), g.batchesSeen))
    val next = update(spark, newClaims, prev)
    store.commit("claims" -> next.claims, "trust" -> next.trust,
      "resolved" -> next.resolved)
    next
  }
}

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

  /** Durable twin of [[update]]: state round-trips through `io`
    * (`_SUCCESS`-gated tables, one generation per batch), so a crashed
    * stream RESUMES at the last complete batch. The cumulative claims
    * table is the authoritative state; trust and resolution are written
    * alongside so readers never re-run the fixpoint. Generation
    * bookkeeping is [[StateGenerations]] over `io.listTables` (the io
    * the state is written with is the ONE source of truth for what
    * exists — no separate rootDir that could drift and silently resume
    * from empty, and catalog-backed TableIOs work unchanged): a crash
    * between the three writes leaves a half generation, which
    * `latestComplete` skips and the retried batch overwrites, and
    * generations older than `retain` are garbage-collected — storage
    * stays O(retain), not O(batches), and a listing (not a
    * scan-from-zero) finds the resume point, so pruned early
    * generations can never make a restart silently begin from empty.
    * GC deletes the claims table LAST: generations are keyed by the
    * claims prefix, so deleting the keyed table first and crashing
    * would orphan trust/resolved tables no later prune can find. */
  def updateDurable(
      spark: SparkSession,
      newClaims: DataFrame,
      io: graft.sources.TableIO,
      prefix: String = "struth",
      retain: Int = 2): TruthState = {
    require(retain >= 1, s"retain must be >= 1 (got $retain): retain 0 " +
      "would GC the generation just written and destroy all durable state")
    val (prev, k) = resumeState(spark, io, prefix)
    val next = update(spark, newClaims, prev)
    io.write(next.claims, s"${prefix}_claims_b$k")
    io.write(next.trust, s"${prefix}_trust_b$k")
    io.write(next.resolved, s"${prefix}_resolved_b$k")
    // GC listing is listTablesAll: a remnant that lost its _SUCCESS in
    // a crashed delete must still be visible to later prunes
    StateGenerations.prune(
      StateGenerations.fromNames(
        io.listTablesAll(spark, s"${prefix}_claims_b"), s"${prefix}_claims_b"),
      k - retain) { g =>
      io.delete(spark, s"${prefix}_trust_b$g")
      io.delete(spark, s"${prefix}_resolved_b$g")
      io.delete(spark, s"${prefix}_claims_b$g") // keyed table last
    }
    next
  }

  /** Latest COMPLETE generation under `prefix` (all three tables
    * present) rebuilt as a TruthState, plus the generation index the
    * NEXT batch writes. */
  def resumeState(
      spark: SparkSession,
      io: graft.sources.TableIO,
      prefix: String): (Option[TruthState], Int) = {
    val gens = StateGenerations.fromNames(
      io.listTables(spark, s"${prefix}_claims_b"), s"${prefix}_claims_b")
    val complete = (g: Int) =>
      io.exists(spark, s"${prefix}_claims_b$g") &&
        io.exists(spark, s"${prefix}_trust_b$g") &&
        io.exists(spark, s"${prefix}_resolved_b$g")
    StateGenerations.latestComplete(gens, complete) match {
      case None => (None, 0)
      case Some(g) => (Some(TruthState(
        claims = io.read(spark, s"${prefix}_claims_b$g"),
        trust = io.read(spark, s"${prefix}_trust_b$g"),
        resolved = io.read(spark, s"${prefix}_resolved_b$g"),
        batches = g + 1)), g + 1)
    }
  }
}

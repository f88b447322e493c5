package graft.streaming

import graft.Pipeline
import graft.model.{FileRow, TreeRow}
import graft.operators.{Blocking, CandidateGen, ParseStage, Scoring, Clustering}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** Incremental (streaming) entity resolution: the foreachBatch twin of
  * [[graft.Pipeline]]. Each micro-batch of new files is parsed and
  * blocked, candidate pairs are generated ONLY for pairs touching a new
  * id (new-vs-bucket, which covers new-new and new-old), scored with the
  * same banded ZSS kernel, and merged into the running clustering
  * incrementally: the previous assignment is contracted to star edges
  * (id → clusterId), so each batch's connected-components run sees
  * |new matches| + |nodes| edges instead of the full match history.
  *
  * There is one batch entry point, [[processBatchBucketed]]: state
  * round-trips through storage every batch, with the block index kept as
  * a key-bucketed table of capped member arrays, so a batch shuffles
  * only its delta. [[startCheckpointedBucketed]] wires it into a
  * Structured Streaming query and [[processDeletes]] commits a deletion
  * batch as the next state generation.
  *
  * Scale notes (10^12-file deployment shape):
  *  - State (trees, block index, assignments) lives in tables bucketed
  *    by id (trees) and block key (index), so the new-vs-bucket merge
  *    and the replay guard read the state side without an exchange; with
  *    Iceberg the merge additionally prunes to touched buckets.
  *  - The per-bucket cap bounds batch cost exactly like the batch path:
  *    a new id landing beyond a bucket's cap emits no pairs, so per-batch
  *    cost is bounded by |new ∩ capped| · maxBlockSize per key. Cap
  *    displacement over time (a later, smaller id evicting an earlier
  *    member) can still leave the stream with pairs scored before the
  *    eviction — matches are never retracted, so stream recall is ≥
  *    batch recall; clusters are a coarsening of batch clusters in that
  *    corner. The DuckDB oracle therefore checks the stream's OWN
  *    invariant (clusters == connected components of the cumulative
  *    match set, recomputed independently) rather than corpus-dependent
  *    batch equality.
  *  - Star-edge contraction keeps each batch's CC input proportional to
  *    the delta, not history: CC runs on (previous assignment as star
  *    edges) ∪ (new matches), as a per-partition union-find contraction
  *    followed by star rounds up to the first star forest.
  */
object StreamingEr {

  /** Name of the stream's state generations ([[StateGenerations]]). */
  private val Name = "bstream"

  /** Running state after processing a batch: storage read-backs of the
    * tables the batch (or [[processDeletes]]) just wrote, so no state
    * holds lineage into an earlier one.
    * `matches` is the cumulative match edge set — the clusters are
    * provably CC(matches) (star contraction preserves connectivity),
    * which is what the DuckDB oracle recomputes independently. */
  final case class ErState(
      trees: Dataset[TreeRow],
      keyed: DataFrame, // (key: Long, id: String) block index
      clusters: DataFrame, // (id, clusterId)
      matches: DataFrame, // cumulative (idA, idB) match edges
      batchesSeen: Int = 1)

  /** Exactly-once delta against at-least-once delivery: drop rows whose
    * id is already in state (a crash after the state write but before the
    * source offset commit re-delivers the whole batch) and in-batch
    * duplicates. Without this, replayed ids enter the cumulative
    * trees/index twice — duplicate rows distort the block cap (a dup
    * occupies two of the cap's slots) and the pair/cluster sets
    * silently drift from batch semantics. Ids are
    * content-deterministic (sha256 prefix of the identity triple), so
    * "same id" == "same row" and dropping is always safe. The anti-join
    * probes the delta against cumulative state ids — at deployment scale
    * the trees table is id-bucketed Iceberg and the probe prunes/avoids
    * shuffling state; a replayed batch reduces to an EMPTY delta, making
    * the whole call a no-op that rewrites identical state. */
  private def freshTrees(
      spark: SparkSession,
      parsed: Dataset[TreeRow],
      prevTrees: Option[Dataset[TreeRow]]): Dataset[TreeRow] = {
    import spark.implicits._
    val deduped = parsed.dropDuplicates("id")
    prevTrees match {
      case Some(p) =>
        deduped.toDF().join(p.toDF().select($"id"), Seq("id"), "left_anti").as[TreeRow]
      case None => deduped
    }
  }

  /** The stream's generations: trees bucketed by id (the replay guard
    * probes them without an exchange), the capped block index bucketed
    * by key, then clusters and cumulative matches as `TableIO` tables. */
  private def generations(spark: SparkSession, io: graft.sources.TableIO,
      bucketRoot: String, numBuckets: Int): StateGenerations =
    new StateGenerations(spark, io, Name, Seq(
      StateGenerations.Table("trees", Some("id")),
      StateGenerations.Table("index", Some("key")),
      StateGenerations.Table("clusters"),
      StateGenerations.Table("matches")),
      Some(StateGenerations.Buckets(bucketRoot, numBuckets)))

  /** The state a generation holds; `keyed` is the capped index exploded
    * to (key, id) — feeding it onward is equivalent by cap
    * subset-monotonicity. */
  private def stateOf(spark: SparkSession, g: StateGenerations#Generation): ErState = {
    import spark.implicits._
    ErState(
      trees = g("trees").as[TreeRow],
      keyed = g("index").select($"key", explode($"members").as("id")),
      clusters = g("clusters"),
      matches = g("matches"),
      batchesSeen = g.batchesSeen)
  }

  /** Deletion micro-batch — right-to-erasure in the incremental path:
    * remove `deleteIds` from every state surface of the latest generation
    * under `bucketRoot`/`io` (trees, block index, cumulative matches),
    * re-derive components over the retained edges (the
    * [[graft.operators.Clustering.retract]] shape — CC is not
    * incrementally maintainable under deletion, so the component pass
    * recomputes; nothing is re-parsed or re-scored) and commit the result
    * as the next generation, so the next micro-batch resumes from the
    * purged state.
    *
    * Cap caveat, stated honestly: the capped block index cannot
    * resurrect an id the cap evicted EARLIER, so a delete frees a cap
    * slot only for future arrivals. When no block ever overflowed its
    * cap, the result — and every batch after it — is identical to the
    * batch pipeline re-run on the surviving corpus (asserted in
    * StreamingErSpec); when one did, the stream may miss future pairs a
    * fresh batch run would find — the same displacement bound the cap
    * already imposes on additions.
    *
    * Returns the storage read-backs of the committed generation. */
  def processDeletes(
      spark: SparkSession,
      deleteIds: DataFrame,
      io: graft.sources.TableIO,
      bucketRoot: String,
      numBuckets: Int): ErState = {
    import spark.implicits._
    val store = generations(spark, io, bucketRoot, numBuckets)
    val prev = store.latest.getOrElse(throw new IllegalStateException(
      s"no complete stream state under $bucketRoot to delete from"))
    val del = deleteIds.select($"id").distinct()
    def purge(df: DataFrame, c: String) =
      df.join(del.withColumnRenamed("id", c), Seq(c), "left_anti")
    val trees = purge(prev("trees"), "id")
    val index = purge(prev("index").select($"key", explode($"members").as("id")), "id")
      .groupBy($"key").agg(sort_array(collect_list($"id")).as("members"))
    val matches = purge(purge(prev("matches"), "idA"), "idB")
    val clusters = Clustering.connectedComponents(matches, trees.select($"id"))
    stateOf(spark, store.commit("trees" -> trees, "index" -> index,
      "clusters" -> clusters, "matches" -> matches))
  }

  /** Process one micro-batch with the block index persisted as a BUCKETED
    * capped table (`(key, members)`, hash-distributed by key via
    * [[graft.sources.BucketedState]]) instead of raw `(key, id)` rows.
    *
    * Why: re-capping the FULL cumulative `(key, id)` block index every
    * batch (`capByKey`) re-shuffles corpus-sized state per micro-batch,
    * which is the dominant incremental cost at 10^12 files (BENCH.md,
    * "Incremental-ER state layouts": 177.3 s against 80.5 s over 12
    * batches at sf0.01). Here the state is stored already capped AND already
    * distributed by key, so each batch does ONE small exchange (the
    * delta's groupBy) and merges against the state side with zero
    * exchange; pair emission needs no join at all (block membership is
    * colocated in the row). Correctness rests on cap subset-monotonicity:
    * cap(old ∪ new) = cap(cap(old) ∪ new) — see
    * [[graft.operators.CandidateGen.mergeCappedMembers]] — so the pair,
    * match, and cluster sets are IDENTICAL to re-capping the full index
    * (CandidateGenSpec asserts the merge against `capByKey`;
    * BucketedStreamSpec asserts the batch equality and the plan shape).
    * At deployment scale the bucketed table is an Iceberg bucket
    * partition spec and the merge additionally prunes to buckets touched
    * by the batch.
    *
    * The call is self-resuming: state round-trips through storage every
    * batch (which also truncates lineage) as one [[StateGenerations]]
    * generation under `bucketRoot`/`io` — a crash between batches
    * resumes at the last complete generation, and after a process
    * restart the bucketed tables (trees by id, index by key) are
    * RE-REGISTERED from their files via bucketed-DDL
    * ([[graft.sources.BucketedState.register]]), so the zero-exchange
    * state read survives restarts without a metastore. Trees are
    * bucketed by id so the at-least-once replay guard's anti-join probes
    * state without re-shuffling it.
    *
    * `numBuckets` fixes the state side's partitioning for all future
    * merges — size it like a shuffle-partition count for the full-scale
    * index, ideally equal to `spark.sql.shuffle.partitions` so the
    * delta's aggregation exchange is reused as-is by the merge join. */
  def processBatchBucketed(
      spark: SparkSession,
      newFiles: Dataset[FileRow],
      io: graft.sources.TableIO,
      bucketRoot: String,
      numBuckets: Int,
      cfg: Pipeline.Config = Pipeline.Config()): ErState = {
    import spark.implicits._
    Pipeline.tune(spark)

    val store = generations(spark, io, bucketRoot, numBuckets)
    val prev = store.latest
    // state persisted by a pre-tag version used untagged TableIO names;
    // resuming past it as "fresh" would silently drop the accumulated
    // clusters, so refuse loudly and tell the operator what to rename
    if (prev.isEmpty && io.exists(spark, s"${Name}_clusters_b0"))
      throw new IllegalStateException(
        s"found legacy untagged state '${Name}_clusters_b0' under this " +
          s"TableIO root; rename the ${Name}_* tables to ${store.stem}_* " +
          "(or point the stream at a fresh root) before resuming")
    // trees state is bucketed by id: the replay guard's anti-join and any
    // id-probe read it pre-distributed — only the delta shuffles
    val prevTrees = prev.map(_("trees").as[TreeRow])
    val prevIdx = prev.map(_("index"))
    val prevClusters = prev.map(_("clusters"))
    val prevMatches = prev.map(_("matches"))

    val newTrees = freshTrees(spark,
      ParseStage.parse(newFiles, cfg.parse, cfg.blocking.mh), prevTrees)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val newKeyed = Blocking.keyedIds(newTrees, cfg.blocking)
    val allTrees = prevTrees.map(_.unionByName(newTrees)).getOrElse(newTrees)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val merged = CandidateGen
      .mergeCappedMembers(prevIdx, newKeyed, cfg.blocking.maxBlockSize)
      .persist(StorageLevel.MEMORY_AND_DISK) // read 2×: pairs + state write
    val cand = CandidateGen.pairsWithNewMember(merged)
    val scores = Scoring.score(Scoring.attachTrees(cand, allTrees), cfg.tau)
    val newEdges = Scoring.matches(scores).persist(StorageLevel.MEMORY_AND_DISK)

    val prevStar = prevClusters.map(_
      .where($"id" =!= $"clusterId")
      .select($"id".as("idA"), $"clusterId".as("idB")))
    val edges = prevStar.map(newEdges.unionByName(_)).getOrElse(newEdges)
    val clusters = Clustering
      .connectedComponents(edges, allTrees.toDF().select($"id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allMatches = prevMatches.map(newEdges.unionByName(_)).getOrElse(newEdges)

    val g = store.commit("trees" -> allTrees.toDF(),
      "index" -> merged.select($"key", $"members"),
      "clusters" -> clusters, "matches" -> allMatches)

    newEdges.unpersist(); merged.unpersist()
    newTrees.unpersist(); allTrees.unpersist(); clusters.unpersist()

    // hand back storage read-backs (checkpoint truth, truncated lineage)
    stateOf(spark, g)
  }

  /** foreachBatch wiring: every micro-batch resumes from the latest
    * complete state under `bucketRoot`/`io` and writes the next one, so
    * the QUERY ITSELF can be stopped and restarted (or crash) and the
    * next incarnation continues where the tables left off — the
    * streaming twin of Pipeline's stage-checkpoint resume. `onBatch`
    * observes each new state. */
  def startCheckpointedBucketed(
      spark: SparkSession,
      stream: Dataset[FileRow],
      io: graft.sources.TableIO,
      bucketRoot: String,
      numBuckets: Int,
      cfg: Pipeline.Config = Pipeline.Config())(
      onBatch: ErState => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[FileRow], _: Long) =>
        onBatch(processBatchBucketed(spark, batch, io, bucketRoot, numBuckets, cfg))
      }
      .start()
}

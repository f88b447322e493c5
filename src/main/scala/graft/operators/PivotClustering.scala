package graft.operators

import graft.util.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pivot correlation clustering (CC-Pivot, Ailon/Charikar/Newman
  * JACM'08) computed distributively as rounds of parallel greedy
  * maximal-independent-set selection (Blelloch/Fineman/Shun SPAA'12:
  * "greedy sequential MIS is parallel") — the standard over-merge-
  * resistant alternative to connected-components entity clustering.
  *
  * Connected components chain transitively: a–b and b–c force {a,b,c}
  * even when (a,c) was scored a non-match. CC-Pivot instead picks
  * pivots in a pseudo-random order π and clusters each node with its
  * FIRST pivot neighbor: clusters are star neighborhoods of the pivot
  * set, never transitive chains, and for random π the expected
  * disagreement is within 3× optimal (the JACM'08 bound).
  *
  * Determinism + sequential equivalence. π(v) = md5(id) ‖ id — a fixed
  * pseudo-random total order both engines compute identically. The
  * sequential algorithm (scan nodes in π order; an unclustered node
  * becomes a pivot and absorbs its unclustered neighbors) is replayed
  * EXACTLY by rounds of local minima:
  *   - the pivot set equals the lexicographically-first MIS under π
  *     (a node is a pivot iff no π-smaller neighbor is a pivot);
  *   - each round promotes every still-undecided node that is a strict
  *     π-local-minimum among undecided neighbors, then retires the new
  *     pivots' undecided neighbors;
  *   - a non-pivot node's cluster is its π-minimum PIVOT neighbor
  *     (which always precedes the node in π — else the node would have
  *     been promoted itself).
  * Round-equivalence to the sequential scan is differential-tested in
  * PivotClusteringSpec; the DuckDB oracle replays the identical
  * fixed-round chain in SQL from the dumped match edges.
  *
  * Scale shape (100 TB): each round is one self-join of the UNDECIDED
  * adjacency (shrinking geometrically — inside a near-clique duplicate
  * group one round decides everyone) + one aggregate; lineage truncated
  * per round with localCheckpoint (swap for durable checkpoint() on a
  * cluster, same note as [[Clustering]]), and each superseded undecided
  * set is unpersisted. Assignment is one join + one aggregate. No
  * driver-side data beyond the O(1) per-round counts.
  */
object PivotClustering {

  /** Convergence bound, and the number of rounds the oracle unrolls.
    * Parallel greedy-MIS depth is O(log n) w.h.p. for a random order;
    * match graphs are near-clique unions where 2–3 rounds suffice. */
  val MaxRounds = 16

  /** The shared pseudo-random total order: fixed-width md5 prefix makes
    * string comparison = (hash, id) lexicographic, and suffix position
    * 33 recovers the id (md5 hex is exactly 32 chars). */
  private def piOf(id: org.apache.spark.sql.Column) = concat(md5(id), id)

  /** edges: (src, dst) undirected unique match pairs; nodes: (id) — the
    * full record universe (isolated records become singleton pivots).
    * Returns (id, clusterId, is_pivot, round) where clusterId is the
    * pivot's id and round is the 1-based MIS round that decided the
    * node's pivot (0 for isolated singletons). `onRound` sees each
    * round's undecided-node count, which the loop counts anyway. */
  def cluster(edges: DataFrame, nodes: DataFrame,
              maxRounds: Int = MaxRounds,
              onRound: Option[RoundReport => Unit] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // a self-edge would deadlock the MIS (a node that is its own
    // neighbor is never a STRICT pi-local-minimum, so it can neither be
    // promoted nor killed) — match tables never contain them (idA <
    // idB), but drop them defensively rather than loop to maxRounds
    val adj = edges.where($"src" =!= $"dst")
      .select($"src".as("id"), $"dst".as("nb"))
      .union(edges.where($"src" =!= $"dst")
        .select($"dst".as("id"), $"src".as("nb")))
      .localCheckpoint(true)
    var unknown = adj.select($"id").distinct()
      .withColumn("pi", piOf($"id")).localCheckpoint(true)
    var nUnknown = unknown.count()
    val pivotRounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    while (nUnknown > 0L && round < maxRounds) {
      round += 1
      val t0 = System.nanoTime()
      // π-minimum over UNDECIDED neighbors; local minima become pivots
      val unkNb = adj
        .join(unknown.select($"id"), "id")
        .join(unknown.select($"id".as("nb"), $"pi".as("piNb")), "nb")
      val minNb = unkNb.groupBy($"id").agg(min($"piNb").as("minNb"))
      val piv = unknown.join(minNb, Seq("id"), "left")
        .where($"minNb".isNull || $"pi" < $"minNb")
        .select($"id", $"pi", lit(round).as("round"))
        .localCheckpoint(true)
      pivotRounds += piv
      // retire the new pivots and their undecided neighbors
      val dead = adj.join(piv.select($"id".as("nb")), "nb").select($"id").distinct()
      val next = unknown
        .join(piv.select($"id"), Seq("id"), "left_anti")
        .join(dead, Seq("id"), "left_anti")
        .localCheckpoint(true)
      SessionMemo.unpersist(unknown)
      unknown = next
      nUnknown = unknown.count()
      onRound.foreach(_(RoundReport(round, nUnknown, System.nanoTime() - t0)))
    }
    // the result reads adj and the pivot rounds, not the undecided set
    SessionMemo.unpersist(unknown)
    require(nUnknown == 0L,
      s"pivot MIS did not converge in $maxRounds rounds ($nUnknown undecided)")
    val pivots = pivotRounds.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame
        .withColumn("id", lit("")).withColumn("pi", lit("")).withColumn("round", lit(0))
        .limit(0))
    // non-pivots join their π-minimum pivot neighbor; substr(·, 33)
    // recovers the pivot id from the fixed-width π string
    val assigned = adj
      .join(pivots.select($"id"), Seq("id"), "left_anti")
      .join(pivots.select($"id".as("nb"), $"pi".as("piNb"), $"round"), "nb")
      .groupBy($"id")
      .agg(substring(min($"piNb"), 33, 1000000).as("clusterId"),
        min(struct($"piNb", $"round")).getField("round").as("round"))
      .select($"id", $"clusterId", lit(0).as("is_pivot"), $"round")
    val pivotSelf = pivots
      .select($"id", $"id".as("clusterId"), lit(1).as("is_pivot"), $"round")
    val singletons = nodes
      .join(adj.select($"id").distinct(), Seq("id"), "left_anti")
      .select($"id", $"id".as("clusterId"), lit(1).as("is_pivot"),
        lit(0).as("round"))
    pivotSelf.unionByName(assigned).unionByName(singletons)
  }
}

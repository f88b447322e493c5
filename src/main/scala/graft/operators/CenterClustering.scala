package graft.operators

import graft.util.Checkpoints.localTruncated
import graft.util.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CENTER and MERGE-CENTER clustering of the weighted similarity graph
  * (Haveliwala/Gionis/Indyk WWW'00 for CENTER; Hassanzadeh & Miller,
  * VLDB J. 2009 "Creating probabilistic databases from duplicated data"
  * for the family survey and MERGE-CENTER — public papers). Together
  * with star-contraction CC ([[Clustering]]), Hash-to-Min
  * ([[HashToMin]]) and CC-Pivot ([[PivotClustering]]) this completes
  * the classical similarity-graph clustering family: CENTER is the
  * weight-aware middle ground — clusters are single-center stars like
  * CC-Pivot (no transitive chaining), but the scan order is the edge
  * SIMILARITY order, so the strongest evidence claims its records
  * first; MERGE-CENTER then re-admits exactly the chains that run
  * through centers.
  *
  * Sequential contract (the definition both engines must reproduce).
  * Edges carry a weight; the scan order is (w asc, src asc, dst asc) —
  * ascending because the pipeline's weight is a DISTANCE (most-similar
  * first). Every node starts UNASSIGNED (U). Scanning edge (u, v):
  *   - U, U → the smaller id becomes a CENTER (C), the other is
  *     ASSIGNED (A) to it;
  *   - C, U → the U side is ASSIGNED to the center;
  *   - anything else (an A endpoint, C–C) → no-op.
  * Nodes still U at the end — and nodes with no edges at all — are
  * singleton clusters. MERGE-CENTER additionally merges clusters along
  * every scanned edge that connects a CENTER to a decided node of a
  * DIFFERENT cluster (a record similar to the centers of two clusters
  * joins them); since C/A states are final once set and (C, U) pairs
  * cannot survive the scan, the merge edge set is computable from the
  * FINAL states — merging never feeds back into the scan (centers keep
  * absorbing independently of merges), which is what makes the batch
  * formulation exact.
  *
  * Parallel rounds (how Spark computes the same thing). A node is only
  * ever decided at its order-minimum PENDING incident edge, so:
  *   - an edge with an A endpoint, or with both endpoints decided, is a
  *     permanent no-op and is discarded (an A node's pending edges are
  *     all later than its deciding edge, hence scanned while it is A);
  *   - a U–U edge fires when it is the minimum pending edge of BOTH
  *     endpoints (all smaller incident edges are resolved no-ops, so
  *     the sequential scan sees exactly U, U here);
  *   - a C–U edge fires when it is the minimum pending edge of the U
  *     side alone — the center's state is final, and it became C at an
  *     edge strictly smaller than every edge still pending on it.
  * Each round the globally order-minimum pending edge always fires or
  * is discarded, so progress is guaranteed; hub fan-outs resolve in one
  * round (every spoke's min edge points at the same final center). The
  * adversarial case is a path whose edge order increases monotonically
  * — inherently sequential under the contract (≈ 2 edges resolved per
  * round), the same depth behavior as [[MatchMerge]]'s fixpoint;
  * duplicate-group match graphs are disjoint near-cliques where a
  * handful of rounds suffice (spec-asserted). Scale shape: per round
  * one join of pending edges to the state table, one min-aggregate over
  * the U side, no global edge rank (the scan order is compared as a
  * (w, src, dst) struct, never materialized as a row_number), lineage
  * truncated per round via [[graft.util.Checkpoints.localTruncated]] —
  * NOT plain localCheckpoint, whose inherited stats estimate squares
  * per round and freezes the driver on long chains (see that helper's
  * doc for the measurement). Each round's live edges and superseded
  * state and pending tables are unpersisted; the result reads only the
  * final state.
  */
object CenterClustering {

  /** Round bound. Each round resolves at least the globally minimal
    * pending edge; real match graphs converge in a handful of rounds
    * (the require below makes a stall loud, not silent). */
  val MaxRounds = 256

  /** edges: (src, dst, w) undirected, self-edges dropped defensively,
    * duplicates collapsed to their minimum weight (ONE scan position
    * per unordered pair). nodes: (id) — the full record universe.
    * Returns (id, clusterId, is_center, round): clusterId is the
    * center's id; round is the 1-based parallel round that decided the
    * node (0 for singletons; the oracle checks id/clusterId/is_center,
    * which are order-determined — round is parallel-schedule metadata).
    * `onRound` sees each round's pending-edge count, which the loop
    * counts anyway. The last round may only retire edges that the
    * round before made no-ops, so the largest `round` in the result is
    * the number of rounds or one less.
    */
  def cluster(edges: DataFrame, nodes: DataFrame,
              maxRounds: Int = MaxRounds,
              onRound: Option[RoundReport => Unit] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // canonical edge table: src < dst, min weight per pair — the scan
    // order below is total, so the canonical form fixes the contract
    val e0 = edges.where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"),
        greatest($"src", $"dst").as("dst"), $"w")
      .groupBy($"src", $"dst").agg(min($"w").as("w"))
      .withColumn("ord", struct($"w", $"src", $"dst"))
      .localCheckpoint(true)

    // state: (id, st ∈ U|C|A, cid, round); only edge-incident nodes
    // participate in the scan — isolated nodes join as singletons last
    var st = localTruncated(
      e0.select(explode(array($"src", $"dst")).as("id")).distinct()
        .select($"id", lit("U").as("st"), $"id".as("cid"), lit(0).as("round")))
    var pending = e0
    var nPending = pending.count()
    var round = 0
    while (nPending > 0L && round < maxRounds) {
      round += 1
      val t0 = System.nanoTime()
      val withSt = pending
        .join(st.select($"id".as("src"), $"st".as("stA")), "src")
        .join(st.select($"id".as("dst"), $"st".as("stB")), "dst")
      // permanent no-ops out (A endpoint, or both decided)
      // localTruncated, not localCheckpoint: these three frames are
      // rebuilt from each other every round — inherited stats estimates
      // would square per round (see Checkpoints.localTruncated), and
      // CENTER's adversarial shapes legitimately run hundreds of rounds.
      // (Keeping live LAZY was measured SLOWER — 4.3 s → 7.8 s on the
      // sf0.1 match graph: the st/pending materializations re-expand
      // the duplicated live subtree into extra AQE stage jobs.)
      val live = localTruncated(withSt.where(
        ($"stA" === "U" && $"stB".isin("U", "C")) ||
          ($"stB" === "U" && $"stA".isin("U", "C"))))
      // per-U-node minimum pending edge (pending = live after discards)
      val mins = live.select($"src".as("id"), $"ord", $"stA".as("s"))
        .union(live.select($"dst".as("id"), $"ord", $"stB".as("s")))
        .where($"s" === "U")
        .groupBy($"id").agg(min($"ord").as("mord"))
      val annotated = live
        .join(mins.select($"id".as("src"), $"mord".as("mA")), Seq("src"), "left")
        .join(mins.select($"id".as("dst"), $"mord".as("mB")), Seq("dst"), "left")
      val uuFire = annotated.where($"stA" === "U" && $"stB" === "U" &&
        $"ord" === $"mA" && $"ord" === $"mB")
      val cuFire = annotated.where($"stA" === "C" && $"stB" === "U" &&
        $"ord" === $"mB")
      val ucFire = annotated.where($"stA" === "U" && $"stB" === "C" &&
        $"ord" === $"mA")
      // transitions this round (src < dst, so least(src,dst) = src)
      val trans = uuFire.select($"src".as("id"), lit("C").as("nst"), $"src".as("ncid"))
        .union(uuFire.select($"dst".as("id"), lit("A").as("nst"), $"src".as("ncid")))
        .union(cuFire.select($"dst".as("id"), lit("A").as("nst"), $"src".as("ncid")))
        .union(ucFire.select($"src".as("id"), lit("A").as("nst"), $"dst".as("ncid")))
      val nextSt = localTruncated(st.join(trans, Seq("id"), "left")
        .select($"id", coalesce($"nst", $"st").as("st"),
          coalesce($"ncid", $"cid").as("cid"),
          when($"nst".isNotNull, lit(round)).otherwise($"round").as("round")))
      val fired = uuFire.select($"src", $"dst")
        .union(cuFire.select($"src", $"dst"))
        .union(ucFire.select($"src", $"dst"))
      val nextPending = localTruncated(live.select($"src", $"dst", $"w", $"ord")
        .join(fired, Seq("src", "dst"), "left_anti"))
      Seq(st, pending, live).foreach(SessionMemo.unpersist)
      st = nextSt
      pending = nextPending
      nPending = pending.count()
      onRound.foreach(_(RoundReport(round, nPending, System.nanoTime() - t0)))
    }
    SessionMemo.unpersist(pending)
    require(nPending == 0L,
      s"CENTER scan did not converge in $maxRounds rounds ($nPending pending)")

    // end-of-scan U nodes and edge-isolated nodes are singletons
    val decided = st.select($"id",
      when($"st" === "U", $"id").otherwise($"cid").as("clusterId"),
      when($"st" === "A", lit(0)).otherwise(lit(1)).as("is_center"),
      when($"st" === "U", lit(0)).otherwise($"round").as("round"))
    val isolated = nodes.select($"id").distinct()
      .join(st.select($"id"), Seq("id"), "left_anti")
      .select($"id", $"id".as("clusterId"), lit(1).as("is_center"),
        lit(0).as("round"))
    decided.unionByName(isolated)
  }

  /** MERGE-CENTER: connected components over the CENTER clusters,
    * linked by every edge whose endpoints are decided into DIFFERENT
    * clusters with at least one endpoint a scan-time center (final
    * states suffice — see the object doc). Returns
    * (id, clusterId, mergedClusterId) with mergedClusterId the
    * CC representative (minimum member id) of the merged cluster. */
  def mergeCenter(edges: DataFrame, centerAssign: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val slim = centerAssign.select($"id", $"clusterId", $"is_center")
    // only SCAN-TIME centers trigger merges. is_center alone is not
    // that: end-of-scan U nodes and isolated nodes also report 1 (they
    // head their singleton clusters). A scan-time C always absorbed at
    // least one record at creation, so center ⟺ is_center ∧ |cluster| ≥ 2.
    val scanCenters = slim.groupBy($"clusterId").agg(count(lit(1)).as("csz"))
      .where($"csz" >= 2)
      .select($"clusterId".as("id"), lit(1).as("ctr"))
    val withCtr = slim.join(scanCenters, Seq("id"), "left")
      .select($"id", $"clusterId", coalesce($"ctr", lit(0)).as("ctr"))
    val e = edges.where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))
      .distinct()
    val mergeEdges = e
      .join(withCtr.select($"id".as("src"), $"clusterId".as("cA"), $"ctr".as("icA")), "src")
      .join(withCtr.select($"id".as("dst"), $"clusterId".as("cB"), $"ctr".as("icB")), "dst")
      .where(($"icA" === 1 || $"icB" === 1) && $"cA" =!= $"cB")
      .select($"cA".as("idA"), $"cB".as("idB"))
    val cids = slim.select($"clusterId".as("id")).distinct()
    val cc = Clustering.connectedComponents(mergeEdges, cids)
      .select($"id".as("clusterId"), $"clusterId".as("mergedClusterId"))
    // CC reps are min member ids of the CLUSTER-ID graph; cluster ids
    // are center/singleton record ids, so the rep is a record id too
    slim.select($"id", $"clusterId").join(cc, "clusterId")
      .select($"id", $"clusterId", $"mergedClusterId")
  }
}

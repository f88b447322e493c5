package graft.operators

import graft.util.Checkpoints.localTruncated
import graft.util.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components via Hash-to-Min (Rastogi et al., "Finding
  * Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13 —
  * public paper): the second CC algorithm family next to
  * [[Clustering.connectedComponents]]'s large-star/small-star
  * contraction, kept as an independently-derived alternative so the two
  * can cross-check each other and so a deployment can pick per-graph.
  *
  * Each node v maintains a cluster set C(v), seeded {v} ∪ N(v). Per
  * round, v sends min(C(v)) to every member of C(v), and sends all of
  * C(v) to min(C(v)); the new C(v) is the union of what v received.
  * At the fixpoint the component's minimum node holds the whole
  * component and every other node holds exactly {min} — so the
  * assignment is simply min(C(v)) per node. Rastogi et al. prove
  * O(log n) rounds (§4, Thm 4.4); on path/cycle graphs it converges in
  * O(log d) doubling rounds vs O(d) for naive label propagation.
  *
  * Representation & scale shape: C(v) is kept as (node, member) ROWS,
  * never an array column — a round is one groupBy(node) min, one
  * equi-join on node, one union, one distinct (2 shuffle boundaries,
  * same class as a star round). The known trade-off vs star
  * contraction: the component-minimum node's set grows to the full
  * component (O(|component|) rows on one key at the groupBy), where
  * large-star caps per-node degree growth — so star contraction stays
  * the pipeline default for adversarial component sizes, and
  * hash-to-min is the faster-converging choice when components are
  * bounded (dedup/ER graphs, where clusters are entity-sized).
  * Lineage AND inherited stats are truncated per round
  * ([[graft.util.Checkpoints.localTruncated]]; swap for durable
  * checkpoint via TableIO on a cluster) and the superseded round is
  * unpersisted. Convergence is detected when an O(1)-row
  * order-independent signature of the state repeats (the star path's
  * star-forest test does not apply: the minimum's converged state
  * holds a row per member); a maxIter exit without convergence fails
  * loudly.
  */
object HashToMin {

  /** edges: DataFrame(idA, idB) undirected; nodes: DataFrame(id) — full
    * node universe (singletons keep their own cluster natively: their
    * state {v} is already a fixpoint). Returns DataFrame(id, clusterId)
    * with clusterId = min member id — the same contract as
    * [[Clustering.connectedComponents]]. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 30): DataFrame =
    run(edges, nodes, maxIter)._1

  /** Same, also reporting the number of rounds to fixpoint (diagnostic
    * + spec surface for the O(log d) convergence claim). `onRound` sees
    * each round's state rows, which the loop's signature counts anyway. */
  def run(edges: DataFrame, nodes: DataFrame, maxIter: Int = 30,
      onRound: Option[RoundReport => Unit] = None): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._

    val e = edges
      .select($"idA".as("node"), $"idB".as("member"))
      .where($"node" =!= $"member")
    // C(v) = {v} ∪ N(v), as rows; seed every universe node with itself.
    // localTruncated, not localCheckpoint: the per-round state is built
    // by joining state with an aggregate of ITSELF, so an inherited
    // sizeInBytes estimate would square per round (the stats-compounding
    // pathology Checkpoints.localTruncated exists for) — at the proven
    // O(log n) round counts the tax is mild, but a near-maxIter graph
    // would stall the driver in stats visits.
    // (Riding each round on persist + the signature probe — one action
    // per round instead of checkpoint + probe — was measured 8× SLOWER:
    // 2.0 s → 16.7 s on the sf0.1 match graph. Cached-plan subtrees are
    // planned without AQE, so every round's shuffles ran uncoalesced and
    // the growing un-truncated lineage re-optimized per round. The
    // eager localTruncated round below stays.)
    var state = localTruncated(
      nodes.select($"id".as("node"), $"id".as("member"))
        .union(e)
        .union(e.select($"member".as("node"), $"node".as("member")))
        .distinct())

    var sigPrev = signature(state)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      val mins = state.groupBy($"node").agg(min($"member").as("mn"))
      val withMn = state.join(mins, "node")
      val next = localTruncated(
        withMn.select($"member".as("node"), $"mn".as("member"))
          .union(withMn.select($"mn".as("node"), $"member"))
          .distinct())
      SessionMemo.unpersist(state)
      val sig = signature(next)
      converged = sig == sigPrev
      sigPrev = sig
      state = next
      iter += 1
      onRound.foreach(_(RoundReport(iter, sig._1, System.nanoTime() - t0)))
    }
    // a maxIter exit without signature convergence means min(member) is
    // NOT the component minimum for under-propagated nodes — fail loudly
    // (same contract as CenterClustering's pending-empty require) rather
    // than return silently-wrong assignments
    require(converged,
      s"HashToMin did not converge within $maxIter rounds — " +
        "component diameter too large for the round budget; raise maxIter")

    val assign = state.groupBy($"node".as("id")).agg(min($"member").as("clusterId"))
    (assign, iter)
  }

  /** Order-independent state signature: (count, bit_xor of xxhash64),
    * one O(1)-row aggregate per round. xor (not sum) — ANSI mode makes
    * a Long sum of hashes overflow; the state is distinct so
    * xor-cancellation of duplicates is moot. The count doubles as the
    * emptiness probe; the xor is null on empty input, coalesced. */
  private def signature(s: DataFrame): (Long, Long) = {
    val r = s.agg(count(lit(1)),
      expr("coalesce(bit_xor(xxhash64(node, member)), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }
}

package graft.operators

import graft.util.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-to-one bipartite record linkage: greedy maximum-weight matching
  * computed distributively as rounds of LOCALLY-DOMINANT edge acceptance
  * (Preis, STACS'99; Hoepman, "Simple distributed weighted matchings",
  * 2004 — both public). The reference library has no linkage layer at
  * all (SURVEY.md §3b); this is the standard post-processing step when
  * two catalogs are linked and each left record may match AT MOST ONE
  * right record (and vice versa) — e.g. deduplicating across two
  * ingestion snapshots, or joining a vendor catalog against an internal
  * one.
  *
  * Algorithm. Fix the strict total order on edges
  *   (weight DESC, left ASC, right ASC).
  * An edge is *locally dominant* when it is the first edge, in that
  * order, incident to BOTH its endpoints among the edges still alive.
  * Each round accepts every locally dominant edge in parallel and
  * removes all edges touching an accepted endpoint. The union over
  * rounds is EXACTLY the matching produced by the sequential greedy
  * scan over the total order (the classic local-dominance argument:
  * the globally best live edge is always dominant, and a dominant
  * edge has no larger live neighbor that could block it — induction
  * over rounds). That equivalence is what makes the operator
  * oracle-checkable: DuckDB replays the same fixed-round chain, and
  * the spec differential-tests the distributed result against an
  * in-memory sequential greedy.
  *
  * Scale shape (100 TB): each round is two `row_number` window shuffles
  * plus two anti-joins over the LIVE edge set, which shrinks
  * geometrically (every live edge is within one hop of a dominant edge,
  * so a constant fraction dies per round in practice; worst case is the
  * length of the longest strictly-decreasing weight path). Lineage is
  * truncated per round with `localCheckpoint` — at cluster scale swap
  * for reliable `checkpoint()` on durable storage, same note as
  * [[Clustering]] — and each superseded live set is unpersisted; only
  * the accepted rounds, which the result reads, stay persisted. No
  * driver-side data at all: convergence is detected by the live count
  * the round already computes.
  */
object OneToOneMatching {

  /** Rounds unrolled by the DuckDB oracle and enforced as the
    * convergence bound here — a matching that needs more rounds than
    * this has a strictly-decreasing weight chain ≥ 2·MaxRounds long,
    * which a candidate-capped blocking graph does not produce. */
  val MaxRounds = 12

  /** edges: DataFrame(lft, rgt, w) — bipartite (lft ids and rgt ids are
    * disjoint universes), (lft, rgt) unique, w non-null. Returns
    * DataFrame(lft, rgt, w, round) — the greedy matching under
    * (w DESC, lft ASC, rgt ASC), with the 1-based round in which each
    * edge became dominant. Fails (require) if the matching has not
    * converged within `maxRounds` rounds. */
  def greedyMatch(edges: DataFrame, maxRounds: Int = MaxRounds): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val winL = Window.partitionBy($"lft").orderBy($"w".desc, $"rgt".asc)
    val winR = Window.partitionBy($"rgt").orderBy($"w".desc, $"lft".asc)

    var live = edges.select($"lft", $"rgt", $"w").localCheckpoint(true)
    var nLive = live.count()
    val accepted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    while (nLive > 0L && round < maxRounds) {
      round += 1
      val acc = live
        .withColumn("ra", row_number().over(winL))
        .withColumn("rb", row_number().over(winR))
        .where($"ra" === 1 && $"rb" === 1)
        .select($"lft", $"rgt", $"w", lit(round).as("round"))
        .localCheckpoint(true)
      accepted += acc
      // a nonempty live graph always has a dominant edge (the globally
      // best live edge), so progress per round is guaranteed and the
      // anti-joins strictly shrink `live`
      val next = live
        .join(acc.select($"lft"), Seq("lft"), "left_anti")
        .join(acc.select($"rgt"), Seq("rgt"), "left_anti")
        .localCheckpoint(true)
      SessionMemo.unpersist(live)
      live = next
      nLive = live.count()
    }
    SessionMemo.unpersist(live)
    require(nLive == 0L,
      s"greedy matching did not converge in $maxRounds rounds ($nLive live edges)")
    if (accepted.isEmpty) {
      edges.select($"lft", $"rgt", $"w").limit(0).withColumn("round", lit(0))
    } else accepted.reduce(_ unionByName _)
  }

  /** In-memory sequential greedy over the same total order — the
    * independent reference the spec differentials against. Exposed
    * (package-private) rather than duplicated inside the test so both
    * sides agree on the order definition in exactly one place each. */
  private[graft] def sequentialGreedy(
      edges: Seq[(String, String, Double)]): Seq[(String, String, Double)] = {
    val sorted = edges.sortBy { case (l, r, w) => (-w, l, r) }
    val usedL = scala.collection.mutable.HashSet.empty[String]
    val usedR = scala.collection.mutable.HashSet.empty[String]
    sorted.filter { case (l, r, _) =>
      if (usedL(l) || usedR(r)) false
      else { usedL += l; usedR += r; true }
    }
  }
}

package graft.operators

import graft.util.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative match-merge entity resolution (the Swoosh family —
  * Benjelloun, Garcia-Molina et al., "Swoosh: a generic approach to
  * entity resolution", VLDB J. 2009; distributed as D-Swoosh): records
  * are PROFILES (feature sets), matching profiles MERGE into a union
  * profile, and the merged profile is re-entered into matching — so an
  * entity can absorb records its parts never matched ("merge creates
  * new matches", the semantics one-shot blocking + connected components
  * cannot express: CC closes over the ORIGINAL match graph only).
  *
  * This is the deterministic round-parallel fixpoint: each round
  * matches ALL current entity pairs (exact set-similarity join), merges
  * every connected component of the round's match graph (union of
  * features and members), and repeats until a round finds no matches.
  * Merging all matches per round makes the result ORDER-INDEPENDENT by
  * construction — the property R-Swoosh's sequential scan only has
  * under the ICAR axioms, and the only semantics that is reproducible
  * on a cluster where no total processing order exists.
  *
  * Scale shape (100 TB): each round is one exact prefix-filtered
  * [[SetSimJoin]] (inverted index, never all-pairs) over the CURRENT
  * entity table — which shrinks with every merge — plus one
  * [[Clustering.connectedComponents]] run and one groupBy merge; rounds
  * are few (profile unions grow, Jaccard to outsiders shrinks). Entity
  * ids are canonical (min source id), feature/member arrays sorted
  * distinct, so the fixpoint is bit-deterministic and the DuckDB oracle
  * replays the full round chain: brute-force matching, a recursive-CTE
  * CC, and the list-union merge per unrolled round.
  */
object MatchMerge {

  /** Round bound (and the count the oracle unrolls). Each unrolled
    * round is total — a no-match round is an identity — so the oracle
    * and the engine agree on any fixpoint reached within the bound. */
  val MaxRounds = 4

  /** `profiles`: (id, toks) — one row per source record, toks the
    * feature set. Returns (id, entity_id, n_members, n_toks): every
    * source record mapped to its resolved entity, with the entity's
    * member and feature counts. Throws if the fixpoint is not reached
    * within `maxRounds` (a 100 TB run would checkpoint and resume
    * rather than loop blind). Each round's pairs, CC and superseded
    * entity table are unpersisted once the next entity table is
    * checkpointed; the result reads only the last one. */
  def resolve(profiles: DataFrame, tNum: Int, tDen: Int,
      maxRounds: Int = MaxRounds): DataFrame = {
    var cur = profiles
      .select(col("id").as("eid"), array(col("id")).as("members"),
        array_sort(array_distinct(col("toks"))).as("toks"))
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (!converged) {
      val pairs = SetSimJoin.join(
          cur.select(col("eid").as("id"), col("toks")), tNum, tDen)
        .select(col("idA"), col("idB"))
        .localCheckpoint(true)
      if (pairs.head(1).isEmpty) {
        converged = true
        SessionMemo.unpersist(pairs)
      } else {
        rounds += 1
        // the bound counts MERGE rounds, so a fixpoint needing exactly
        // maxRounds merges still gets its matchless probe afterwards —
        // the oracle unrolls maxRounds rounds and must agree on it
        require(rounds <= maxRounds,
          s"match-merge did not reach its fixpoint in $maxRounds rounds")
        // CC only over the match-INCIDENT entities: an entity with no
        // pair this round keeps its own id as the cluster id, which the
        // full-universe CC expressed as its (much larger) singleton
        // anti-join — the left join + coalesce below is definitionally
        // the same assignment with the node frame shrunk from every
        // entity to the handful touching a match
        val incident = pairs.select(col("idA").as("id"))
          .union(pairs.select(col("idB").as("id"))).distinct()
        val cc = Clustering.connectedComponents(pairs, incident)
        val next = cur.join(cc, cur("eid") === cc("id"), "left")
          .groupBy(coalesce(col("clusterId"), col("eid")).as("clusterId"))
          .agg(
            array_sort(array_distinct(flatten(collect_list(col("members")))))
              .as("members"),
            array_sort(array_distinct(flatten(collect_list(col("toks")))))
              .as("toks"))
          .select(col("clusterId").as("eid"), col("members"), col("toks"))
          .localCheckpoint(true)
        // cc's plan reads this round's pairs and CC's last star round
        SessionMemo.unpersist(cc)
        SessionMemo.unpersist(cur)
        cur = next
      }
    }
    cur.select(explode(col("members")).as("id"), col("eid").as("entity_id"),
      size(col("members")).as("n_members"), size(col("toks")).as("n_toks"))
  }
}

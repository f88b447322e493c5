package graft.operators

import graft.util.SessionMemo
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Stage 4: transitive closure of the match graph — connected components
  * via alternating large-star / small-star DataFrame self-joins
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14 — public paper; required shape per BASELINE.json north_star).
  *
  * The reference has no clustering (SURVEY.md §3b): its "entity
  * clusters" in the north_rule are the components of the thresholded
  * ZSS match graph, computed here.
  *
  * Scale notes: the oriented, deduped edges are first contracted by a
  * union-find over each post-exchange partition (BTS, "Load-Balanced
  * Distributed Union-Find", ICDE 2024): every node becomes an edge to
  * its partition-local component minimum, with no exchange of its own
  * and no more rows out than in. Where one partition holds whole
  * components (small graphs, which AQE coalesces into one partition)
  * that already is the answer; otherwise the star loop finishes it in
  * O(log n) rounds (vs O(diameter) for naive label propagation).
  * `localCheckpoint(eager)` after every round truncates the lineage so
  * the plan does not grow with iterations — at cluster scale swap for
  * reliable `checkpoint()` on durable storage (TableIO) — and the
  * superseded round is unpersisted. The loop stops at the first edge
  * set that is a star forest ([[isStarForest]], one grouped aggregate,
  * checked before the first round and after each): with every edge
  * oriented src > dst, each star's centre is then its component's
  * minimum, so no round is run only to see the edge set repeat.
  */
object Clustering {

  /** edges: DataFrame(idA, idB) undirected; nodes: DataFrame(id) — the
    * full node universe, so singletons get their own cluster.
    * Returns DataFrame(id, clusterId) with clusterId = min member id.
    * `onRound` sees each star round's edge count, one extra job per
    * round. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 30,
      onRound: Option[RoundReport => Unit] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // orient every edge large → small, dedupe, contract per partition
    var e = contract(edges
      .select(greatest($"idA", $"idB").as("src"), least($"idA", $"idB").as("dst"))
      .where($"src" =!= $"dst")
      .distinct())
      .localCheckpoint(true)

    // one large-star + small-star round as a lazy plan transform
    def starRound(in: DataFrame): DataFrame = {
      // ---- large-star: for every node u, attach all strictly-larger
      // neighbors to m = min(N(u) ∪ {u})
      val und = in.select($"src", $"dst")
        .union(in.select($"dst".as("src"), $"src".as("dst")))
      val mins = und.groupBy($"src").agg(min($"dst").as("mn"))
        .select($"src", least($"src", $"mn").as("mn"))
      // no distinct here: both consumers absorb duplicates for free —
      // mins2 is a min-aggregate and the round ends in its own distinct
      // — so the dedup exchange was one pure-overhead shuffle per round
      // (guide §2.4: remove shuffles outright; duplicate (src,dst) rows
      // are bounded by neighbor degree, they never amplify)
      val ls = und.join(mins, "src")
        .where($"dst" > $"src")
        .select($"dst".as("src"), $"mn".as("dst"))
        .where($"src" =!= $"dst")

      // ---- small-star: edges are src > dst; attach u and all its
      // smaller neighbors to their min
      val mins2 = ls.groupBy($"src").agg(min($"dst").as("mn"))
      val j = ls.join(mins2, "src")
      j.select($"src", $"mn".as("dst"))
        .union(j.where($"dst" =!= $"mn").select($"dst".as("src"), $"mn".as("dst")))
        .where($"src" =!= $"dst")
        .distinct()
    }

    var converged = isStarForest(e)
    var iter = 0
    while (!converged && iter < maxIter) {
      // ONE star round per materialization. (Unrolling TWO rounds per
      // checkpoint to halve the action count was measured 2.5× SLOWER
      // on the sf0.1 match graph — 2.3 s → 5.9 s, 27 → 44 jobs: the
      // doubled lazy tree defeats exchange reuse and AQE re-materializes
      // the duplicated subtrees as extra stage jobs.)
      val t0 = System.nanoTime()
      val ss = starRound(e).localCheckpoint(true)
      SessionMemo.unpersist(e)
      converged = isStarForest(ss)
      e = ss
      iter += 1
      onRound.foreach(_(RoundReport(iter, e.count(), System.nanoTime() - t0)))
    }
    // short of a star forest, a node's dst need not be its component's
    // minimum — fail loudly rather than return wrong assignments
    require(converged,
      s"connected components did not converge within $maxIter rounds; raise maxIter")

    // a star forest gives every node exactly one root: its dst, or itself
    val memberToRoot = e.select($"src".as("id"), $"dst".as("clusterId"))
    val roots = e.select($"dst".as("id")).distinct().withColumn("clusterId", $"id")
    val connected = memberToRoot.union(roots)
    val singletons = nodes.select($"id")
      .join(connected.select($"id"), Seq("id"), "left_anti")
      .withColumn("clusterId", $"id")
    connected.union(singletons)
  }

  /** Union-find over each partition of oriented edges (src, dst): one
    * (node, partition-local minimum) edge per node that is not its
    * local minimum. Ids compare in Spark's own order for their type
    * (binary UTF-8 for strings, not Java's UTF-16 `compareTo`), so
    * every emitted edge keeps src > dst and a complete contraction is
    * already the min-labelled star forest. */
  private def contract(e: DataFrame): DataFrame = {
    val idType = e.schema("src").dataType
    e.mapPartitions { (rows: Iterator[Row]) =>
      val order = PhysicalDataType.ordering(idType)
      val toSpark = CatalystTypeConverters.createToCatalystConverter(idType)
      val index = mutable.HashMap.empty[Any, Int]
      val ids, keys = mutable.ArrayBuffer.empty[Any]
      val parent = mutable.ArrayBuffer.empty[Int]
      def node(id: Any): Int = index.getOrElseUpdate(id, {
        ids += id; keys += toSpark(id); parent += parent.length
        parent.length - 1
      })
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      rows.foreach { r =>
        val (a, b) = (find(node(r.get(0))), find(node(r.get(1))))
        if (a != b) {
          if (order.lt(keys(a), keys(b))) parent(b) = a else parent(a) = b
        }
      }
      ids.indices.iterator.flatMap { i =>
        val root = find(i)
        if (root == i) None else Some(Row(ids(i), ids(root)))
      }
    }(Encoders.row(e.schema))
  }

  /** True when no src appears twice and no dst is also a src: with
    * every edge src > dst, each component is then one star around its
    * minimum. One grouped aggregate over the edges. */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("src").as("id"), lit(1).as("asSrc"), lit(false).as("asDst"))
      .union(e.select(col("dst").as("id"), lit(0), lit(true)))
      .groupBy(col("id"))
      .agg(sum(col("asSrc")).as("asSrc"), max(col("asDst")).as("asDst"))
      .where(col("asSrc") > 1 || (col("asSrc") === 1 && col("asDst")))
      .isEmpty

  /** Retraction (right-to-erasure / file deletion at corpus scale):
    * recompute clusters after removing `deleted` ids — surviving nodes
    * keep only edges whose BOTH endpoints survive, then components are
    * re-derived. CC is not incrementally maintainable under deletion
    * (removing a bridge node splits a component), so the honest shape is
    * a recompute over the retained match-edge table — which the pipeline
    * already persists, so nothing is re-scored. No explicit broadcast
    * hint: a typically-tiny delete set auto-broadcasts under the
    * threshold, while a corpus-proportional purge (er_retract deletes a
    * 1/16 slice) must stay a shuffled anti-join rather than blow the
    * broadcast limit. */
  def retract(edges: DataFrame, nodes: DataFrame, deleted: DataFrame): DataFrame = {
    val del = deleted.select(col("id")).distinct()
    val keepNodes = nodes.join(del, Seq("id"), "left_anti")
    val keepEdges = edges
      .join(del.withColumnRenamed("id", "idA"), Seq("idA"), "left_anti")
      .join(del.withColumnRenamed("id", "idB"), Seq("idB"), "left_anti")
    connectedComponents(keepEdges, keepNodes)
  }
}

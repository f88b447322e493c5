package perfbench

import graft.ErQueries
import scala.collection.mutable

/** The read side of the persisted ER layers: a fixed mix of `SparkEntry`
  * queries that read only the layers `ErQueries.warm` builds. A traced
  * `batch_cold` run makes [[Passes]] passes over it after its reps, on
  * layers built cold in a fresh session, one `query` span per query. */
object Reads {
  val Mix = Seq("er_trees", "er_tree_stats", "er_pairs", "er_scores", "er_matches",
    "er_threshold_curve", "er_clusters", "er_cluster_sizes", "er_f1", "er_block_histogram",
    "er_cluster_cohesion", "er_cluster_eval", "er_cluster_nmi", "er_collective", "er_golden",
    "er_cluster_split", "er_retract", "er_ted_sql", "er_sha_invariant")

  /** Passes over the mix in a traced run: the first reads layers built
    * cold, the second reads them again and must give the same answers. */
  val Passes = 2

  def tracedPass(c: Ctx, t: Tally, docs: Int): Unit = {
    val session = c.spark.newSession() // the layer memos are per session
    ErQueries.warm(session, c.input)
    val queries = ErQueries.queries
    val first = mutable.Map.empty[String, Checks.Sig]
    for (p <- 0 until Passes) c.tracer("op", "reads", s"pass$p") {
      for (q <- Mix) t.op(s"pass $p read $q") {
        // some queries run jobs while building their frame, so the span
        // covers building it; collecting sends every column of every row
        // to the client, so no column pruning can skip work a reader waits for
        val rows = c.tracer("query", q, s"pass$p")(queries(q)(session, c.input).collect())
        val sig = Checks.signature(rows)
        first.get(q) match {
          case Some(want) => t.check(s"pass $p read $q", want == sig, s"$sig != pass 0 $want")
          case None =>
            first(q) = sig
            Recorded.get(c.seed, docs, q).foreach(want =>
              t.check(s"read $q", want == sig, s"$sig != recorded $want"))
            Recorded.note(c.seed, docs, q, sig)
        }
        if (q == "er_f1") {
          val f1 = rows.head.getAs[Double]("f1")
          t.check(s"pass $p read er_f1", f1 >= 0.99, s"pair_f1 $f1 < 0.99")
        }
      }
    }
    // the layers behind the reads are the ones every timed rep built
    val layers = Seq("er_pairs", "er_matches", "er_clusters")
      .map(q => Checks.signature(queries(q)(session, c.input))).mkString(" ")
    t.check("read layers", layers == t.signature, s"$layers != reps ${t.signature}")
    Checks.release(c.spark, c.probe)
  }
}

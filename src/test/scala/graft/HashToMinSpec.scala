package graft

import graft.operators.{Clustering, HashToMin}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hash-to-Min CC: differential against an in-memory union-find AND
  * against the star-contraction path on random graphs, logarithmic
  * round growth on path graphs (the headline claim vs naive label
  * propagation), fixpoint sanity on singletons/self-loops/duplicate
  * edges. The star path is also checked with its per-partition
  * contraction partial, so its loop has work left to do. */
class HashToMinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** 4 shuffle partitions that AQE may not coalesce: each partition's
    * union-find sees only part of a component. */
  private lazy val partial: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def unionFind(nodes: Seq[String], edges: Seq[(String, String)])
      : Map[String, String] = {
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are not guaranteed minimal under naive union; normalize
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ms) => val mn = ms.min; ms.map(_ -> mn) }
  }

  private def run(nodes: Seq[String], edges: Seq[(String, String)],
      s: SparkSession = spark): (Map[String, String], Int) = {
    import s.implicits._
    val e = edges.toDF("idA", "idB")
    val n = nodes.toDF("id")
    val (df, rounds) = HashToMin.run(e, n)
    (df.collect().map(r => r.getString(0) -> r.getString(1)).toMap, rounds)
  }

  private def star(nodes: Seq[String], edges: Seq[(String, String)],
      s: SparkSession, maxIter: Int = 30): Map[String, String] = {
    import s.implicits._
    Clustering
      .connectedComponents(edges.toDF("idA", "idB"), nodes.toDF("id"), maxIter)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  private def differential(s: SparkSession): Unit = {
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 10) {
      val n = 5 + rng.nextInt(40)
      val nodes = (0 until n).map(i => f"h$trial%02d_$i%02d")
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n
        if rng.nextDouble() < 0.08
      } yield (nodes(i), nodes(j)))
      val (got, _) = run(nodes, edges, s)
      val want = unionFind(nodes, edges)
      assert(got == want, s"trial $trial vs union-find")
      assert(got == star(nodes, edges, s), s"trial $trial vs star contraction")
    }
  }

  private val path = (0 until 48).map(i => f"p_$i%02d")
  private val pathEdges = (0 until 47).map(i => (path(i), path(i + 1)))

  test("differential: hash-to-min == union-find == star contraction on random graphs") {
    differential(spark)
  }

  test("differential with a partial contraction: 4 uncoalesced shuffle partitions") {
    differential(partial)
  }

  test("star loop: a partial contraction needs rounds; maxIter = 0 fails loudly") {
    val e = intercept[IllegalArgumentException](star(path, pathEdges, partial, maxIter = 0))
    assert(e.getMessage.contains("did not converge within 0 rounds"))
    assert(star(path, pathEdges, partial) == path.map(_ -> "p_00").toMap)
  }

  test("path graph converges in O(log d) rounds, far under the diameter") {
    // 48-node path: naive label propagation needs ~47 rounds;
    // hash-to-min doubles reach per round — well under 12
    val (got, rounds) = run(path, pathEdges)
    assert(got.values.toSet == Set(path.head))
    assert(rounds <= 12, s"rounds=$rounds (diameter 47)")
  }

  test("singletons, duplicate and self edges, empty edge set") {
    val s = spark; import s.implicits._
    val nodes = Seq("a", "b", "c", "d")
    // self loop + duplicate in both orientations
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "c"))
    val (got, _) = run(nodes, edges)
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "d"))
    val (empty, rounds0) = run(Seq("x", "y"), Seq.empty)
    assert(empty == Map("x" -> "x", "y" -> "y"))
    assert(rounds0 <= 1, s"empty graph should fixpoint immediately, rounds=$rounds0")
  }
}

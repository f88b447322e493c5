package graft

import graft.model.FileRow
import graft.operators.{Blocking, CandidateGen, ParseStage}
import graft.parse.CodeParser
import graft.sources.CorpusGen
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ParserAndSkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("parser: determinism, nesting, comments, strings, cap") {
    val src =
      """def foo(a, b) { // comment stripped
        |  val s = "a string literal";
        |  if (a < 10) { return b[a]; }
        |  /* block
        |     comment */
        |  # hash comment
        |}""".stripMargin
    val p1 = CodeParser.parse(src)
    val p2 = CodeParser.parse(src)
    assert(p1.tree.labels.toSeq == p2.tree.labels.toSeq)
    assert(!p1.truncated)
    // nesting: function body {} + if body {} scopes exist
    assert(p1.tree.labels.count(_ == "{}") == 2)
    assert(p1.tree.labels.count(_ == "()") == 2)
    assert(p1.tree.labels.count(_ == "[]") == 1)
    // comments stripped
    assert(!p1.tree.labels.exists(_.contains("comment")))
    // string literal collapsed to one $-prefixed leaf
    assert(p1.tree.labels.count(_.startsWith("$")) == 1)

    // unbalanced closers ignored, unclosed scopes close at EOF
    val weird = CodeParser.parse(")))} val x = ( { (")
    assert(weird.tree.n > 1)

    // node cap + truncated flag
    val big = CodeParser.parse((1 to 10000).map(i => s"tok$i").mkString(" "),
      CodeParser.ParseConfig(maxNodes = 128))
    assert(big.truncated && big.tree.n <= 128)
  }

  test("lexEvents: parse's count bookkeeping is the exact cap formula over the event stream") {
    // the formula the er_tree_stats DuckDB oracle applies to the dumped
    // event stream — any drift between lexEvents and parse fails here
    def check(content: String, maxNodes: Int): Unit = {
      val p = CodeParser.parse(content, CodeParser.ParseConfig(maxNodes = maxNodes))
      val ev = CodeParser.lexEvents(content)
      assert(p.tree.labels.length == math.min(1 + ev.length, maxNodes),
        s"n mismatch for ${content.take(40)}... at cap $maxNodes")
      assert(p.nTokens == ev.take(maxNodes - 1).count(_ == 'L'),
        s"nTokens mismatch for ${content.take(40)}... at cap $maxNodes")
      assert(p.truncated == (ev.length > maxNodes - 1),
        s"truncated mismatch for ${content.take(40)}... at cap $maxNodes")
    }
    val nasty = Seq(
      "", "   \n\t ", "// only a comment", "/* unterminated block",
      "# hash\ncode()", "\"unterminated string", "'a' \"b\" 'c\\'d'",
      "a(b{c[d]e}f)g", ")}] unbalanced closers first (x)",
      "x = \"s\\\"t\"; y = 3.14ab_c", "(((((((((((((((((((",
      "id0 id1 id2 id3 id4 id5 id6 id7 id8 id9")
    val corpus = graft.sources.CorpusGen.corpus(spark, "/root/testdata/sf0.001")
      .collect().map(_.content).take(200)
    for (c <- nasty ++ corpus; mx <- Seq(4, 10, 2048)) check(c, mx)
  }

  test("size-bucket dual emission: neighbors within slack always share a bucket") {
    val cfg = Blocking.BlockingConfig()
    val mh = Array.fill(cfg.mh.numHashes)(7L)
    for (n <- 1 to 400; d <- 0 to cfg.sizeSlack) {
      val k1 = Blocking.keysFor("x", n, mh, cfg).toSet
      val k2 = Blocking.keysFor("x", n + d, mh, cfg).toSet
      assert(k1.intersect(k2).nonEmpty, s"n=$n d=$d share no block key")
    }
  }

  // 300 byte-identical files = one giant exact-dup block
  private def hotFiles: Dataset[FileRow] = {
    import spark.implicits._
    (0 until 300).map(i =>
      FileRow("r", s"p$i", f"c$i%04d", "scala", "def f() { val x = 1; }", groupId = 7L)).toDS()
  }

  test("hot key skew: N identical files stay capped and pipeline completes") {
    val files = hotFiles
    val trees = ParseStage.parse(files)
    val pairs = Blocking.candidatePairs(trees)
    val nPairs = pairs.count()
    val cap = Blocking.BlockingConfig().maxBlockSize
    // capped: at most C(cap,2) pairs from the hot block (not C(300,2)=44850)
    assert(nPairs <= cap.toLong * (cap - 1) / 2,
      s"$nPairs pairs leaked past the per-block cap")
    assert(nPairs > 0)
    // and the full pipeline still produces one cluster over the capped members
    val r = Pipeline.run(spark, files)
    val clustered = r.clusters.groupBy("clusterId").count()
      .orderBy(org.apache.spark.sql.functions.desc("count")).head()
    assert(clustered.getLong(1) >= cap)
  }

  /** Largest pair degree of any id over idA ∪ idB (0 without pairs). */
  private def maxDegree(pairs: DataFrame): Long =
    pairs.select(col("idA").as("id")).unionByName(pairs.select(col("idB").as("id")))
      .groupBy("id").count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)

  test("degree bound: the blocking cap keeps every id's pair degree small") {
    // the invariant that lets Scoring.attachTrees use plain joins: an id
    // has at most 2·bands + 1 block keys (two size buckets per band plus
    // the sha256 key), each capped at maxBlockSize members
    val sf = ParseStage.parse(CorpusGen.corpus(spark, "/root/testdata/sf0.001")).cache()
    val default = Blocking.BlockingConfig()
    val hot = ParseStage.parse(hotFiles)
    try for ((name, trees, cfg) <- Seq(
        ("300 identical files", hot, default),
        ("300 identical files, maxBlockSize 4", hot, default.copy(maxBlockSize = 4)),
        ("sf0.001", sf, default),
        ("sf0.001, maxBlockSize 4", sf, default.copy(maxBlockSize = 4)))) {
      val bound = (2L * cfg.mh.bands + 1) * (cfg.maxBlockSize - 1)
      val batch = maxDegree(Blocking.candidatePairs(trees, cfg))
      assert(batch > 0 && batch <= bound, s"$name: batch degree $batch > $bound")
      // streaming: a first micro-batch, then a second merged into its
      // capped index — the pairs each batch scores obey the same bound
      val half = pmod(xxhash64(col("id")), lit(2))
      val idx0 = CandidateGen.mergeCappedMembers(None,
        Blocking.keyedIds(trees.where(half === 0), cfg), cfg.maxBlockSize)
      val idx1 = CandidateGen.mergeCappedMembers(Some(idx0.select("key", "members")),
        Blocking.keyedIds(trees.where(half === 1), cfg), cfg.maxBlockSize)
      for ((b, idx) <- Seq(0 -> idx0, 1 -> idx1)) {
        val d = maxDegree(CandidateGen.pairsWithNewMember(idx))
        assert(d > 0 && d <= bound, s"$name: stream batch $b degree $d > $bound")
      }
    } finally sf.unpersist()
  }
}

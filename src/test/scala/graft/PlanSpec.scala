package graft

import graft.operators.{Blocking, ParseStage, Scoring}
import graft.sources.CorpusGen
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: lock in the scale-critical plan
  * properties PLANS.md documents, so a refactor that silently loses
  * pushdown, the map-side cap, or pair-cache reuse fails CI instead of
  * surfacing as a 100×-scale regression.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q1_agg: filters pushed to the scan, columns pruned") {
    val s = fmt(SparkEntry.queries("q1_agg")(spark, dir))
    assert(s.contains("PushedFilters: [IsNotNull"), "filter pushdown lost")
    assert(!s.contains("l_comment"), "column pruning lost (reads l_comment)")
  }

  test("pair generation: two shuffles, map-side cap before the exchange") {
    val trees = ParseStage.parse(CorpusGen.corpus(spark, dir))
    val s = fmt(Blocking.candidatePairs(trees))
    assert(s.linesIterator.count(_.matches(".*\\bExchange \\(\\d+\\)")) == 2,
      s"pair generation must shuffle exactly twice\n$s")
    // Catalyst's top-k pushdown: a Partial WindowGroupLimit runs
    // map-side, before the block-key exchange
    assert(s.contains("WindowGroupLimit"), "per-block cap lost")
    assert(s.contains("Partial"), "map-side (Partial) WindowGroupLimit lost")
    // the corpus scan reads only doc_id
    assert(s.contains("ReadSchema: struct<doc_id:bigint>"), "scan reads extra columns")
  }

  test("ANN paths: map-side bucket cap retained, IVF probe join broadcasts queries") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where(col("vec_id") < 20)
    // the corpus-side bucket cap must stay a map-side (Partial)
    // WindowGroupLimit — the skew guard that bounds any hot bucket
    val lsh = fmt(graft.operators.Similarity.lshKnn(e, q, k = 5, planeBits = 4, tables = 8))
    assert(lsh.contains("WindowGroupLimit"), "corpus bucket cap lost")
    assert(lsh.contains("Partial"), "map-side (Partial) bucket cap lost")
    // the tiny query probe side must broadcast, never shuffle the corpus
    val ivf = fmt(graft.operators.Similarity.ivfKnn(e, q, k = 5, nlist = 16, nprobe = 4))
    assert(ivf.contains("BroadcastExchange"), "IVF probe join must broadcast the query side")
    // brute-force kNN: the corpus side must broadcast-join the queries
    // (no corpus shuffle) and the final top-k must keep only k rows per
    // query map-side (Partial WindowGroupLimit) — without it the whole
    // corpus×queries scored set would ship through the rank exchange
    val brute = fmt(graft.operators.Similarity.bruteKnn(e, q, k = 5))
    assert(brute.contains("BroadcastExchange"), "bruteKnn must broadcast the query side")
    assert(brute.contains("WindowGroupLimit") && brute.contains("Partial"),
      "bruteKnn top-k must be limited map-side before the rank exchange")
  }

  test("sessionizeBatch: lag window, running-sum window, and session agg share ONE exchange") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val s = fmt(graft.streaming.StreamingIngest.sessionizeBatch(ev, 1800L))
    val exchanges = s.linesIterator.count(_.matches(".*\\bExchange \\(\\d+\\).*"))
    // hash(user_id) satisfies the clustering of every downstream step —
    // the (user_id, sess) aggregation included (subset rule) — so the
    // whole islands-and-gaps pattern costs exactly one shuffle
    assert(exchanges == 1,
      s"sessionization must reuse one hash(user_id) exchange, found $exchanges\n$s")
  }

  test("interval join plans an equi-key join with the range as residual, never a cross product") {
    import org.apache.spark.sql.functions.col
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val a = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    val b = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val s = fmt(graft.operators.AsOfJoin.intervalJoin(a, b, "user_id", "ts", 7200L))
    // the equi-key must be recognized as the join key (hash or
    // sort-merge); the time-range predicate must ride along as the
    // residual condition, not degrade the join to a nested loop
    assert(s.contains("HashJoin") || s.contains("SortMergeJoin"),
      s"interval join lost its equi-key\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"interval join degraded to a cross product\n$s")
    assert(s.contains("b_ts") && s.contains("Join condition"),
      s"range residual missing from the join condition\n$s")
  }

  test("upsert plans a broadcast anti-join of the update keys, never a full-outer merge") {
    val s = fmt(TextQueries.queries("q_upsert")(spark, dir))
    assert(s.contains("LeftAnti") && s.contains("BroadcastExchange"),
      s"update keys not broadcast against the base\n$s")
    assert(!s.contains("FullOuter"), s"upsert degraded to a full-outer merge\n$s")
  }

  test("sketch partials aggregate map-side: only sketch bytes cross the exchange") {
    import org.apache.spark.sql.functions.{col, to_date}
    val ev = spark.read.parquet(s"$dir/events.parquet")
    for (plan <- Seq(
      graft.operators.DsSketches.thetaPartials(ev, Seq("event_type"),
        to_date(col("ts")), "user_id"),
      graft.operators.DsSketches.kllPartials(ev, Seq("event_type"),
        to_date(col("ts")), "value"),
      graft.operators.DsSketches.kllStringsPartials(
        ev.withColumn("k", col("event_type")), Seq("event_type"),
        to_date(col("ts")), "k"))) {
      val s = fmt(plan)
      // TypedImperativeAggregate → ObjectHashAggregate with a partial
      // pass BEFORE the exchange: per-partition native sketches fold
      // rows locally; only kilobyte sketch bytes shuffle
      assert(s.contains("ObjectHashAggregate"), s"sketch agg not object-hash\n$s")
      val firstAgg = s.linesIterator.indexWhere(_.contains("ObjectHashAggregate"))
      assert(firstAgg >= 0 && s.contains("partial_graft_"),
        s"map-side partial sketch aggregation lost\n$s")
      assert(s.linesIterator.count(_.matches(".*\\bExchange \\(\\d+\\)")) == 1,
        s"sketch partials must shuffle exactly once\n$s")
    }
    // token heavy hitters: array ELEMENTS update the string sketch in
    // place — the plan must contain no Generate (explode), so no
    // token-grain rows ever exist, let alone shuffle
    graft.operators.DsSketches.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val toks = org.apache.spark.sql.functions.regexp_extract_all(
      org.apache.spark.sql.functions.lower(col("text")),
      org.apache.spark.sql.functions.lit("[a-z]+"),
      org.apache.spark.sql.functions.lit(0))
    val fs = fmt(docs.agg(org.apache.spark.sql.functions.call_function(
      "graft_freq_strings_agg", toks, org.apache.spark.sql.functions.lit(8))))
    assert(fs.contains("partial_graft_freq_strings"),
      s"freq-strings partial pass lost\n$fs")
    assert(!fs.contains("Generate"),
      s"token heavy hitters must not explode tokens into rows\n$fs")
  }

  test("cluster eval: all aggregates read the checkpointed contingency table, never the records") {
    import spark.implicits._
    val assign = (0 until 200).map(i => (f"x$i%03d", s"c${i % 7}")).toDF("id", "clusterId")
    val truth = (0 until 200).map(i => (f"x$i%03d", s"t${i % 5}")).toDF("id", "truthId")
    val s = fmt(graft.operators.ClusterEval.evaluate(assign, truth))
    // the record-grain join + groupBy ran EAGERLY inside evaluate(); the
    // returned plan must start from the checkpointed table on every
    // branch (marginals, cells, pair sums) — re-appearance of the raw
    // inputs (LocalTableScan here) would mean the one-record-shuffle
    // contract broke and the records get re-joined per aggregate
    assert(s.contains("Scan ExistingRDD"), "contingency checkpoint lost")
    assert(!s.contains("LocalTableScan"),
      "record-grain inputs re-entered the metric plan")
  }

  test("scoring input: persisted pairs reused, not recomputed") {
    val trees = ParseStage.parse(CorpusGen.corpus(spark, dir))
    val pairs = Blocking.candidatePairs(trees).persist()
    try {
      val pt = Scoring.attachTrees(pairs, trees).toDF()
      val s = fmt(pt)
      // the probe side reads pairs from cache, and nothing re-derives
      // them: no Window (the blocking cap re-run), no HashAggregate (a
      // degree count) and no Generate (a salt explode or key explode).
      // Walk the physical plan's children only — the formatted string
      // also prints the cached blocking plan inside InMemoryRelation
      val ops = pt.queryExecution.sparkPlan.collect { case p => p.nodeName }
      assert(ops.contains("InMemoryTableScan"), s"pairs not read from cache\n$s")
      for (op <- Seq("Window", "HashAggregate", "Generate"))
        assert(!ops.contains(op), s"attach plan re-derives pairs or degrees ($op)\n$s")
      assert(s.contains("Exchange"), "final CPU-balancing repartition lost")
    } finally pairs.unpersist()
  }

  test("edit-sim join: equi-joins only — neither channel degrades to a product") {
    import org.apache.spark.sql.functions.col
    val paths = CorpusGen.corpus(spark, dir).toDF()
      .select(col("path").as("s")).distinct().withColumn("id", col("s"))
    val s = fmt(graft.operators.EditSimJoin.join(paths, 1))
    // gram channel verifies through hash/SMJ equi-joins; the short band
    // is an equi-join on the expanded length key — a nested loop or
    // cartesian anywhere means exactness started costing O(n²) shipping
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"edit-sim join degraded to a product\n$s")
  }

  test("phonetic pairs: map-side block cap before the exchange, no products") {
    val s = fmt(TextQueries.queries("q_phonetic_pairs")(spark, dir))
    assert(s.contains("WindowGroupLimit") && s.contains("Partial"),
      s"per-code cap no longer runs map-side\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"phonetic pair generation degraded to a product\n$s")
  }

  test("suffix pairs: purge is a count-then-join, never a product") {
    val s = fmt(TextQueries.queries("q_suffix_pairs")(spark, dir))
    // the purge joins the survivor keys back on the SAME key the pair
    // aggregation groups by — any nested loop or cartesian means the
    // two-pass purge degraded to shipping unpurged blocks
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"suffix pair generation degraded to a product\n$s")
    assert(s.contains("HashAggregate"), s"purge count no longer an aggregate\n$s")
  }

  test("balanced pairs: index windows share one exchange, partner join never a product") {
    import org.apache.spark.sql.functions.col
    val keyed = spark.range(200).select((col("id") % 7L).as("key"), col("id"))
    val ixPlan = fmt(graft.operators.BlockSplit.indexed(keyed))
    // the rank window and the size window both partitionBy(key): one
    // hash partitioning must serve both — a second exchange here means
    // the whole block index pays a duplicated shuffle at corpus scale
    assert(ixPlan.linesIterator.count(_.matches(".*\\bExchange \\(\\d+\\)")) == 1,
      s"member rank and block size no longer share one exchange\n$ixPlan")
    val s = fmt(graft.operators.BlockSplit.balancedPairs(keyed))
    // partner resolution is an equi-join on (key, jdx) — that hash
    // spread over partner indexes IS the skew guarantee; a nested loop
    // or cartesian collapses a hot block back onto one task
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"partner resolution degraded to a product\n$s")
  }

  test("truth-discovery round: trust broadcast to claims, pooled agg map-side partial") {
    import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit, sum}
    val s0 = spark; import s0.implicits._
    val claims = (0 until 200).map(i => (f"s${i % 5}%02d", f"e${i % 40}%03d", s"v${i % 3}"))
      .toDF("source", "entity", "value")
    // one FIXED-POINT fixpoint round, exactly as
    // TruthDiscovery.investment builds it since round 5 (integer
    // floor-division invest, exact decimal sum)
    val nClaims = claims.groupBy(col("source")).agg(count(lit(1)).as("nclaims"))
    val trust = nClaims.select(col("source"),
      lit(graft.operators.TruthDiscovery.Scale).as("tq"))
    val inv = claims.join(broadcast(trust.join(nClaims, "source")), "source")
      .select(col("entity"), col("value"), expr("tq div nclaims").as("invq"))
    val base = inv.groupBy(col("entity"), col("value"))
      .agg(sum(col("invq").cast("decimal(38,0)")).as("base"))
    val plan = fmt(base)
    // the |sources|-row trust table must ship via broadcast — a
    // shuffled join here would re-exchange the full claims table per
    // round at 100 TB
    assert(plan.contains("BroadcastHashJoin"),
      s"trust join no longer broadcasts\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"claims re-shuffled against the tiny trust table\n$plan")
    // the pooled-investment aggregate must combine map-side
    assert(plan.contains("HashAggregate"), s"pooling lost hash agg\n$plan")
  }

  test("pq-gram pairs: bag-intersection joins stay equi-joins, never a product") {
    import org.apache.spark.sql.functions.col
    val s0 = spark; import s0.implicits._
    val prof = (0 until 300).map(i => (s"d${i % 30}", s"g${i % 17}", 1L + i % 3))
      .toDF("id", "gram", "cnt")
    val pairs = (0 until 20).map(i => (s"d$i", s"d${i + 5}")).toDF("idA", "idB")
    val plan = fmt(graft.operators.PqGrams.pairDistances(pairs, prof))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pq-gram distance degraded to a product\n$plan")
    // the intersection aggregate must be a hash aggregate (map-side combinable)
    assert(plan.contains("HashAggregate"), s"bag intersection lost hash agg\n$plan")
  }
}

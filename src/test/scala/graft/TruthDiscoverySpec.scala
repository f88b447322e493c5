package graft

import graft.operators.TruthDiscovery
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Truth discovery (Pasternack–Roth Sums + Investment g=2):
  *  - an in-memory replay differential for BOTH fixpoints on random
  *    claims: the operator runs in 1e-9 fixed-point integers, so the
  *    Spark dataflow must equal a plain-Scala BigInt recurrence
  *    EXACTLY — bit-equality, not a tolerance (this is the property
  *    that makes the er_truth and er_source_trust oracle rows
  *    hash-stable across engines and parallelism);
  *  - the motivating scenario: a colluding careless majority outvotes a
  *    reliable minority — majority vote resolves wrong, Investment
  *    resolves right because the minority's cross-entity consistency
  *    earns it trust;
  *  - tie/determinism/bounds invariants;
  *  - the corpus-model pins: at sf0.001 the planted model resolves
  *    50/50 entities correctly vs the vote's 33/50, and the learned
  *    trust separates the careful half from the careless half with a
  *    wide margin (the er_truth_* oracle rows re-derive the same
  *    numbers in DuckDB; this spec pins them in-JVM).
  */
class TruthDiscoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def df(rows: Seq[(String, String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("source", "entity", "value")
  }

  /** Plain-Scala BigInt replay of both fixpoints — the EXACT integer
    * recurrence the operator's fixed-point dataflow must reproduce
    * bit-for-bit (trust/belief in 1e-9 units, floor divisions, exact
    * integer sums). */
  private val S = BigInt(TruthDiscovery.Scale)
  private def replay(rows: Seq[(String, String, String)], rounds: Int,
                     algo: String): (Map[String, BigInt], Map[(String, String), BigInt]) = {
    val claims = rows.distinct
    val sources = claims.map(_._1).distinct
    val nClaims = claims.groupBy(_._1).map { case (s, c) => s -> BigInt(c.size) }
    var trust = sources.map(_ -> S).toMap
    var beliefs = Map.empty[(String, String), BigInt]
    var baseR = Map.empty[(String, String), BigInt]
    for (_ <- 1 to rounds) {
      if (algo == "inv") {
        val inv = sources.map(s => s -> trust(s) / nClaims(s)).toMap
        val base = claims.groupBy(c => (c._2, c._3)).map { case (k, cs) =>
          k -> cs.map(c => inv(c._1)).sum
        }
        baseR = base
        val tRaw = sources.map { s =>
          s -> claims.filter(_._1 == s).map(c => base((c._2, c._3)) * inv(s)).sum
        }.toMap
        val tMax = tRaw.values.max
        trust = tRaw.map { case (s, t) => s -> t * S / tMax }
      } else {
        val bRaw = claims.groupBy(c => (c._2, c._3)).map { case (k, cs) =>
          k -> cs.map(c => trust(c._1)).sum
        }
        val bMax = bRaw.values.max
        val b = bRaw.map { case (k, v) => k -> v * S / bMax }
        beliefs = b
        val tRaw = sources.map { s =>
          s -> claims.filter(_._1 == s).map(c => b((c._2, c._3))).sum
        }.toMap
        val tMax = tRaw.values.max
        trust = tRaw.map { case (s, t) => s -> t * S / tMax }
      }
    }
    if (algo == "inv") {
      val byE = baseR.groupBy(_._1._1)
      beliefs = baseR.map { case (k, v) =>
        val den = byE(k._1).values.map(x => x * x).sum
        k -> (if (den == 0) BigInt(0) else v * v * S / den)
      }
    }
    (trust, beliefs)
  }

  private def randClaims(seed: Long, nS: Int, nE: Int): Seq[(String, String, String)] = {
    val rng = new graft.util.Hashing.DetRng(seed)
    (for {
      s <- 0 until nS; e <- 0 until nE
      if rng.nextInt(4) != 0 // ~75 % coverage
    } yield (f"s$s%02d", f"e$e%03d", s"v${rng.nextInt(3)}")).distinct
  }

  test("differential: Spark Investment == BigInt fixed-point recurrence EXACTLY") {
    for (seed <- Seq(7L, 19L)) {
      val rows = randClaims(seed, 6, 12)
      val r = TruthDiscovery.investment(df(rows))
      val (trust, beliefs) = replay(rows, TruthDiscovery.Rounds, "inv")
      val got = r.trust.collect().map(x => x.getString(0) -> BigInt(x.getLong(2))).toMap
      assert(got.keySet === trust.keySet)
      got.foreach { case (s, t) => assert(t === trust(s), s"trust_fp($s)") }
      val gotB = r.beliefs.collect()
        .map(x => (x.getString(0), x.getString(1)) -> BigInt(x.getLong(3))).toMap
      assert(gotB.keySet === beliefs.keySet)
      gotB.foreach { case (k, b) => assert(b === beliefs(k), s"belief_fp($k)") }
      // and the double rendering is the exact /Scale image of the integers
      r.trust.collect().foreach { x =>
        assert(x.getDouble(1) === x.getLong(2).toDouble / TruthDiscovery.Scale) }
    }
  }

  test("differential: Spark Sums == BigInt fixed-point recurrence EXACTLY") {
    val rows = randClaims(23L, 5, 10)
    val r = TruthDiscovery.sums(df(rows))
    val (trust, beliefs) = replay(rows, TruthDiscovery.Rounds, "sums")
    val got = r.trust.collect().map(x => x.getString(0) -> BigInt(x.getLong(2))).toMap
    got.foreach { case (s, t) => assert(t === trust(s), s"trust_fp($s)") }
    val gotB = r.beliefs.collect()
      .map(x => (x.getString(0), x.getString(1)) -> BigInt(x.getLong(3))).toMap
    gotB.foreach { case (k, b) => assert(b === beliefs(k), s"belief_fp($k)") }
  }

  test("empty claims fail loudly, not with an opaque NPE") {
    val e1 = intercept[IllegalArgumentException] {
      TruthDiscovery.investment(df(Seq.empty)) }
    assert(e1.getMessage.contains("empty claims"))
    val e2 = intercept[IllegalArgumentException] {
      TruthDiscovery.sums(df(Seq.empty)) }
    assert(e2.getMessage.contains("empty claims"))
  }

  test("colluding careless majority: vote wrong, Investment right") {
    // Every source makes 9 claims (equal counts — Investment splits
    // trust across claims, so unequal counts would measure prolificacy,
    // not reliability). r1,r2 corroborate each other on e1..e8 and
    // claim A on the contested eX; u1,u2,u3 are wrong AND mutually
    // inconsistent on e1..e8 (each claims its own junk value) but
    // collude on eX = B. Vote on eX: B (3 sources > 2). Investment:
    // round 1 already pools 2/9 on every r claim vs 1/9 on every u
    // filler claim, the quadratic growth pays r's corroboration back
    // as trust, and by the contested entity A(2·T_r) outgrows B(3·T_u).
    val rows =
      (for (e <- 1 to 8; s <- Seq("r1", "r2")) yield (s, f"e$e%02d", "t")) ++
        (for (e <- 1 to 8; s <- Seq("u1", "u2", "u3")) yield (s, f"e$e%02d", s"junk-$s")) ++
        Seq(("r1", "eX", "A"), ("r2", "eX", "A"),
          ("u1", "eX", "B"), ("u2", "eX", "B"), ("u3", "eX", "B"))
    val claims = df(rows)
    val vote = TruthDiscovery.majorityVote(claims)
      .where(col("entity") === "eX").head().getString(1)
    assert(vote === "B")
    val resolved = TruthDiscovery.resolve(claims)
      .where(col("entity") === "eX").head().getString(1)
    assert(resolved === "A")
    // and the trust ordering says why
    val trust = TruthDiscovery.investment(claims).trust.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(Seq("r1", "r2").map(trust).min > Seq("u1", "u2", "u3").map(trust).max)
  }

  test("tie-break: identical support sets resolve to the smaller value") {
    // two entities, each claimed 'a' by s1 and 'b' by s2 — exactly
    // symmetric, so beliefs tie and the smaller value string must win
    val rows = Seq(
      ("s1", "e1", "a"), ("s2", "e1", "b"),
      ("s1", "e2", "b"), ("s2", "e2", "a"))
    val res = TruthDiscovery.resolve(df(rows)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(res === Map("e1" -> "a", "e2" -> "a"))
  }

  test("bounds + determinism: trust in (0,1], max exactly 1, runs repeatable") {
    val rows = randClaims(31L, 6, 10)
    val t1 = TruthDiscovery.investment(df(rows)).trust.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).sortBy(_._1)
    assert(t1.forall { case (_, t) => t > 0.0 && t <= 1.0 })
    assert(t1.map(_._2).max === 1.0)
    val t2 = TruthDiscovery.investment(df(rows)).trust.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).sortBy(_._1)
    assert(t1.toSeq === t2.toSeq)
  }

  test("corpus model pins: 50/50 resolved vs 33/50 vote; trust halves separated") {
    val s = spark
    val claims = ErQueries.truthResults(s, "/root/testdata/sf0.001").claims
    val res = TruthDiscovery.resolve(claims)
    val truth = claims.select(col("entity"), col("truth")).distinct()
    val inv = res.join(truth, "entity")
      .agg(sum(when(col("value") === col("truth"), 1L).otherwise(0L)),
        count(lit(1))).head()
    assert(inv.getLong(0) === 50L && inv.getLong(1) === 50L)
    val vote = TruthDiscovery.majorityVote(claims).join(truth, "entity")
      .agg(sum(when(col("vote_value") === col("truth"), 1L).otherwise(0L))).head()
    assert(vote.getLong(0) === 33L)
    val trust = TruthDiscovery.investment(claims).trust.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val careful = (0 until 5).map(i => trust(f"s$i%02d"))
    val careless = (5 until 10).map(i => trust(f"s$i%02d"))
    assert(careful.min > 0.85 && careless.max < 0.25,
      s"expected wide separation, got careful=$careful careless=$careless")
  }
}

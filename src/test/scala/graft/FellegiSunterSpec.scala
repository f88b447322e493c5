package graft

import graft.operators.FellegiSunter
import graft.sources.CorpusGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fellegi–Sunter layer: EM parameter recovery on synthetic vectors with
  * known generating parameters, weight-table sanity, and the end-to-end
  * decision quality over the pipeline's candidate pairs. */
class FellegiSunterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Deterministic synthetic comparison-vector histogram drawn from known
    * (m, u, p) under conditional independence — exact expected counts per
    * pattern (no sampling noise), scaled to integer counts. */
  private def syntheticHist(
      m: Array[Double], u: Array[Double], p: Double, n: Long): Array[(Int, Long)] = {
    val k = m.length
    (0 until (1 << k)).map { pat =>
      var pm = 1.0; var pu = 1.0
      for (j <- 0 until k) {
        val agree = ((pat >> j) & 1) == 1
        pm *= (if (agree) m(j) else 1.0 - m(j))
        pu *= (if (agree) u(j) else 1.0 - u(j))
      }
      pat -> math.round((p * pm + (1.0 - p) * pu) * n)
    }.filter(_._2 > 0).toArray
  }

  test("EM recovers known generating parameters from exact-expectation counts") {
    val m = Array(0.95, 0.9, 0.85, 0.6, 0.7)
    val u = Array(0.05, 0.2, 0.15, 0.4, 0.02)
    val p = 0.3
    val fit = FellegiSunter.fitEmHistogram(
      syntheticHist(m, u, p, 10000000L), iters = 200)
    // exact expected counts → EM's fixed point is the generator (up to
    // label order; init m>u keeps the match class on the match class)
    assert(math.abs(fit.p - p) < 0.02, s"p: ${fit.p}")
    for (j <- m.indices) {
      assert(math.abs(fit.m(j) - m(j)) < 0.03, s"m($j): ${fit.m(j)}")
      assert(math.abs(fit.u(j) - u(j)) < 0.03, s"u($j): ${fit.u(j)}")
    }
  }

  test("EM is deterministic: same histogram, same params, bit for bit") {
    val hist = syntheticHist(
      Array(0.9, 0.8, 0.7, 0.6, 0.9), Array(0.1, 0.2, 0.3, 0.2, 0.05), 0.2, 100000L)
    val a = FellegiSunter.fitEmHistogram(hist)
    val b = FellegiSunter.fitEmHistogram(hist)
    assert(a.m.toSeq == b.m.toSeq && a.u.toSeq == b.u.toSeq && a.p == b.p)
  }

  test("pattern table: all-agreement maximizes, all-disagreement minimizes weight; posterior is monotone in it") {
    val params = FellegiSunter.FsParams(
      Array(0.95, 0.9, 0.85, 0.6, 0.7), Array(0.05, 0.2, 0.15, 0.4, 0.02), 0.3)
    val tbl = FellegiSunter.patternTable(params)
    val full = (1 << FellegiSunter.k) - 1
    val byPat = tbl.map(t => t._1 -> t).toMap
    assert(tbl.maxBy(_._2)._1 == full, "all-agree must carry max weight")
    assert(tbl.minBy(_._2)._1 == 0, "all-disagree must carry min weight")
    // flipping any single bit on never lowers weight or posterior when
    // that field is informative (m > u ⇒ positive agreement evidence)
    for (pat <- 0 until (1 << FellegiSunter.k); j <- 0 until FellegiSunter.k
         if ((pat >> j) & 1) == 0) {
      val up = byPat(pat | (1 << j)); val base = byPat(pat)
      assert(up._2 > base._2 && up._3 >= base._3,
        s"agreement on field $j must raise weight: $pat")
    }
  }

  test("value-specific weights: exact chance-agreement probability, rare beats common, agreements only") {
    import spark.implicits._
    // 10 records: "rare.c" ×2, "mid.c" ×3, "big.c" ×5
    val paths = Seq.fill(2)("rare.c") ++ Seq.fill(3)("mid.c") ++ Seq.fill(5)("big.c")
    val trees = paths.zipWithIndex
      .map { case (p, i) => (f"x$i%02d", s"d$i/$p") }.toDF("id", "path")
    val features = Seq(
      ("x00", "x01", "a/rare.c", "b/rare.c"), // agree rare
      ("x02", "x03", "a/mid.c", "b/mid.c"),   // agree mid
      ("x05", "x06", "a/big.c", "b/big.c"),   // agree common
      ("x00", "x05", "a/rare.c", "b/big.c")   // disagreement — excluded
    ).toDF("idA", "idB", "pathA", "pathB")
    val params = FellegiSunter.FsParams(
      Array(0.9, 0.9, 0.9, 0.8, 0.9), Array(0.1, 0.1, 0.1, 0.3, 0.1), 0.2)
    val rows = FellegiSunter.valueWeights(features, trees, params)
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[Long]("freq"), r.getAs[Double]("u_v"), r.getAs[Double]("w_value")))
      .toMap
    assert(rows.size == 3, "disagreeing pair must be excluded")
    assert(rows("rare.c")._1 == 2L && rows("mid.c")._1 == 3L && rows("big.c")._1 == 5L)
    // exact u_v = freq(freq-1)/(N(N-1)), N = 10
    assert(rows("rare.c")._2 == math.round(2.0 * 1 / 90 * 1e9) / 1e9)
    assert(rows("mid.c")._2 == math.round(3.0 * 2 / 90 * 1e9) / 1e9)
    assert(rows("big.c")._2 == math.round(5.0 * 4 / 90 * 1e9) / 1e9)
    // rarer value ⇒ strictly higher weight
    assert(rows("rare.c")._3 > rows("mid.c")._3 && rows("mid.c")._3 > rows("big.c")._3)
    // and the rare-agreement weight exceeds the flat field weight
    assert(rows("rare.c")._3 > math.log(0.8 / 0.3) / math.log(2.0))
  }

  test("contribution table: per-field terms sum to the pattern weight; agree bits match") {
    val params = FellegiSunter.FsParams(
      Array(0.95, 0.9, 0.85, 0.6, 0.7), Array(0.05, 0.2, 0.15, 0.4, 0.02), 0.3)
    val weights = FellegiSunter.patternTable(params).map(t => t._1 -> t._2).toMap
    val byPat = FellegiSunter.contributionTable(params).groupBy(_._1)
    assert(byPat.size == (1 << FellegiSunter.k))
    for ((pat, rows) <- byPat) {
      assert(rows.map(_._2).sorted == (0 until FellegiSunter.k))
      for ((_, j, field, agree, _) <- rows) {
        assert(agree == ((pat >> j) & 1))
        assert(field == FellegiSunter.fieldNames(j))
      }
      // per-term /ln2 vs summed-then-/ln2: equal up to float association
      assert(math.abs(rows.map(_._5).sum - weights(pat)) < 1e-9, s"pattern $pat")
    }
  }

  test("optimal-rule threshold table: probability masses, region structure, error-rate bounds") {
    val params = FellegiSunter.FsParams(
      Array(0.95, 0.9, 0.85, 0.6, 0.7), Array(0.05, 0.2, 0.15, 0.4, 0.02), 0.3)
    val tbl = FellegiSunter.thresholdTable(params, mu = 0.001, lambda = 0.01)
    assert(tbl.map(_._2).sorted == (0 until (1 << FellegiSunter.k)).toList,
      "every pattern exactly once")
    // class-conditional masses each sum to 1
    assert(math.abs(tbl.map(_._4).sum - 1.0) < 1e-12, "m-mass sums to 1")
    assert(math.abs(tbl.map(_._5).sum - 1.0) < 1e-12, "u-mass sums to 1")
    // rule order: weight non-increasing, cum_u non-decreasing,
    // cum_m_down non-increasing
    tbl.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 >= b._3 && a._6 <= b._6 && a._7 >= b._7)
    }
    // regions form contiguous match* possible* nonmatch* bands in order
    val regions = tbl.map(_._8)
    val collapsed = regions.foldLeft(List.empty[String]) {
      case (acc, r) if acc.headOption.contains(r) => acc
      case (acc, r) => r :: acc
    }.reverse
    assert(Seq("match", "possible", "nonmatch").containsSlice(collapsed) ||
      collapsed == Seq("match", "nonmatch"),
      s"band structure: $collapsed")
    // the declared-match region respects the false-match bound, and the
    // declared-non-match region the false-non-match bound
    val lastMatch = tbl.filter(_._8 == "match")
    if (lastMatch.nonEmpty) assert(lastMatch.last._6 <= 0.001, "achieved mu")
    val firstNon = tbl.filter(_._8 == "nonmatch")
    if (firstNon.nonEmpty) assert(firstNon.head._7 <= 0.01, "achieved lambda")
    // extending the match region one pattern further would break mu
    val firstAfter = tbl.drop(lastMatch.length).headOption
    firstAfter.foreach(r => assert(r._6 > 0.001, "match region is maximal"))
  }

  test("pipeline integration: FS decisions on the sf0.001 assessment pairs hit F1 >= 0.99 vs ground truth") {
    // the assessment set (LSH ∪ SNM, SNM supplying true non-matches) and
    // the fit come from the shared query-layer cache — the same objects
    // the er_fs_* oracle rows check
    val fs = ErQueries.fsResults(spark, "/root/testdata/sf0.001")
    val params = fs.params
    // the match class must sit on the agreeing side for the strong
    // fields (ted_close, lang_eq); name_eq is negatively informative on
    // this corpus (same-group members never share a member filename)
    assert(params.m(0) > params.u(0), "ted_close must be match-informative")
    assert(params.m(4) > params.u(4), "lang_eq must be match-informative")
    assert(params.m(3) < params.u(3), "name_eq must be anti-informative here")
    assert(params.p > 0.0 && params.p < 1.0)
    val eval = FellegiSunter.evalDecisions(fs.weighted).collect()(0)
    val f1 = eval.getAs[Double]("f1")
    assert(f1 >= 0.99, s"FS decision F1 on assessment pairs: $f1 (eval row: $eval)")
  }

  // ---- missing-data (ternary) extension ----

  /** Binary histogram re-encoded base-3 (digits 0/1 only, no missing). */
  private def toTernary(hist: Array[(Int, Long)], k: Int): Array[(Int, Long)] =
    hist.map { case (pat, cnt) =>
      (0 until k).map(j => ((pat >> j) & 1) * FellegiSunter.pow3(j)).sum -> cnt
    }

  test("ternary EM with no missing digits reduces EXACTLY to the binary EM") {
    val m = Array(0.95, 0.9, 0.85, 0.6, 0.7)
    val u = Array(0.05, 0.2, 0.15, 0.4, 0.02)
    val hist = syntheticHist(m, u, 0.3, 1000000L)
    val bin = FellegiSunter.fitEmHistogram(hist)
    val ter = FellegiSunter.fitEmTernaryHistogram(toTernary(hist, m.length))
    // same doubles, bit for bit: with every field observed in every
    // pattern, the per-field denominators all equal the shared one
    assert(ter.p == bin.p)
    for (j <- m.indices) {
      assert(ter.m(j) == bin.m(j), s"m($j)")
      assert(ter.u(j) == bin.u(j), s"u($j)")
    }
  }

  test("ternary pattern table: a missing digit contributes weight 0 and factor 1") {
    val params = FellegiSunter.FsParams(
      Array(0.95, 0.9, 0.85, 0.6, 0.7), Array(0.05, 0.2, 0.15, 0.4, 0.02), 0.3)
    val tbl = FellegiSunter.patternTableTernary(params).map(t => t._1 -> t).toMap
    val ln2 = math.log(2.0)
    for (j <- 0 until FellegiSunter.k; base <- Seq(0, 1 + 3 + 9 + 27 + 81)) {
      // take an all-disagree / all-agree pattern and flip field j to
      // missing: the weight must drop by exactly field j's term
      val dj = (base / FellegiSunter.pow3(j)) % 3
      val term =
        if (dj == 1) math.log(params.m(j) / params.u(j)) / ln2
        else math.log((1.0 - params.m(j)) / (1.0 - params.u(j))) / ln2
      val miss = base + (FellegiSunter.CodeMissing - dj) * FellegiSunter.pow3(j)
      assert(math.abs(tbl(miss)._2 - (tbl(base)._2 - term)) < 1e-9,
        s"field $j from base $base")
    }
  }

  test("EM with per-field missingness still recovers the generator on observed masses") {
    // inject 1/3 missing on field 1 of the exact-expectation histogram:
    // every pattern splits into (2/3 observed, 1/3 missing-at-random on
    // that field) — MAR noise must not move the other fields' estimates
    val m = Array(0.95, 0.9, 0.85, 0.6, 0.7)
    val u = Array(0.05, 0.2, 0.15, 0.4, 0.02)
    val tern = toTernary(syntheticHist(m, u, 0.3, 9000000L), m.length)
    val withMissing = tern.flatMap { case (pat, cnt) =>
      val d1 = (pat / 3) % 3
      val masked = pat + (FellegiSunter.CodeMissing - d1) * 3
      Seq(pat -> (cnt * 2 / 3), masked -> (cnt / 3))
    }.groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).sum }.toArray
    val fit = FellegiSunter.fitEmTernaryHistogram(withMissing, iters = 200)
    assert(math.abs(fit.p - 0.3) < 0.02, s"p: ${fit.p}")
    for (j <- m.indices) {
      assert(math.abs(fit.m(j) - m(j)) < 0.03, s"m($j): ${fit.m(j)}")
      assert(math.abs(fit.u(j) - u(j)) < 0.03, s"u($j): ${fit.u(j)}")
    }
  }

  test("pipeline integration: ternary FS decisions stay >= 0.98 F1 under injected missingness") {
    val fsm = ErQueries.fsMissingResults(spark, "/root/testdata/sf0.001")
    // the three channels really fire (rates > 0) and the strong fields
    // stay informative
    val rates = fsm.vectors.agg(
      avg(when(col("c1") === FellegiSunter.CodeMissing, 1.0).otherwise(0.0)).as("r1"),
      avg(when(col("c3") === FellegiSunter.CodeMissing, 1.0).otherwise(0.0)).as("r3"),
      avg(when(col("c4") === FellegiSunter.CodeMissing, 1.0).otherwise(0.0)).as("r4"))
      .collect()(0)
    assert(rates.getDouble(0) > 0.05 && rates.getDouble(1) > 0.05 &&
      rates.getDouble(2) > 0.05, s"missingness channels must fire: $rates")
    assert(fsm.params.m(0) > fsm.params.u(0))
    val eval = FellegiSunter.evalDecisions(fsm.weighted).collect()(0)
    val f1 = eval.getAs[Double]("f1")
    assert(f1 >= 0.98, s"ternary FS F1 under missingness: $f1 (eval: $eval)")
  }
}

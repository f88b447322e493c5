package graft

import graft.operators.{DsSketches, ZOrder}
import graft.util.SessionMemo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Datasketches-library sketch coverage: theta set algebra, mergeable
  * KLL quantile tables, Misra–Gries heavy hitters — over the events
  * table.
  *
  * Oracle pattern (same as SketchQueries): estimates cannot be
  * recomputed cross-engine, so each query emits the estimate NEXT TO
  * independently recomputable columns and a bound verdict; the DuckDB
  * oracle takes the DUMPED estimate/bounds as given, recomputes the
  * exact side from the base table, and re-judges the verdict.
  *
  * Determinism: KLL compaction is randomized and Misra–Gries eviction
  * is arrival-order-dependent, so re-evaluating the same aggregation
  * can produce different (in-bounds) estimates. Production persists a
  * sketch table once and reads bytes thereafter; here [[frozen]] mirrors
  * that by materializing each estimate table exactly once per (session,
  * sf-dir) — the query result and the aux dump are the SAME rows, so
  * the driver's hash compare sees one consistent build. The frozen
  * tables are metadata-sized by construction (≤ #groups·#ps rows of a
  * few KB), the same driver-residency class as a collected file index.
  */
object DsSketchQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** ONE definition each for Scala queries and interpolated oracle SQL. */
  private val QuantilePs = Seq(0.25, 0.5, 0.75)
  private val KllEps = DsSketches.kllRankEps()
  /** Skewed heavy-hitter key: bucket 10 absorbs every user with
    * user_id % 100 ≥ 10 (~90 % of rows) so eviction + the error bounds
    * genuinely engage at FreqMapSize = 8 < 11 distinct keys. */
  private val FreqKeySql = "least(user_id % 100, 10)"
  private def freqKey = least(col("user_id") % 100, lit(10)).cast("long")

  /** Token heavy hitters: one identical tokenizer on both engines. The
    * synthetic corpus's ~31 tokens are near-UNIFORM (~n/31 each), so no
    * real heavy hitter exists and every verdict would be vacuous on raw
    * tokens; like [[FreqKeySql]]'s least() trick, collapse the upper
    * half of the alphabet into one bucket (~53 % of the stream) so the
    * NO_FALSE_NEGATIVES threshold genuinely engages, while the ~15
    * surviving distinct tokens still exceed map size 8 → eviction too. */
  private val FreqTokMapSize = 8
  private def docTokens = transform(
    regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)),
    t => least(t, lit("m")))
  private val DocTokensSql =
    "list_transform(regexp_extract_all(lower(text), '[a-z]+'), t -> least(t, 'm'))"

  /** Path-like ASCII string sort key (range-partition split points are
    * the real-world use: file paths / URL keys). ASCII keeps Java
    * natural String order == the byte order Spark/DuckDB `<=` use. */
  private def pathKey =
    concat(col("source"), lit("/"), lpad(col("doc_id").cast("string"), 8, "0"))
  private val PathKeySql = "source || '/' || lpad(CAST(doc_id AS VARCHAR), 8, '0')"

  /** Range-count probe endpoints over events.value (≈32 % selectivity
    * at sf0.01 — mid-range, so neither bound is degenerate). */
  private val RangeLo = 50.0
  private val RangeHi = 150.0

  /** KLL tile-sidecar probe: the center 10 % of the y (l_orderkey)
    * range — y-aligned, so the sidecar's exact min/max prunes most
    * z-tiles before any cardinality question is even asked. */
  private val TileLoPct = 45L
  private val TileHiPct = 55L

  /** Range-layout probe: path keys in [KeyLo, KeyHi) — sources
    * src3..src6 (lexicographic: src10..src19 sort before src2). */
  private val KeyLo = "src3"
  private val KeyHi = "src7"

  /** Budget-scan probe: an ASYMMETRIC y range ([45 %, 51 %]) that only
    * partially overlaps its second 12.5 % y-strip — partially-covered
    * tiles yield ~5× fewer hits than fully-covered ones. That is the
    * skew a min/max envelope cannot see ("overlaps" for all of them)
    * and the KLL per-tile cardinality can. */
  private val BudgetHiPct = 51L // lo is TileLoPct = 45

  /** Certified-coverage target 9/10 as an integer ratio: the whole
    * budget plan is long arithmetic over the sidecar's lb column, so
    * both engines choose bit-identical tile sets. */
  private val BudgetNum = 9L
  private val BudgetDen = 10L

  // ---- frozen (build-once) estimate tables --------------------------------

  /** One estimate table, collected to the driver once per (session,
    * sf-dir) and read back from those rows ever after. */
  private def frozen(build: (SparkSession, String) => DataFrame) =
    SessionMemo { (s, dir: String) =>
      val df = build(s, dir)
      val rows = java.util.Arrays.asList(df.collect(): _*)
      s.createDataFrame(rows, df.schema)
    }

  private val freqBytes = SessionMemo { (s, dir: String) =>
    DsSketches.freqSketch(t(s, dir, "events"), freqKey)
  }

  private val setopsEst = frozen { (s, dir) =>
    DsSketches.thetaCohortSetOps(t(s, dir, "events"), "event_type", "user_id")
  }

  private val mergeEst = frozen { (s, dir) =>
    DsSketches.thetaMergeEstimate(
      DsSketches.thetaPartials(t(s, dir, "events"), Seq("event_type"),
        to_date(col("ts")), "user_id"),
      Seq("event_type"))
  }

  private val kllEst = frozen { (s, dir) =>
    DsSketches.kllMergedQuantiles(
      DsSketches.kllPartials(t(s, dir, "events"), Seq("event_type"),
        to_date(col("ts")), "value"),
      Seq("event_type"), QuantilePs)
  }

  private val freqItemsEst = frozen { (s, dir) =>
    DsSketches.freqItems(s, freqBytes(s, dir)).orderBy(col("item"))
  }

  /** One frozen row per (cohort, retained sample): the reservoir's
    * exact stream length rides along for the n_ok verdict. */
  private val reservoirEst = frozen { (s, dir) =>
    DsSketches.reservoirSketch(t(s, dir, "events"), Seq("event_type"), "event_id")
      .select(col("event_type"),
        DsSketches.reservoirN(col("sketch")).as("n_stream"),
        explode(DsSketches.reservoirSamples(col("sketch"))).as("sample_id"))
  }

  /** One frozen row per (cohort, retained weighted sample): the exact
    * stream length and preserved total weight ride along. */
  private val varoptEst = frozen { (s, dir) =>
    DsSketches.varoptSketch(t(s, dir, "events"), Seq("event_type"),
        "event_id", "value")
      .select(col("event_type"),
        DsSketches.varoptN(col("sketch")).as("n_stream"),
        DsSketches.varoptTotalWeight(col("sketch")).as("total_weight"),
        explode(DsSketches.varoptSamples(col("sketch"))).as("sw"))
      .select(col("event_type"), col("n_stream"), col("total_weight"),
        col("sw._1").as("sample_id"), col("sw._2").as("adj_weight"))
  }

  /** Per-cohort tuple sketches (distinct user_id, summary = Σ value):
    * kept as sketches so both the per-cohort metrics AND the pairwise
    * intersection query derive from ONE frozen build. */
  private val tupleSk = frozen { (s, dir) =>
    DsSketches.tupleSketch(t(s, dir, "events"), Seq("event_type"),
      "user_id", "value")
  }

  private val tupleEst = frozen { (s, dir) =>
    tupleSk(s, dir).select(col("event_type"),
      DsSketches.tupleEstimate(col("sketch")).as("est_users"),
      DsSketches.tupleLower(col("sketch")).as("lb"),
      DsSketches.tupleUpper(col("sketch")).as("ub"),
      DsSketches.tupleSumEstimate(col("sketch")).as("sum_est"))
  }

  private val freqTokBytes = SessionMemo { (s, dir: String) =>
    DsSketches.freqStringsSketch(t(s, dir, "documents"), docTokens, FreqTokMapSize)
  }

  private val freqTokensEst = frozen { (s, dir) =>
    DsSketches.freqStringItems(s, freqTokBytes(s, dir)).orderBy(col("item"))
  }

  /** Merged per-lang string-quantile split points from per-shard
    * partials (shard = doc_id % 8 — 8 "files" per lang). */
  private val kllStrEst = frozen { (s, dir) =>
    DsSketches.kllStringsMergedQuantiles(
      DsSketches.kllStringsPartials(
        t(s, dir, "documents").withColumn("path_key", pathKey),
        Seq("lang"), pmod(col("doc_id"), lit(8)), "path_key"),
      Seq("lang"), QuantilePs)
  }

  /** One metadata-only range-count row from per-day KLL partials. */
  private val rangeCountEst = frozen { (s, dir) =>
    DsSketches.kllRangeCount(
      DsSketches.kllPartials(t(s, dir, "events"), Seq.empty,
        to_date(col("ts")), "value"),
      RangeLo, RangeHi)
  }

  private val tupleOverlapEst = frozen { (s, dir) =>
    val sk = tupleSk(s, dir)
    val a = sk.select(col("event_type").as("cohort_a"), col("sketch").as("sk_a"))
    val b = sk.select(col("event_type").as("cohort_b"), col("sketch").as("sk_b"))
    a.join(b, col("cohort_a") < col("cohort_b"))
      .withColumn("sk_i", DsSketches.tupleIntersectPair(col("sk_a"), col("sk_b")))
      .select(col("cohort_a"), col("cohort_b"),
        DsSketches.tupleEstimate(col("sk_i")).as("est_common"),
        DsSketches.tupleLower(col("sk_i")).as("lb"),
        DsSketches.tupleUpper(col("sk_i")).as("ub"),
        DsSketches.tupleSumEstimate(col("sk_i")).as("sum_common_est"))
  }

  /** Shared z-layout of lineitem on (l_partkey, l_orderkey) with the
    * y envelope — one definition for the frozen sidecar builds, the
    * queries' exact sides, and the generated SQL. Carries l_suppkey
    * for the per-tile distinct-key sidecar. */
  private def zfiledLineitem(s: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey").cast("long").as("x"),
        col("l_orderkey").cast("long").as("y"),
        col("l_suppkey").cast("long").as("k"))
    val st = li.agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
    (ZOrder.withZFile(li, col("x"), col("y"),
      st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3)),
      st.getLong(2), st.getLong(3))
  }

  /** y value at `pct` percent of the envelope — integer arithmetic,
    * identical in the generated SQL. */
  private def yAt(ymn: Long, ymx: Long, pct: Long): Long =
    ymn + (ymx - ymn) * pct / 100

  /** Frozen per-z-tile KLL partials over y — ONE sidecar build feeding
    * every probe below (a production sidecar is written once and
    * probed many times). */
  private val kllTilePartials = frozen { (s, dir) =>
    val (zfiled, _, _) = zfiledLineitem(s, dir)
    DsSketches.kllPartials(
        zfiled.withColumn("v", col("y").cast("double")),
        Seq.empty, col("zfile"), "v")
      .withColumnRenamed("shard", "zfile")
  }

  /** One frozen row per z-tile: the KLL sidecar's scan-planning read
    * (n, mn, mx, est, lb, ub, pruned) for the y-slice probe. The
    * sidecar is built over the y dimension, so the exact sketch
    * min/max subsumes the min/max index's y columns — most tiles prune
    * outright — while the rank reads add the per-tile cardinality an
    * envelope cannot give. (Reading a frozen sketch is deterministic,
    * but the stats table is frozen too so the dump and the query are
    * one build by construction.) */
  private val kllTileEst = frozen { (s, dir) =>
    val (_, ymn, ymx) = zfiledLineitem(s, dir)
    DsSketches.kllTileStats(kllTilePartials(s, dir),
      yAt(ymn, ymx, TileLoPct).toDouble, yAt(ymn, ymx, TileHiPct).toDouble)
  }

  /** Per-lang merged theta sketches over sha256(content) of the ER
    * corpus — the pipeline-metrics shape: every partition/micro-batch
    * emits a per-(lang, repo) partial next to its lineage row, and the
    * metrics table merges them without touching row data. The `*` row
    * merges ALL partials (global distinct-content count → corpus dedup
    * ratio vs Σ per-lang). */
  private val erLangThetaEst = frozen { (s, dir) =>
    val corpus = graft.sources.CorpusGen.corpus(s, dir).toDF()
      .withColumn("sha", sha2(col("content"), 256))
    val partials = DsSketches.thetaPartials(corpus, Seq("lang"),
      col("repo"), "sha")
    DsSketches.thetaMergeEstimate(partials, Seq("lang"))
      .unionByName(DsSketches.thetaMergeEstimate(
        partials.withColumn("lang", lit("*")), Seq("lang")))
  }

  /** Same sidecar, read for the asymmetric budget probe. */
  private val kllTileBudgetEst = frozen { (s, dir) =>
    val (_, ymn, ymx) = zfiledLineitem(s, dir)
    DsSketches.kllTileStats(kllTilePartials(s, dir),
      yAt(ymn, ymx, TileLoPct).toDouble, yAt(ymn, ymx, BudgetHiPct).toDouble)
  }

  /** Distinct l_suppkey across the FILES the y-slice probe must read,
    * merged from per-tile theta partials of only the unpruned tiles —
    * metadata-only distinct-count planning (dictionary / broadcast /
    * dedup-state sizing) for an arbitrary file subset, the question a
    * bloom (membership) and a KLL (cardinality) sidecar cannot answer. */
  private val thetaTileEst = frozen { (s, dir) =>
    val (zfiled, _, _) = zfiledLineitem(s, dir)
    val partials = DsSketches
      .thetaPartials(zfiled, Seq.empty, col("zfile"), "k")
      .withColumnRenamed("shard", "zfile")
    DsSketches.thetaMergeEstimate(
      partials
        .join(kllTileEst(s, dir).select(col("zfile"), col("pruned")), "zfile")
        .where(!col("pruned")),
      Seq.empty)
  }

  /** GLOBAL string split points over the documents path key (quartiles
    * from per-shard partials) — the sketch-driven replacement for
    * RangePartitioner's row sample. Frozen: the split strings define a
    * physical layout, so they must be the same bytes everywhere. */
  private val rangeSplitsEst = frozen { (s, dir) =>
    DsSketches.kllStringsMergedQuantiles(
      DsSketches.kllStringsPartials(
        t(s, dir, "documents").withColumn("path_key", pathKey),
        Seq.empty, pmod(col("doc_id"), lit(8)), "path_key"),
      Seq.empty, QuantilePs)
  }

  /** The three split strings, ascending. */
  private def splitStrings(s: SparkSession, dir: String): Seq[String] =
    rangeSplitsEst(s, dir).orderBy(col("p"))
      .collect().toIndexedSeq.map(_.getAs[String]("est"))

  /** Bucket id under the splits: #splits strictly below the key. */
  private def bucketOf(key: Column, splits: Seq[String]): Column =
    splits.map(sp => when(key > lit(sp), 1L).otherwise(0L)).reduce(_ + _)

  /** Documents written range-partitioned by path-key bucket — the
    * layout a sorted 100 TB key space needs so a key-range read opens
    * only the covering buckets. Written once per (session, sf), into a
    * memo temp dir. */
  private val rangeLayoutPath = SessionMemo { (s, dir: String) =>
    val path = SessionMemo.tempDir(s, "graft_range_layout")
    t(s, dir, "documents").withColumn("path_key", pathKey)
      .withColumn("bucket", bucketOf(col("path_key"), splitStrings(s, dir)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    path
  }

  /** Shared DuckDB CTE prefix re-deriving every lineitem row's z-tile
    * (generated from the SAME constants as the Scala expressions) plus
    * the [TileLoPct, hiPct] y probe bounds: pts, st, nn, f(y, k,
    * zfile), b(lo, hi). */
  private def zTileSql(hiPct: Long): String = {
    val bits = ZOrder.DimBits
    val maxN = (1L << bits) - 1
    val shift = 2 * bits - ZOrder.PrefixBits
    val ileave = ZOrder.interleaveSql("xn", "yn", bits)
    s"""pts AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_orderkey AS BIGINT) AS y,
       |    CAST(l_suppkey AS BIGINT) AS k
       |  FROM lineitem),
       |st AS (SELECT min(x) AS xmn, max(x) AS xmx, min(y) AS ymn, max(y) AS ymx FROM pts),
       |nn AS (
       |  SELECT y, k,
       |    ((x - xmn) * $maxN) // (xmx - xmn) AS xn,
       |    ((y - ymn) * $maxN) // (ymx - ymn) AS yn
       |  FROM pts, st),
       |f AS (SELECT y, k, $ileave >> $shift AS zfile FROM nn),
       |b AS (SELECT ymn + (ymx - ymn) * $TileLoPct // 100 AS lo,
       |             ymn + (ymx - ymn) * $hiPct // 100 AS hi FROM st)""".stripMargin
  }

  // ---- queries ------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // theta set algebra per cohort pair: union / intersection / A-not-B
    // estimates next to exact set-algebra counts and ±2σ bound verdicts
    "q_theta_setops" -> ((s, dir) => {
      val est = setopsEst(s, dir)
      val sets = t(s, dir, "events")
        .select(col("event_type").as("tt"), col("user_id").as("u")).distinct()
      val pj = est.select(col("cohort_a"), col("cohort_b"))
        .join(sets, col("tt") === col("cohort_a") || col("tt") === col("cohort_b"))
        .groupBy(col("cohort_a"), col("cohort_b"), col("u"))
        .agg(max(when(col("tt") === col("cohort_a"), 1).otherwise(0)).as("ina"),
          max(when(col("tt") === col("cohort_b"), 1).otherwise(0)).as("inb"))
      val exact = pj.groupBy(col("cohort_a"), col("cohort_b"))
        .agg(count(lit(1)).as("exact_union"),
          count(when(col("ina") === 1 && col("inb") === 1, 1)).as("exact_intersect"),
          count(when(col("ina") === 1 && col("inb") === 0, 1)).as("exact_diff"))
      est.join(exact, Seq("cohort_a", "cohort_b"))
        .select(col("cohort_a"), col("cohort_b"),
          col("est_union"), col("est_intersect"), col("est_diff"),
          col("exact_union"), col("exact_intersect"), col("exact_diff"),
          (col("lb_union") <= col("exact_union") &&
            col("exact_union") <= col("ub_union")).as("union_ok"),
          (col("lb_intersect") <= col("exact_intersect") &&
            col("exact_intersect") <= col("ub_intersect")).as("intersect_ok"),
          (col("lb_diff") <= col("exact_diff") &&
            col("exact_diff") <= col("ub_diff")).as("diff_ok"))
        .orderBy(col("cohort_a"), col("cohort_b"))
    }),

    // theta sketch table: per-(type, day) partials merged back to one
    // estimate per type — only sketches cross the second exchange
    "q_theta_merge" -> ((s, dir) => {
      val exact = t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact"))
      mergeEst(s, dir).join(exact, "event_type")
        .select(col("event_type"), col("n_shards"), col("est"), col("exact"),
          (col("lb") <= col("exact") && col("exact") <= col("ub")).as("within"))
        .orderBy(col("event_type"))
    }),

    // mergeable KLL quantiles (per-(type, day) partials → merged) with a
    // rank-error verdict per (group, p) recomputed from the raw rows
    "q_kll_quantiles" -> ((s, dir) => {
      DsSketches.rankCheck(t(s, dir, "events"), kllEst(s, dir),
          Seq("event_type"), "value", KllEps)
        .orderBy(col("event_type"), col("p"))
    }),

    // Misra–Gries heavy hitters: every reported item next to its exact
    // count and the deterministic lb ≤ exact ≤ ub verdict
    "q_freq_items" -> ((s, dir) => {
      val exact = t(s, dir, "events").groupBy(freqKey.as("item"))
        .agg(count(lit(1)).as("exact"))
      freqItemsEst(s, dir).join(exact, Seq("item"), "left")
        .na.fill(0L, Seq("exact"))
        .select(col("item"), col("est"), col("lb"), col("ub"), col("exact"),
          (col("lb") <= col("exact") && col("exact") <= col("ub")).as("bounds_ok"))
        .orderBy(col("item"))
    }),

    // tuple sketch: distinct users AND the value total they carry, per
    // cohort — both judged against exact sides (decimal-exact sum)
    "q_tuple_metrics" -> ((s, dir) => {
      val exact = t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("exact_sum"))
      tupleEst(s, dir).join(exact, "event_type")
        .select(col("event_type"), col("est_users"), col("sum_est"),
          col("exact_users"), col("exact_sum"),
          (col("lb") <= col("exact_users") &&
            col("exact_users") <= col("ub")).as("users_ok"),
          (abs(col("sum_est") - col("exact_sum")) <=
            lit(1e-6) * abs(col("exact_sum")) + lit(1e-6)).as("sum_ok"))
        .orderBy(col("event_type"))
    }),

    // tuple set algebra: for each cohort pair, the OVERLAP's distinct
    // users and the combined value they carry across both cohorts —
    // answered from two kilobyte sketches, judged against exact SQL
    "q_tuple_overlap" -> ((s, dir) => {
      val est = tupleOverlapEst(s, dir)
      val sets = t(s, dir, "events")
        .select(col("event_type").as("tt"), col("user_id").as("u"),
          col("value").cast("decimal(18,6)").as("v"))
      val pj = est.select(col("cohort_a"), col("cohort_b"))
        .join(sets, col("tt") === col("cohort_a") || col("tt") === col("cohort_b"))
        .groupBy(col("cohort_a"), col("cohort_b"), col("u"))
        .agg(max(when(col("tt") === col("cohort_a"), 1).otherwise(0)).as("ina"),
          max(when(col("tt") === col("cohort_b"), 1).otherwise(0)).as("inb"),
          sum(col("v")).as("sv"))
      val exact = pj.groupBy(col("cohort_a"), col("cohort_b"))
        .agg(count(when(col("ina") === 1 && col("inb") === 1, 1)).as("exact_common"),
          coalesce(sum(when(col("ina") === 1 && col("inb") === 1, col("sv"))),
            lit(BigDecimal(0))).cast("double").as("exact_sum_common"))
      est.join(exact, Seq("cohort_a", "cohort_b"))
        .select(col("cohort_a"), col("cohort_b"),
          col("est_common"), col("sum_common_est"),
          col("exact_common"), col("exact_sum_common"),
          (col("lb") <= col("exact_common") &&
            col("exact_common") <= col("ub")).as("users_ok"),
          (abs(col("sum_common_est") - col("exact_sum_common")) <=
            lit(1e-6) * abs(col("exact_sum_common")) + lit(1e-6)).as("sum_ok"))
        .orderBy(col("cohort_a"), col("cohort_b"))
    }),

    // mergeable uniform reservoir: every retained sample must be a real
    // member of its cohort, the sketch's n must equal the exact stream
    // length, and the sample size must be exactly min(k, n)
    "q_reservoir_sample" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val est = reservoirEst(s, dir)
      val sizes = est.groupBy(col("event_type")).agg(count(lit(1)).as("n_samples"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      val members = ev.select(col("event_type"), col("event_id").as("sample_id"))
        .distinct().withColumn("present", lit(1))
      est.join(sizes, "event_type").join(exact, "event_type")
        .join(members, Seq("event_type", "sample_id"), "left")
        .select(col("event_type"), col("sample_id"), col("n_stream"),
          col("n_samples"), col("exact_n"),
          (col("n_stream") === col("exact_n")).as("n_ok"),
          col("present").isNotNull.as("member_ok"),
          (col("n_samples") ===
            least(lit(DsSketches.ReservoirK.toLong), col("exact_n"))).as("size_ok"))
        .orderBy(col("event_type"), col("sample_id"))
    }),

    // VarOpt weighted sample: membership, exact positive-weight stream
    // length, size = min(k, n), and the weight-PRESERVATION invariant
    // (the sketch's total weight == the cohort's exact value sum)
    "q_varopt_sample" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val est = varoptEst(s, dir)
      val sizes = est.groupBy(col("event_type")).agg(count(lit(1)).as("n_samples"))
      val exact = ev.groupBy(col("event_type")).agg(
        count(when(col("value") > 0, 1)).as("exact_n"),
        sum(when(col("value") > 0, col("value").cast("decimal(18,6)")))
          .cast("double").as("exact_weight"))
      val members = ev.select(col("event_type"), col("event_id").as("sample_id"))
        .distinct().withColumn("present", lit(1))
      est.join(sizes, "event_type").join(exact, "event_type")
        .join(members, Seq("event_type", "sample_id"), "left")
        .select(col("event_type"), col("sample_id"), col("adj_weight"),
          col("n_stream"), col("n_samples"), col("exact_n"),
          col("total_weight"), col("exact_weight"),
          (col("n_stream") === col("exact_n")).as("n_ok"),
          col("present").isNotNull.as("member_ok"),
          (abs(col("total_weight") - col("exact_weight")) <=
            lit(1e-6) * abs(col("exact_weight")) + lit(1e-6)).as("weight_ok"),
          (col("n_samples") ===
            least(lit(DsSketches.VarOptK.toLong), col("exact_n"))).as("size_ok"))
        .orderBy(col("event_type"), col("sample_id"))
    }),

    // corpus-wide token heavy hitters WITHOUT a token-grain shuffle:
    // array elements update one string sketch in a single narrow pass;
    // each reported token judged lb ≤ exact ≤ ub, plus the
    // NO_FALSE_NEGATIVES completeness verdict riding along
    "q_freq_tokens" -> ((s, dir) => {
      val th = DsSketches.freqStringsMaxError(freqTokBytes(s, dir))
      val exact = t(s, dir, "documents")
        .select(explode(docTokens).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("exact"))
      val items = freqTokensEst(s, dir)
      val miss = exact.join(
          items.select(col("item"), lit(1).as("present")), Seq("item"), "left")
        .agg(count(when(col("exact") > th && col("present").isNull, 1))
          .as("n_missed"))
      items.join(exact, Seq("item"), "left").na.fill(0L, Seq("exact"))
        .crossJoin(broadcast(miss))
        .select(col("item"), col("est"), col("lb"), col("ub"), col("exact"),
          (col("lb") <= col("exact") && col("exact") <= col("ub")).as("bounds_ok"),
          lit(th).as("threshold"), col("n_missed"),
          (col("n_missed") === 0).as("complete_ok"))
        .orderBy(col("item"))
    }),

    // mergeable STRING quantiles: per-shard sketch tables merged to
    // range-partition split points of a path-like sort key; each split
    // point's true rank recomputed from the raw rows
    "q_kll_string_splits" -> ((s, dir) => {
      DsSketches.rankCheck(
          t(s, dir, "documents").withColumn("path_key", pathKey),
          kllStrEst(s, dir), Seq("lang"), "path_key", KllEps)
        .orderBy(col("lang"), col("p"))
    }),

    // metadata-only approximate range count: the per-day KLL sidecar
    // alone answers count(lo ≤ v ≤ hi); DuckDB recomputes the exact
    // count and the sidecar's row/file totals from the base table
    "q_kll_range_count" -> ((s, dir) => {
      val exact = t(s, dir, "events").agg(
        count(lit(1)).as("n_total"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        count(when(col("value") >= RangeLo && col("value") <= RangeHi, 1))
          .as("exact"))
      rangeCountEst(s, dir).crossJoin(exact)
        .select(col("n_files"), col("n"), col("est"), col("lb"), col("ub"),
          col("exact"), col("n_total"),
          (col("n") === col("n_total")).as("n_ok"),
          (col("n_files") === col("n_days")).as("files_ok"),
          (col("lb") <= col("exact") && col("exact") <= col("ub")).as("range_ok"))
    }),

    // KLL tile sidecar as the scan planner's index: per z-tile, the
    // sketch's EXACT min/max decides a guaranteed prune for the y-slice
    // probe, and the rank reads estimate the surviving tiles' hit
    // counts. DuckDB re-derives every tile's exact rows from the base
    // table (the z-value SQL is generated from the same constants) and
    // re-judges all three verdicts
    "q_kll_tile_pruning" -> ((s, dir) => {
      val (zfiled, ymn, ymx) = zfiledLineitem(s, dir)
      val (lo, hi) = (yAt(ymn, ymx, TileLoPct), yAt(ymn, ymx, TileHiPct))
      val exact = zfiled.groupBy(col("zfile"))
        .agg(count(lit(1)).as("rows_tile"),
          sum(when(col("y") >= lo && col("y") <= hi, 1L).otherwise(0L))
            .as("exact"))
      kllTileEst(s, dir).join(exact, "zfile")
        .select(col("zfile"), col("n"), col("est"), col("lb"), col("ub"),
          col("pruned"), col("rows_tile"), col("exact"),
          (col("n") === col("rows_tile")).as("n_ok"),
          (!col("pruned") || col("exact") === 0).as("prune_ok"),
          (col("pruned") ||
            (col("lb") <= col("exact") && col("exact") <= col("ub")))
            .as("bounds_ok"))
        .orderBy(col("zfile"))
    }),

    // ER pipeline metrics via mergeable theta sketches: per-lang
    // distinct-content estimates merged from per-(lang, repo) partials,
    // plus the global '*' union row. DuckDB recomputes the exact
    // distinct counts from the dumped corpus with its own sha256
    "er_lang_theta" -> ((s, dir) => {
      val corpus = graft.sources.CorpusGen.corpus(s, dir).toDF()
        .withColumn("sha", sha2(col("content"), 256))
      val exact = corpus.groupBy(col("lang"))
        .agg(countDistinct(col("sha")).as("exact"))
        .unionByName(corpus.agg(
          lit("*").as("lang"), countDistinct(col("sha")).as("exact")))
      erLangThetaEst(s, dir).join(exact, "lang")
        .select(col("lang"), col("n_shards"), col("est"), col("lb"),
          col("ub"), col("exact"),
          (col("lb") <= col("exact") && col("exact") <= col("ub"))
            .as("bounds_ok"))
        .orderBy(col("lang"))
    }),

    // budgeted top-k tile scan: rank the surviving tiles by the
    // sidecar's CERTIFIED hit count (lb) and choose the minimal prefix
    // covering >=9/10 of the total certified hits — all long
    // arithmetic, so both engines derive bit-identical tile sets. The
    // probe only partially overlaps its second y-strip, so the
    // partially-covered tiles carry ~5x fewer hits: the plan reads the
    // high-yield files and skips the low-yield tail the min/max
    // envelope calls equally "overlapping"
    "q_tile_scan_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (zfiled, ymn, ymx) = zfiledLineitem(s, dir)
      val (lo, hi) = (yAt(ymn, ymx, TileLoPct), yAt(ymn, ymx, BudgetHiPct))
      val exact = zfiled.groupBy(col("zfile"))
        .agg(sum(when(col("y") >= lo && col("y") <= hi, 1L).otherwise(0L))
          .as("exact"))
      val unpruned = kllTileBudgetEst(s, dir).where(!col("pruned"))
      val w = Window.orderBy(col("lb").desc, col("zfile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val planned = unpruned
        .withColumn("cum_lb", sum(col("lb")).over(w))
        .crossJoin(unpruned.agg(sum(col("lb")).as("lb_total"),
          sum(col("ub")).as("ub_total")))
        .withColumn("chosen",
          (col("cum_lb") - col("lb")) * BudgetDen < col("lb_total") * BudgetNum)
      planned.join(exact, "zfile")
        .agg(count(lit(1)).as("n_unpruned"),
          sum(when(col("chosen"), 1L).otherwise(0L)).as("n_chosen"),
          max(col("lb_total")).as("lb_total"),
          max(col("ub_total")).as("ub_total"),
          sum(when(col("chosen"), col("exact")).otherwise(0L)).as("exact_chosen"),
          sum(col("exact")).as("exact_total"))
        .select(col("n_unpruned"), col("n_chosen"), col("lb_total"),
          col("ub_total"), col("exact_chosen"), col("exact_total"),
          round(col("exact_chosen").cast("double") / col("exact_total"), 6)
            .as("coverage"),
          round(lit(BudgetNum).cast("double") * col("lb_total") /
            (lit(BudgetDen) * col("ub_total")), 6).as("coverage_min"),
          (col("exact_chosen") * col("ub_total") * BudgetDen >=
            col("lb_total") * BudgetNum * col("exact_total")).as("coverage_ok"),
          (col("n_chosen") < col("n_unpruned")).as("skips_files"))
    }),

    // metadata-only DISTINCT count for the file subset a probe must
    // read: per-tile theta partials merged over only the unpruned
    // tiles — dictionary/broadcast/dedup-state sizing from kilobytes
    // of sidecar, the question neither a bloom (membership) nor a KLL
    // (cardinality) sidecar answers. DuckDB recomputes the exact
    // distinct count over the same tile subset
    "q_theta_tile_distinct" -> ((s, dir) => {
      val (zfiled, _, _) = zfiledLineitem(s, dir)
      val exact = zfiled
        .join(kllTileEst(s, dir).select(col("zfile"), col("pruned")), "zfile")
        .where(!col("pruned"))
        .agg(countDistinct(col("k")).as("exact"),
          countDistinct(col("zfile")).as("n_files"))
      thetaTileEst(s, dir).crossJoin(exact)
        .select(col("n_shards"), col("n_files"), col("est"), col("lb"),
          col("ub"), col("exact"),
          (col("n_shards") === col("n_files")).as("files_ok"),
          (col("lb") <= col("exact") && col("exact") <= col("ub"))
            .as("bounds_ok"))
    }),

    // sketch-driven range layout: documents written range-partitioned
    // by KLL-split-point bucket; per-bucket balance within the rank
    // error, and a key-range probe that touches only covering buckets.
    // DuckDB re-buckets every document from the dumped split strings
    // and re-judges balance + probe coverage
    "q_range_layout" -> ((s, dir) => {
      val splits = splitStrings(s, dir)
      val tol = 2.0 * DsSketches.kllRankEps(DsSketches.KllStrK)
      val bLo = splits.count(KeyLo > _).toLong
      val bHi = splits.count(KeyHi > _).toLong
      val layout = s.read.parquet(rangeLayoutPath(s, dir))
      layout.groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("path_key") >= KeyLo && col("path_key") < KeyHi, 1L)
            .otherwise(0L)).as("probe_rows"))
        .crossJoin(layout.agg(count(lit(1)).as("n_total")))
        .select(col("bucket"), col("n_docs"),
          round(col("n_docs").cast("double") / col("n_total"), 6).as("share"),
          (abs(col("n_docs").cast("double") / col("n_total") - 0.25) <=
            lit(tol) + lit(4.0) / col("n_total")).as("balance_ok"),
          (col("bucket") >= bLo && col("bucket") <= bHi).as("read_for_probe"),
          col("probe_rows"),
          ((col("bucket") >= bLo && col("bucket") <= bHi) ||
            col("probe_rows") === 0).as("probe_ok"))
        .orderBy(col("bucket"))
    }),

    // NO_FALSE_NEGATIVES completeness: no key with true count above the
    // sketch's maxError may be missing from the reported item set
    "q_freq_complete" -> ((s, dir) => {
      val threshold = DsSketches.freqMaxError(freqBytes(s, dir))
      val x = t(s, dir, "events").groupBy(freqKey.as("k"))
        .agg(count(lit(1)).as("c"))
      val joined = x.join(
        freqItemsEst(s, dir).select(col("item").as("k"), lit(1).as("present")),
        Seq("k"), "left")
      joined.agg(
          count(when(col("c") > threshold, 1)).as("n_heavy"),
          count(when(col("c") > threshold && col("present").isNull, 1)).as("n_missed"))
        .select(lit(threshold).as("threshold"), col("n_heavy"), col("n_missed"),
          (col("n_missed") === 0).as("complete_ok"))
    })
  )

  /** Build every frozen estimate table (Bench calls this before the
    * sweep so sketch-query lines time reads, not the one-time build). */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    setopsEst(spark, sfDir); mergeEst(spark, sfDir); kllEst(spark, sfDir)
    freqItemsEst(spark, sfDir); freqBytes(spark, sfDir)
    tupleEst(spark, sfDir); tupleOverlapEst(spark, sfDir)
    reservoirEst(spark, sfDir); varoptEst(spark, sfDir)
    freqTokBytes(spark, sfDir); freqTokensEst(spark, sfDir)
    kllStrEst(spark, sfDir); rangeCountEst(spark, sfDir)
    kllTileEst(spark, sfDir); erLangThetaEst(spark, sfDir)
    kllTileBudgetEst(spark, sfDir); thetaTileEst(spark, sfDir)
    rangeSplitsEst(spark, sfDir); rangeLayoutPath(spark, sfDir); ()
  }

  /** Estimate-bearing tables the oracle reads back (it cannot recompute
    * a sketch, only judge one). Same frozen instances the queries use. */
  def dumpAux(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    import spark.implicits._
    dump(setopsEst(spark, sfDir), "ds_theta_setops")
    dump(mergeEst(spark, sfDir), "ds_theta_merge")
    dump(kllEst(spark, sfDir), "ds_kll_est")
    dump(freqItemsEst(spark, sfDir), "ds_freq_items")
    dump(Seq(DsSketches.freqMaxError(freqBytes(spark, sfDir)))
      .toDF("threshold"), "ds_freq_threshold")
    dump(tupleEst(spark, sfDir), "ds_tuple_est")
    dump(tupleOverlapEst(spark, sfDir), "ds_tuple_overlap")
    dump(reservoirEst(spark, sfDir), "ds_reservoir")
    dump(varoptEst(spark, sfDir), "ds_varopt")
    dump(freqTokensEst(spark, sfDir), "ds_freq_tokens")
    dump(Seq(DsSketches.freqStringsMaxError(freqTokBytes(spark, sfDir)))
      .toDF("threshold"), "ds_freq_tok_threshold")
    dump(kllStrEst(spark, sfDir), "ds_kll_str")
    dump(rangeCountEst(spark, sfDir), "ds_range_count")
    dump(kllTileEst(spark, sfDir), "ds_kll_tiles")
    dump(erLangThetaEst(spark, sfDir), "ds_er_lang_theta")
    dump(rangeSplitsEst(spark, sfDir), "ds_range_splits")
    dump(kllTileBudgetEst(spark, sfDir), "ds_kll_tile_budget")
    dump(thetaTileEst(spark, sfDir), "ds_theta_tiles")
  }

  def oracleSql: Map[String, String] = Map(
    // est/lb/ub are taken from the dump; the three exact set-algebra
    // counts and all verdicts are DuckDB's own
    "q_theta_setops" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_theta_setops/*.parquet')),
         |s AS (SELECT DISTINCT event_type AS tt, user_id AS u FROM events),
         |pj AS (
         |  SELECT a.cohort_a, a.cohort_b, s.u,
         |    max(CASE WHEN s.tt = a.cohort_a THEN 1 ELSE 0 END) AS ina,
         |    max(CASE WHEN s.tt = a.cohort_b THEN 1 ELSE 0 END) AS inb
         |  FROM a JOIN s ON s.tt IN (a.cohort_a, a.cohort_b)
         |  GROUP BY 1, 2, 3),
         |x AS (
         |  SELECT cohort_a, cohort_b,
         |    count(*) AS exact_union,
         |    count(*) FILTER (WHERE ina = 1 AND inb = 1) AS exact_intersect,
         |    count(*) FILTER (WHERE ina = 1 AND inb = 0) AS exact_diff
         |  FROM pj GROUP BY 1, 2)
         |SELECT a.cohort_a, a.cohort_b,
         |  a.est_union, a.est_intersect, a.est_diff,
         |  x.exact_union, x.exact_intersect, x.exact_diff,
         |  a.lb_union <= x.exact_union AND x.exact_union <= a.ub_union AS union_ok,
         |  a.lb_intersect <= x.exact_intersect
         |    AND x.exact_intersect <= a.ub_intersect AS intersect_ok,
         |  a.lb_diff <= x.exact_diff AND x.exact_diff <= a.ub_diff AS diff_ok
         |FROM a JOIN x USING (cohort_a, cohort_b)
         |ORDER BY cohort_a, cohort_b""".stripMargin,
    // n_shards (distinct days) and exact are recomputed; the merged
    // estimate is judged against its own dumped ±2σ interval
    "q_theta_merge" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_theta_merge/*.parquet')),
         |x AS (SELECT event_type,
         |        count(DISTINCT CAST(ts AS DATE)) AS n_shards,
         |        count(DISTINCT user_id) AS exact
         |      FROM events GROUP BY event_type)
         |SELECT a.event_type, x.n_shards, a.est, x.exact,
         |  a.lb <= x.exact AND x.exact <= a.ub AS within
         |FROM a JOIN x USING (event_type) ORDER BY a.event_type""".stripMargin,
    // the rank of each dumped merged-KLL estimate is recomputed from the
    // raw values; n_shards is recomputed as distinct days per group
    "q_kll_quantiles" ->
      s"""WITH a AS (SELECT event_type, p, est
         |           FROM read_parquet('{OUT}/_aux/ds_kll_est/*.parquet')),
         |d AS (SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_shards
         |      FROM events GROUP BY event_type),
         |r AS (SELECT a.event_type, d.n_shards, a.p, a.est,
         |        count(*) AS n,
         |        CAST(sum(CASE WHEN e.value <= a.est THEN 1 ELSE 0 END) AS BIGINT) AS rnk
         |      FROM a JOIN events e USING (event_type) JOIN d USING (event_type)
         |      GROUP BY 1, 2, 3, 4)
         |SELECT event_type, n_shards, p, est, n, rnk,
         |  abs(CAST(rnk AS DOUBLE) / n - p) <= $KllEps + 1.0 / n AS rank_ok
         |FROM r ORDER BY event_type, p""".stripMargin,
    // exact per-item counts and the lb/ub verdict are DuckDB's own
    "q_freq_items" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_freq_items/*.parquet')),
         |x AS (SELECT $FreqKeySql AS item, count(*) AS exact
         |      FROM events GROUP BY 1)
         |SELECT a.item, a.est, a.lb, a.ub, coalesce(x.exact, 0) AS exact,
         |  a.lb <= coalesce(x.exact, 0) AND coalesce(x.exact, 0) <= a.ub AS bounds_ok
         |FROM a LEFT JOIN x USING (item) ORDER BY a.item""".stripMargin,
    // est/lb/ub/sum_est come from the dump; exact distinct-user counts
    // and the decimal-exact value sums are DuckDB's own
    "q_tuple_metrics" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_tuple_est/*.parquet')),
         |x AS (SELECT event_type,
         |        count(DISTINCT user_id) AS exact_users,
         |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS exact_sum
         |      FROM events GROUP BY event_type)
         |SELECT a.event_type, a.est_users, a.sum_est, x.exact_users, x.exact_sum,
         |  a.lb <= x.exact_users AND x.exact_users <= a.ub AS users_ok,
         |  abs(a.sum_est - x.exact_sum)
         |    <= 1e-6 * abs(x.exact_sum) + 1e-6 AS sum_ok
         |FROM a JOIN x USING (event_type) ORDER BY a.event_type""".stripMargin,
    // the overlap's exact user count and combined value sum are redone
    // from scratch in SQL; the sketch-intersection estimates are judged
    "q_tuple_overlap" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_tuple_overlap/*.parquet')),
         |pj AS (
         |  SELECT a.cohort_a, a.cohort_b, e.user_id,
         |    max(CASE WHEN e.event_type = a.cohort_a THEN 1 ELSE 0 END) AS ina,
         |    max(CASE WHEN e.event_type = a.cohort_b THEN 1 ELSE 0 END) AS inb,
         |    sum(CAST(e.value AS DECIMAL(18,6))) AS sv
         |  FROM a JOIN events e ON e.event_type IN (a.cohort_a, a.cohort_b)
         |  GROUP BY 1, 2, 3),
         |x AS (
         |  SELECT cohort_a, cohort_b,
         |    count(*) FILTER (WHERE ina = 1 AND inb = 1) AS exact_common,
         |    CAST(coalesce(sum(sv) FILTER (WHERE ina = 1 AND inb = 1), 0)
         |      AS DOUBLE) AS exact_sum_common
         |  FROM pj GROUP BY 1, 2)
         |SELECT a.cohort_a, a.cohort_b, a.est_common, a.sum_common_est,
         |  x.exact_common, x.exact_sum_common,
         |  a.lb <= x.exact_common AND x.exact_common <= a.ub AS users_ok,
         |  abs(a.sum_common_est - x.exact_sum_common)
         |    <= 1e-6 * abs(x.exact_sum_common) + 1e-6 AS sum_ok
         |FROM a JOIN x USING (cohort_a, cohort_b)
         |ORDER BY a.cohort_a, a.cohort_b""".stripMargin,
    // the dumped samples are judged for membership, stream-length
    // exactness, and size = min(k, n) against DuckDB's own base counts
    "q_reservoir_sample" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_reservoir/*.parquet')),
         |sz AS (SELECT event_type, count(*) AS n_samples FROM a GROUP BY 1),
         |x AS (SELECT event_type, count(*) AS exact_n FROM events GROUP BY 1),
         |m AS (SELECT DISTINCT event_type, event_id FROM events)
         |SELECT a.event_type, a.sample_id, a.n_stream, sz.n_samples, x.exact_n,
         |  a.n_stream = x.exact_n AS n_ok,
         |  m.event_id IS NOT NULL AS member_ok,
         |  sz.n_samples = least(${DsSketches.ReservoirK}, x.exact_n) AS size_ok
         |FROM a
         |JOIN sz USING (event_type)
         |JOIN x USING (event_type)
         |LEFT JOIN m ON m.event_type = a.event_type AND m.event_id = a.sample_id
         |ORDER BY a.event_type, a.sample_id""".stripMargin,
    // the dumped weighted samples are judged for membership, exact
    // stream length, size, and weight preservation against DuckDB's
    // own decimal-exact weight totals
    "q_varopt_sample" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_varopt/*.parquet')),
         |sz AS (SELECT event_type, count(*) AS n_samples FROM a GROUP BY 1),
         |x AS (SELECT event_type,
         |        count(*) FILTER (WHERE value > 0) AS exact_n,
         |        CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE value > 0)
         |          AS DOUBLE) AS exact_weight
         |      FROM events GROUP BY 1),
         |m AS (SELECT DISTINCT event_type, event_id FROM events)
         |SELECT a.event_type, a.sample_id, a.adj_weight, a.n_stream,
         |  sz.n_samples, x.exact_n, a.total_weight, x.exact_weight,
         |  a.n_stream = x.exact_n AS n_ok,
         |  m.event_id IS NOT NULL AS member_ok,
         |  abs(a.total_weight - x.exact_weight)
         |    <= 1e-6 * abs(x.exact_weight) + 1e-6 AS weight_ok,
         |  sz.n_samples = least(${DsSketches.VarOptK}, x.exact_n) AS size_ok
         |FROM a
         |JOIN sz USING (event_type)
         |JOIN x USING (event_type)
         |LEFT JOIN m ON m.event_type = a.event_type AND m.event_id = a.sample_id
         |ORDER BY a.event_type, a.sample_id""".stripMargin,
    // every reported token's exact corpus count is recomputed by
    // unnesting the SAME tokenizer; bounds + completeness re-judged
    "q_freq_tokens" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_freq_tokens/*.parquet')),
         |th AS (SELECT threshold
         |       FROM read_parquet('{OUT}/_aux/ds_freq_tok_threshold/*.parquet')),
         |x AS (SELECT tok AS item, count(*) AS exact
         |      FROM (SELECT unnest($DocTokensSql) AS tok FROM documents)
         |      GROUP BY 1),
         |ms AS (SELECT count(*) FILTER (WHERE x.exact > th.threshold
         |         AND x.item NOT IN (SELECT item FROM a)) AS n_missed
         |       FROM x CROSS JOIN th)
         |SELECT a.item, a.est, a.lb, a.ub, coalesce(x.exact, 0) AS exact,
         |  a.lb <= coalesce(x.exact, 0)
         |    AND coalesce(x.exact, 0) <= a.ub AS bounds_ok,
         |  th.threshold, ms.n_missed, ms.n_missed = 0 AS complete_ok
         |FROM a LEFT JOIN x USING (item) CROSS JOIN th CROSS JOIN ms
         |ORDER BY a.item""".stripMargin,
    // the rank of each dumped string split point is recomputed from the
    // raw path keys; n_shards = distinct doc_id % 8 per lang
    "q_kll_string_splits" ->
      s"""WITH a AS (SELECT lang, p, est
         |           FROM read_parquet('{OUT}/_aux/ds_kll_str/*.parquet')),
         |d AS (SELECT lang, count(DISTINCT doc_id % 8) AS n_shards
         |      FROM documents GROUP BY 1),
         |r AS (SELECT a.lang, d.n_shards, a.p, a.est,
         |        count(*) AS n,
         |        CAST(sum(CASE WHEN ($PathKeySql) <= a.est THEN 1 ELSE 0 END)
         |          AS BIGINT) AS rnk
         |      FROM a JOIN documents USING (lang) JOIN d USING (lang)
         |      GROUP BY 1, 2, 3, 4)
         |SELECT lang, n_shards, p, est, n, rnk,
         |  abs(CAST(rnk AS DOUBLE) / n - p) <= $KllEps + 1.0 / n AS rank_ok
         |FROM r ORDER BY lang, p""".stripMargin,
    // the sidecar's est/lb/ub are taken from the dump; DuckDB recomputes
    // the exact in-range count, total rows, and day (file) count
    "q_kll_range_count" ->
      s"""WITH a AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_range_count/*.parquet')),
         |x AS (SELECT count(*) AS n_total,
         |        count(DISTINCT CAST(ts AS DATE)) AS n_days,
         |        count(*) FILTER (WHERE value >= $RangeLo AND value <= $RangeHi)
         |          AS exact
         |      FROM events)
         |SELECT a.n_files, a.n, a.est, a.lb, a.ub, x.exact, x.n_total,
         |  a.n = x.n_total AS n_ok,
         |  a.n_files = x.n_days AS files_ok,
         |  a.lb <= x.exact AND x.exact <= a.ub AS range_ok
         |FROM a CROSS JOIN x""".stripMargin,
    // est/lb/ub/pruned are taken from the dumped sidecar; DuckDB
    // re-derives every tile id + exact per-tile range count from the
    // base table (the z-value SQL is generated from the same constants
    // as the Scala expression) and re-judges all three verdicts
    "q_kll_tile_pruning" ->
      s"""WITH ${zTileSql(TileHiPct)},
         |ex AS (
         |  SELECT zfile, count(*) AS rows_tile,
         |    count(*) FILTER (WHERE y >= lo AND y <= hi) AS exact
         |  FROM f, b GROUP BY zfile),
         |k AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_kll_tiles/*.parquet'))
         |SELECT k.zfile, k.n, k.est, k.lb, k.ub, k.pruned,
         |  ex.rows_tile, ex.exact,
         |  k.n = ex.rows_tile AS n_ok,
         |  (NOT k.pruned) OR ex.exact = 0 AS prune_ok,
         |  k.pruned OR (k.lb <= ex.exact AND ex.exact <= k.ub) AS bounds_ok
         |FROM k JOIN ex USING (zfile) ORDER BY k.zfile""".stripMargin,
    // DuckDB replays the integer budget plan over the dumped sidecar
    // (lb-descending prefix sums — identical long arithmetic), then
    // recomputes every tile's exact hits and re-judges coverage vs the
    // certified minimum
    "q_tile_scan_budget" ->
      s"""WITH ${zTileSql(BudgetHiPct)},
         |k AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_kll_tile_budget/*.parquet')
         |      WHERE NOT pruned),
         |tot AS (SELECT CAST(sum(lb) AS BIGINT) AS lb_total,
         |               CAST(sum(ub) AS BIGINT) AS ub_total FROM k),
         |pl AS (SELECT zfile, lb,
         |         CAST(sum(lb) OVER (ORDER BY lb DESC, zfile
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |           AS cum_lb
         |       FROM k),
         |ch AS (SELECT pl.zfile,
         |         (pl.cum_lb - pl.lb) * $BudgetDen < tot.lb_total * $BudgetNum
         |           AS chosen
         |       FROM pl, tot),
         |ex AS (SELECT zfile, count(*) FILTER (WHERE y >= lo AND y <= hi) AS exact
         |       FROM f, b GROUP BY zfile),
         |g AS (SELECT count(*) AS n_unpruned,
         |        CAST(count(*) FILTER (WHERE chosen) AS BIGINT) AS n_chosen,
         |        CAST(sum(CASE WHEN chosen THEN exact ELSE 0 END) AS BIGINT)
         |          AS exact_chosen,
         |        CAST(sum(exact) AS BIGINT) AS exact_total
         |      FROM ch JOIN ex USING (zfile))
         |SELECT g.n_unpruned, g.n_chosen, tot.lb_total, tot.ub_total,
         |  g.exact_chosen, g.exact_total,
         |  round(CAST(g.exact_chosen AS DOUBLE) / g.exact_total, 6) AS coverage,
         |  round($BudgetNum.0 * tot.lb_total / ($BudgetDen * tot.ub_total), 6)
         |    AS coverage_min,
         |  g.exact_chosen * tot.ub_total * $BudgetDen >=
         |    tot.lb_total * $BudgetNum * g.exact_total AS coverage_ok,
         |  g.n_chosen < g.n_unpruned AS skips_files
         |FROM g, tot""".stripMargin,
    // est/lb/ub from the dumped merged tile sketch; the unpruned tile
    // set comes from the dumped kll sidecar's pruned flags; the exact
    // distinct count over that subset is DuckDB's own
    "q_theta_tile_distinct" ->
      s"""WITH ${zTileSql(TileHiPct)},
         |p AS (SELECT zfile, pruned
         |      FROM read_parquet('{OUT}/_aux/ds_kll_tiles/*.parquet')),
         |x AS (SELECT count(DISTINCT f.k) AS exact,
         |        count(DISTINCT f.zfile) AS n_files
         |      FROM f JOIN p USING (zfile) WHERE NOT p.pruned),
         |t2 AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_theta_tiles/*.parquet'))
         |SELECT t2.n_shards, x.n_files, t2.est, t2.lb, t2.ub, x.exact,
         |  t2.n_shards = x.n_files AS files_ok,
         |  t2.lb <= x.exact AND x.exact <= t2.ub AS bounds_ok
         |FROM t2, x""".stripMargin,
    // est/lb/ub from the dumped merged sketches; exact per-lang (and
    // global '*') distinct-content counts recomputed with DuckDB's own
    // sha256 over the dumped raw corpus
    "er_lang_theta" ->
      s"""WITH c AS (SELECT lang, sha256(content) AS sha
         |           FROM read_parquet('{OUT}/_aux/corpus/*.parquet')),
         |x AS (SELECT lang, count(DISTINCT sha) AS exact FROM c GROUP BY lang
         |      UNION ALL SELECT '*', count(DISTINCT sha) FROM c),
         |k AS (SELECT * FROM read_parquet('{OUT}/_aux/ds_er_lang_theta/*.parquet'))
         |SELECT k.lang, k.n_shards, k.est, k.lb, k.ub, x.exact,
         |  k.lb <= x.exact AND x.exact <= k.ub AS bounds_ok
         |FROM k JOIN x USING (lang) ORDER BY k.lang""".stripMargin,
    // DuckDB re-buckets every document from the DUMPED split strings,
    // recomputes bucket sizes and probe coverage, and re-judges the
    // balance + probe verdicts with the same tolerance formula
    "q_range_layout" -> {
      val tol = 2.0 * DsSketches.kllRankEps(DsSketches.KllStrK)
      s"""WITH sp AS (SELECT est FROM read_parquet('{OUT}/_aux/ds_range_splits/*.parquet')),
         |d AS (SELECT $PathKeySql AS pk FROM documents),
         |bk AS (SELECT pk,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sp WHERE pk > est) AS bucket FROM d),
         |rb AS (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM sp WHERE '$KeyLo' > est) AS blo,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sp WHERE '$KeyHi' > est) AS bhi),
         |g AS (SELECT bucket, count(*) AS n_docs,
         |        count(*) FILTER (WHERE pk >= '$KeyLo' AND pk < '$KeyHi') AS probe_rows
         |      FROM bk GROUP BY bucket),
         |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM g)
         |SELECT g.bucket, g.n_docs,
         |  round(CAST(g.n_docs AS DOUBLE) / n_total, 6) AS share,
         |  abs(CAST(g.n_docs AS DOUBLE) / n_total - 0.25) <= $tol + 4.0 / n_total
         |    AS balance_ok,
         |  g.bucket >= blo AND g.bucket <= bhi AS read_for_probe,
         |  g.probe_rows,
         |  (g.bucket >= blo AND g.bucket <= bhi) OR g.probe_rows = 0 AS probe_ok
         |FROM g, tt, rb ORDER BY g.bucket""".stripMargin
    },
    // completeness of NO_FALSE_NEGATIVES: DuckDB recomputes every true
    // count and checks nothing above the dumped threshold was missed
    "q_freq_complete" ->
      s"""WITH th AS (SELECT threshold
         |            FROM read_parquet('{OUT}/_aux/ds_freq_threshold/*.parquet')),
         |it AS (SELECT item FROM read_parquet('{OUT}/_aux/ds_freq_items/*.parquet')),
         |x AS (SELECT $FreqKeySql AS k, count(*) AS c FROM events GROUP BY 1)
         |SELECT th.threshold,
         |  count(*) FILTER (WHERE x.c > th.threshold) AS n_heavy,
         |  count(*) FILTER (WHERE x.c > th.threshold
         |    AND x.k NOT IN (SELECT item FROM it)) AS n_missed,
         |  count(*) FILTER (WHERE x.c > th.threshold
         |    AND x.k NOT IN (SELECT item FROM it)) = 0 AS complete_ok
         |FROM x CROSS JOIN th GROUP BY th.threshold""".stripMargin
  )
}

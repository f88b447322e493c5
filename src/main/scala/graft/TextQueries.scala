package graft

import graft.operators.{BlockingScheme, BlockSplit, CandidateGen, Canopy, Decontaminate, Dedup, MatchMerge, Phonetic, PivotClustering, SetSimJoin, SuffixBlocking, TextAnalysis}
import graft.sources.CorpusGen
import graft.util.SessionMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup queries. Document-table queries are DuckDB-
  * oracle-checked directly (same regex/lambda logic in both dialects);
  * the near-dup queries on the generated code corpus are oracle-checked
  * from dumped stage tables (band keys / signatures / shingles), with
  * the cap + pair algebra + hamming + Jaccard verification redone
  * independently by DuckDB. ScalaTest covers the hash internals.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Batch count for the incremental/streaming dedup twins — ONE
    * definition feeding the query splits, the per-batch key dump, the
    * streaming memo, AND the generated oracle replay SQL, so the four
    * sites cannot drift. */
  private val IncDedupBatches = 3

  /** q_stratified_sample thresholds (md5 hex-prefix < bound ⇒ keep:
    * '40' = 64/256 = 25 % for the downsampled stratum, 'c0' = 75 %) and
    * the q_repetition_filter bound — ONE definition each for the Scala
    * query and the interpolated oracle SQL. */
  private val SampleHexEn = "40"
  private val SampleHexRest = "c0"

  /** q_setsim_join threshold as an exact rational (4/5) — ONE
    * definition for the Scala query and the interpolated oracle SQL, so
    * the integer-exact comparison i·den ≥ u·num can never drift. The
    * join runs over word-3-gram shingle sets, not unigrams: shingles
    * give a large sparse vocabulary (unigram Jaccard on this synthetic
    * corpus is pathologically dense — most docs share most words — so
    * a unigram join at any useful τ would verify millions of candidate
    * pairs for no signal). The shingle-Jaccard distribution here is
    * bimodal (true near-dups ≥ 0.9, everything else < 0.1), so 4/5
    * keeps exactly the near-dup pair set while the shorter prefixes
    * (0.2·n+1 vs 0.5·n+1) cut candidate volume ~3× — threshold choice
    * is a measured cost knob, not a correctness one, on this corpus. */
  private val SetSimNum = 4
  private val SetSimDen = 5

  /** q_cosine_simjoin threshold (9/10) — same single-definition rule;
    * the oracle interpolates the SQUARES so the integer predicate is
    * identical in both engines. */
  private val CosSimNum = 9
  private val CosSimDen = 10

  /** The (id, toks) word-3-gram shingle-set frame both exact
    * set-similarity joins run on — ONE definition for the Jaccard and
    * cosine twins (the oracle mirrors it in [[setSimDocsSql]]). */
  private def setSimDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id").as("id"), TextAnalysis.tokensCol(col("text")).as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("id"), array_distinct(transform(
        sequence(lit(0), size(col("tk")) - 3),
        i => concat_ws(" ", slice(col("tk"), i + lit(1), lit(3))))).as("toks"))

  private[graft] final case class SetSimLayer(ordered: DataFrame,
      jaccard: DataFrame, ppPre: DataFrame, ppPos: DataFrame, ppFin: DataFrame,
      cosine: DataFrame)

  /** Exact set-similarity layer, computed once per (session, sfDir):
    * the rare-first ordered shingle frame (the shuffle-heavy shared
    * stage — tokenize → global token frequencies → per-doc reorder)
    * persisted once, plus the four small result frames over it —
    * q_setsim_join / q_ppjoin / q_ppjoin_stats / q_cosine_simjoin
    * become cache reads instead of each rebuilding the same ~50 k-doc
    * shingle frame from scratch (round-4 verdict: ~30 s of redundant
    * build per sweep). Bench warms it as setsim_build_sec. */
  private[graft] val setSimResults = SessionMemo { (s, dir: String) =>
    import SessionMemo.persist
    val ordered = persist(SetSimJoin.rareFirst(setSimDocs(s, dir)))
    val (pre, pos, fin) =
      SetSimJoin.ppjoinStages(ordered, SetSimNum, SetSimDen)
    SetSimLayer(ordered,
      persist(SetSimJoin.joinOrdered(ordered, SetSimNum, SetSimDen)),
      persist(pre), persist(pos), persist(fin),
      persist(SetSimJoin.cosineJoinOrdered(ordered, CosSimNum, CosSimDen)))
  }

  def warmSetSim(spark: SparkSession, sfDir: String): Unit = {
    val r = setSimResults(spark, sfDir)
    r.ordered.count(); r.jaccard.count(); r.ppPre.count(); r.ppPos.count()
    r.ppFin.count(); r.cosine.count()
  }

  private val RepetitionMaxFrac = 0.6
  private val Bm25Terms = Seq("spark", "merge", "window")
  private val Bm25K = 20
  private val SampleExactK = 20

  /** Decontamination: shingle width + the deterministic benchmark
    * split (doc_id % mod == 0 plays the eval set) — ONE definition for
    * the Scala query and the interpolated oracle SQL. */
  private val DecontamN = Decontaminate.DefaultN
  private val DecontamBenchMod = 97

  /** PII scrub input: deterministic synthetic PII appended to each doc
    * (the raw corpus has none), built from the SAME expression in both
    * engines so the redaction is whole-row comparable. */
  private def piiInjected = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@mail.example.com from 10."),
    pmod(col("doc_id"), lit(256)).cast("string"),
    lit(".0.1 call 555-"),
    lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
  private val PiiInjectedSql =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) || " +
      "'.0.1 call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  /** The redaction chain and per-kind counts rendered into DuckDB SQL
    * from the SAME [[TextAnalysis.piiPatterns]] table the Spark columns
    * use — patterns live once. */
  private def piiRedactSql(inner: String): String =
    TextAnalysis.piiPatterns.foldLeft(inner) { case (e, (_, pat, repl)) =>
      s"regexp_replace($e, '$pat', '$repl', 'g')"
    }
  private def piiCountSql(inner: String, kind: String): String = {
    val pat = TextAnalysis.piiPatterns.collectFirst { case (`kind`, p, _) => p }.get
    s"len(regexp_extract_all($inner, '$pat'))"
  }

  private def dedupBatch(c: DataFrame, b: Int): DataFrame =
    c.where(pmod(col("doc_id"), lit(IncDedupBatches)) === b)

  private def corpusDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CorpusGen.corpus(s, dir)
      .map(f => (graft.util.Hashing.rowId(f.repo, f.path, f.commit), f.content))
      .toDF("doc_id", "text")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-language document stats — scan + hash agg, oracle-checked
    "q_doc_stats" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // benchmark decontamination: flag corpus docs sharing any 8-token
    // shingle with the (broadcast-small) eval split — corpus grams
    // never shuffle, only actual hits reach the per-doc aggregation
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontaminate.flag(
          d.where(pmod(col("doc_id"), lit(DecontamBenchMod)) =!= 0),
          d.where(pmod(col("doc_id"), lit(DecontamBenchMod)) === 0),
          n = DecontamN)
        .orderBy(col("doc_id"))
    }),

    // PII scrub: per-kind audit counts on the (synthetically injected)
    // input, the redacted text's hash, and a fixpoint verdict — zero
    // PII patterns survive the redaction chain. One codegen'd narrow map
    "q_pii_redact" -> ((s, dir) => {
      val injected = piiInjected
      val redacted = TextAnalysis.redactPiiCol(injected)
      docs(s, dir).select(
          col("doc_id"),
          TextAnalysis.piiCountCol(injected, "email").as("n_email"),
          TextAnalysis.piiCountCol(injected, "ipv4").as("n_ip"),
          TextAnalysis.piiCountCol(injected, "phone").as("n_phone"),
          md5(redacted).as("redacted_md5"),
          (TextAnalysis.piiCountCol(redacted, "email") === 0 &&
            TextAnalysis.piiCountCol(redacted, "ipv4") === 0 &&
            TextAnalysis.piiCountCol(redacted, "phone") === 0).as("clean_ok"))
        .orderBy(col("doc_id"))
    }),

    // EXACT set-similarity self-join (prefix filtering): all doc pairs
    // with word-3-gram shingle-set Jaccard ≥ 4/5 — no false negatives,
    // the exact complement to the MinHash/SimHash approximate family.
    // The oracle brute-forces all C(n,2) pairs in DuckDB (tractable at
    // the correctness scale) with the SAME shingling and integer-exact
    // threshold, so any prefix-filter completeness bug shows as missing
    // rows.
    "q_setsim_join" -> ((s, dir) => {
      setSimResults(s, dir).jaccard
        .select(col("idA"), col("idB"),
          col("isect").cast("long").as("isect"),
          col("union_n").cast("long").as("union_n"), col("jaccard"))
        .orderBy(col("idA"), col("idB"))
    }),

    // PPJoin (prefix + POSITIONAL filter): the same exact join through
    // the tightened candidate funnel — result must be identical to
    // q_setsim_join, and the same brute-force oracle proves it
    // independently (not by comparing the two Spark outputs)
    "q_ppjoin" -> ((s, dir) => {
      setSimResults(s, dir).ppFin
        .select(col("idA"), col("idB"),
          col("isect").cast("long").as("isect"),
          col("union_n").cast("long").as("union_n"), col("jaccard"))
        .orderBy(col("idA"), col("idB"))
    }),
    // the PPJoin candidate funnel (prefix-filter pairs → positional
    // survivors → verified pairs): the oracle REPLAYS the whole
    // derivation in SQL — rare-first ordering, prefix lengths, grouped
    // pair algebra, the α/ubound positional bound, exact verification —
    // so the filter's correctness AND its measured reduction are both
    // cross-engine-checked
    "q_ppjoin_stats" -> ((s, dir) => {
      val r = setSimResults(s, dir)
      SetSimJoin.funnelStats(r.ppPre, r.ppPos, r.ppFin)
    }),

    // EXACT cosine set-similarity self-join (All-Pairs, binary sets):
    // all doc pairs with shingle-set cosine ≥ 9/10 — the αx = ⌈n·t²⌉
    // symmetric prefix, integer-exact squared threshold (no sqrt, no
    // float boundary). Same brute-force C(n,2) oracle shape as the
    // Jaccard twin: a prefix-completeness bug shows as missing rows
    "q_cosine_simjoin" -> ((s, dir) => {
      setSimResults(s, dir).cosine
        .orderBy(col("idA"), col("idB"))
    }),

    // deterministic stratified sampling — rebalance a training mix by
    // downsampling the dominant language. Pure map-side filter on a
    // hash threshold (md5 hex prefix < per-stratum bound): no shuffle,
    // no RNG state, bit-identical across runs/retries/engines — the
    // resumable-at-100 TB sampling shape (a task retry keeps the same
    // rows; DuckDB reproduces the sample exactly)
    "q_stratified_sample" -> ((s, dir) => {
      docs(s, dir)
        .where(substring(md5(concat(lit("samp:"), col("doc_id").cast("string"))), 1, 2) <
          when(col("lang") === "en", lit(SampleHexEn)).otherwise(lit(SampleHexRest)))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // exact-k deterministic per-stratum sample: the k docs with the
    // smallest seeded hash per lang — unlike the threshold sample, the
    // stratum size is EXACT; still zero RNG state, retry/resume-stable,
    // and the oracle reproduces the selection identically
    "q_sample_exact_k" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(md5(concat(lit("ks:"), col("doc_id").cast("string"))), col("doc_id"))
      docs(s, dir)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= SampleExactK)
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // Gopher-style repetition quality filter: duplicate-word fraction
    // per document (1 − distinct/total), keep-flag at the threshold —
    // the repetition axis of quality filtering (Rae et al. 2021,
    // arXiv:2112.11446 §A1.1). Narrow map over codegen'd array ops
    "q_repetition_filter" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_words"),
          size(array_distinct(split(col("text"), " "))).as("n_distinct_words"))
        .withColumn("dup_word_frac",
          round(lit(1.0) - col("n_distinct_words").cast("double") / col("n_words"), 6))
        .withColumn("keep", col("dup_word_frac") <= RepetitionMaxFrac)
        .orderBy(col("doc_id"))
    }),

    // SCD-1 merge (upsert): a deterministic patch batch (7-multiples
    // re-sourced + upper-cased, 11≡3 rows re-keyed as appends) merged
    // into the base — anti-join + union, never a full-outer coalesce.
    // The oracle replays the same merge with NOT EXISTS + UNION ALL
    "q_upsert" -> ((s, dir) => {
      val base = docs(s, dir)
      val patched = base.where(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("text", upper(col("text")))
        .withColumn("source", lit("patched"))
      val fresh = base.where(pmod(col("doc_id"), lit(11)) === 3)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("source", lit("new"))
      graft.operators.Upsert.upsert(base, patched.unionByName(fresh), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text")).as("text_md5"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Okapi BM25 keyword retrieval — top-k docs for a fixed term set;
    // the oracle replays tokenize/tf/df/idf/score, ln() included
    // (Retrieval.bm25Sql is generated from the same constants)
    "q_bm25" -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(docs(s, dir), Bm25Terms, Bm25K)),

    // exact-dedup summary — md5 grouping, oracle-checked
    "q_exact_dedup" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"))
        .withColumn("n_dup_rows", col("n_docs") - col("n_distinct"))
        .orderBy(col("source"))
    }),

    // token counting via regexp token stream — oracle-checked
    "q_token_stats" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"), TextAnalysis.tokenCountCol(col("text")).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          // cast to long: the driver's hash compare is type-sensitive and
          // DuckDB len() yields BIGINT, so min/max must be int64 both sides
          min(col("n_tokens")).cast("long").as("min_tokens"),
          max(col("n_tokens")).cast("long").as("max_tokens"))
        .orderBy(col("lang"))
    }),

    // heuristic language ID vs labeled lang — confusion counts, oracle-checked
    "q_langid" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"), TextAnalysis.langGuessCol(col("text")).as("lang_guess"))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_guess"))
    }),

    // quality-score decile histogram per source — oracle-checked
    "q_quality_hist" -> ((s, dir) => {
      docs(s, dir)
        .select(col("source"),
          floor(TextAnalysis.qualityScoreCol(col("text"), col("n_chars")) * 10).cast("int").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("decile"))
    }),

    // the exactDedup OPERATOR itself (keep smallest id per content
    // hash) — oracle-checked via QUALIFY in DuckDB
    "q_dedup_keepers" -> ((s, dir) => {
      Dedup.exactDedup(docs(s, dir), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // the exactDupGroups OPERATOR (duplicate groups by content hash)
    "q_dup_groups" -> ((s, dir) => {
      Dedup.exactDupGroups(docs(s, dir), "doc_id", "text")
        .orderBy(col("content_hash"))
    }),

    // MinHash LSH near-dup candidates on the code corpus (true dups
    // exist there) — verified by DedupSpec, rows-only for the driver
    "q_minhash_neardup" -> ((s, dir) => {
      minHashResults(s, dir).pairs.orderBy(col("idA"), col("idB"))
    }),

    // INCREMENTAL MinHash near-dup: the corpus folded through the
    // streaming capped-member block index in 3 batches (split by
    // doc_id mod 3) — the 100 TB ingest-dedup shape, where each batch
    // shuffles only its delta. The oracle replays the 3-batch
    // incremental algebra (cap → merge → new-member pairs, unrolled)
    // from the per-batch key dump, so the incremental state machine is
    // verified step by step by an independent engine
    "q_dedup_incremental" -> ((s, dir) => {
      val c = corpusDf(s, dir)
      val batches = (0 until IncDedupBatches).map(b => dedupBatch(c, b))
      Dedup.minHashPairsIncremental(batches, "doc_id", "text")
        .orderBy(col("idA"), col("idB"))
    }),

    // STREAMING dedup twin: the same 3 batches driven through the
    // checkpointed bucketed-state path (StreamingDedup — durable index,
    // storage-only resume). Semantics equal the in-memory incremental
    // fold, so the oracle REUSES the step-replayed SQL: an independent
    // engine verifies the durable state machine end to end
    "q_dedup_stream" -> ((s, dir) => {
      streamDedupPairs(s, dir).orderBy(col("idA"), col("idB"))
    }),

    // near-dup DEDUP: transitive closure (connected components) over
    // the MinHash pair graph, keep the smallest id per component — the
    // step a production dedup actually applies (near-dup is not
    // transitive; dropping per-pair leaks near-copies). Oracle redoes
    // the closure with a recursive CTE over the dumped pair set
    "q_neardup_keepers" -> ((s, dir) => {
      Dedup.nearDupKeepers(corpusDf(s, dir), "doc_id",
          minHashResults(s, dir).pairs)
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup pairs with Hamming ≤ 3 on the code corpus
    "q_simhash_neardup" -> ((s, dir) => {
      Dedup.simHashPairs(corpusDf(s, dir), "doc_id", "text")
        .orderBy(col("idA"), col("idB"))
    }),

    // n-gram Jaccard verification of the MinHash candidates
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(minHashResults(s, dir).pairs,
          corpusDf(s, dir), "doc_id", "text")
        .orderBy(col("idA"), col("idB"))
    }),

    // ER blocking math over documents, DuckDB-checkable: block-size
    // histogram on (lang, token-count bucket) keys and the candidate
    // pair count each block would emit (n·(n−1)/2) — the oracle-visible
    // twin of the engine-internal MinHash blocking (SURVEY.md §6.4)
    "er_doc_blocks" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"),
          floor(TextAnalysis.tokenCountCol(col("text")) / 64).cast("long").as("size_bucket"))
        .groupBy(col("lang"), col("size_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("n_pairs", col("n_docs") * (col("n_docs") - 1) / 2)
        .orderBy(col("lang"), col("size_bucket"))
    }),

    // winnowing fingerprint index stats
    "q_fingerprints" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
          (id, TextAnalysis.winnow(toks).length)
        }
        .toDF("doc_id", "n_fingerprints")
        .orderBy(col("doc_id"))
    }),

    // phonetic blocking over the documents token vocabulary (text words
    // plus the deterministic synthetic author field — same precedent as
    // the PII query: the field is ONE expression mirrored in both
    // engines, everything downstream is genuinely cross-engine): Soundex
    // equivalence classes — the block histogram a key designer reads.
    // The oracle replays the ENTIRE Soundex algorithm in SQL, so the
    // builtin's semantics are verified, not assumed
    "q_soundex_blocks" -> ((s, dir) => {
      Phonetic.codeBlocks(blockChanResults(s, dir).vocab)
        .orderBy(col("code"))
    }),

    // phonetic block-then-verify: same-Soundex token pairs through the
    // shared capped candidate generator, verified with Levenshtein —
    // blocking, cap algebra, AND verification all redone by DuckDB.
    // The author pool's spelling variants make the blocks collide the
    // way name fields do (smith/smyth/smithe, ashcraft/ashcroft, ...),
    // including same-code pairs beyond the edit bound (jackson/jaxon)
    "q_phonetic_pairs" -> ((s, dir) => {
      Phonetic.candidatePairs(blockChanResults(s, dir).vocab)
        .orderBy(col("tokA"), col("tokB"))
    }),

    // suffix-array blocking over the SAME vocabulary (Aizawa & Oyama
    // 2005; Christen §4.8): the block-size histogram with the purge
    // verdict per size — what a key designer reads to pick the purge
    // bound. The oracle regenerates every suffix with a DuckDB list
    // comprehension and recounts
    "q_suffix_blocks" -> ((s, dir) => {
      SuffixBlocking.blockHistogram(blockChanResults(s, dir).vocab)
        .orderBy(col("n_tokens"))
    }),

    // suffix block-then-verify: pairs sharing ≥ 1 surviving suffix
    // block (oversized blocks PURGED, not capped — the classic
    // robustness move), deduplicated across blocks, Levenshtein-
    // verified. Suffix generation, purge, pair algebra, and
    // verification are ALL replayed by DuckDB
    "q_suffix_pairs" -> ((s, dir) => {
      SuffixBlocking.candidatePairs(blockChanResults(s, dir).vocab)
        .orderBy(col("tokA"), col("tokB"))
    }),

    // canopy blocking (McCallum KDD'00) over the SAME vocabulary — the
    // third complementary scheme: character-bigram Jaccard as the cheap
    // metric, centers = the sequential canopy loop's center set
    // (≡ greedy MIS over the tight graph under π = md5‖id), membership
    // = loose neighborhood, canopies overlapping by design. The oracle
    // replays EVERYTHING: brute-force bigram Jaccard from the raw
    // documents (re-proving the prefix filter's completeness), the
    // unrolled MIS round chain under its own md5 order, the membership
    // join
    "q_canopy" -> ((s, dir) => {
      blockChanResults(s, dir).canopies
        .orderBy(col("center"), col("member"))
    }),

    // Swoosh-style iterative match-merge over deterministic chained
    // profiles (ONE expression mirrored in both engines — the synthetic-
    // author precedent): per doc-triple, the two "inner" profiles match
    // at round 1, and ONLY their union matches the "outer" profile —
    // the merge-creates-new-matches semantics one-shot CC cannot
    // express. The oracle replays the full round chain: brute-force
    // matching, a recursive-CTE CC, and the list-union merge per round
    "q_match_merge" -> ((s, dir) => {
      matchMergeResults(s, dir).orderBy(col("id"))
    }),

    // the key designer's table: Soundex vs suffix vs canopy (vs their
    // union) on the SAME vocabulary — pair completeness against a
    // brute-force Levenshtein ≤ 2 truth, reduction ratio vs C(|V|, 2).
    // The truth crossJoin is a documented diagnostic over the
    // Heaps-sublinear vocabulary (the ANN-brute-force precedent), not a
    // pipeline stage. The union row quantifies the complementarity the
    // three schemes were built for
    "q_blocking_quality" -> ((s, dir) => {
      val (vocab, chans, truth0) = blockingChannels(s, dir)
      val un = chans.map(_._2).reduce(_ unionByName _).distinct()
      val truth = truth0.withColumn("hit", lit(true))
      val nV = vocab.agg(count(lit(1)).as("n_vocab"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      def row(name: String, pairs: DataFrame) =
        pairs.join(truth, Seq("tokA", "tokB"), "left")
          // coalesce: an EMPTY channel must report (0, 0), not NULL —
          // the oracle's scheme dimension emits the zero row too
          .agg(count(lit(1)).as("n_pairs"),
            coalesce(sum(when(col("hit"), 1L).otherwise(0L)), lit(0L))
              .as("n_captured"))
          .crossJoin(nT).crossJoin(nV)
          .select(lit(name).as("scheme"), col("n_pairs"), col("n_captured"),
            round(col("n_captured").cast("double") / col("n_truth"), 6)
              .as("pair_completeness"),
            round(lit(1.0) - col("n_pairs").cast("double") /
              shiftright(col("n_vocab") * (col("n_vocab") - lit(1L)), 1), 6)
              .as("reduction_ratio"))
      (chans.map { case (nm, p) => row(nm, p) } :+ row("union", un))
        .reduce(_ unionByName _).orderBy(col("scheme"))
    }),

    // exact skew-balanced pair enumeration (BlockSplit family, Kolb/
    // Thor/Rahm ICDE'12) over the MinHash block index: every within-
    // block pair exactly once, per-row emission balanced to within one
    // pair by the circular rule — the recall-LOSSLESS complement to the
    // capped q_minhash_neardup path. The oracle replays the ENTIRE rule
    // (member rank, block size, D(idx, n) bound, modular partner) from
    // the dumped raw (key, id) table and must reproduce every row
    "q_balanced_pairs" -> ((s, dir) => {
      BlockSplit.balancedPairs(minHashResults(s, dir).keyed)
        .orderBy(col("key"), col("idA"), col("idB"))
    }),

    // the BlockSplit CONTRACT table, per block size: emitted-pair count
    // vs an independent brute-force within-block join (coverage — no
    // recall loss), captured = their intersection (exactness), and the
    // worst per-row emission imbalance (≤ 1 by construction, counting
    // zero-emitters). DuckDB recomputes every column from the raw
    // (key, id) dump alone: brute pairs from its own self-join, emission
    // counts from its own replay of the circular rule
    "q_balanced_coverage" -> ((s, dir) => {
      val kd = minHashResults(s, dir).keyed
        .select(col("key"), col("id")).distinct().localCheckpoint(true)
      val ix = BlockSplit.indexed(kd).localCheckpoint(true)
      val pr = BlockSplit.balancedPairs(kd).localCheckpoint(true)
      val brute = kd.as("a").join(kd.as("b"),
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
        .select(col("a.key").as("key"), col("a.id").as("idA"),
          col("b.id").as("idB"))
        .localCheckpoint(true)
      // per-row emission counts INCLUDING rows that emit nothing
      // (n = 2, idx = 1): left join from the full member index
      val emCnt = pr.groupBy(col("key"), col("emitter_idx").as("idx"))
        .agg(count(lit(1)).as("m"))
      val perKey = ix.where(col("n") >= 2L)
        .join(emCnt, Seq("key", "idx"), "left")
        .select(col("key"), col("n"), coalesce(col("m"), lit(0L)).as("m"))
        .groupBy(col("key"), col("n"))
        .agg(sum(col("m")).as("n_emitted"),
          min(col("m")).as("min_emit"), max(col("m")).as("max_emit"))
      val bruteCnt = brute.groupBy(col("key")).agg(count(lit(1)).as("n_brute"))
      val capt = pr.join(brute, Seq("key", "idA", "idB"))
        .groupBy(col("key")).agg(count(lit(1)).as("n_captured"))
      perKey.join(bruteCnt, Seq("key"), "left").join(capt, Seq("key"), "left")
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(coalesce(col("n_brute"), lit(0L))).as("n_brute"),
          sum(col("n_emitted")).as("n_emitted"),
          sum(coalesce(col("n_captured"), lit(0L))).as("n_captured"),
          max(col("max_emit") - col("min_emit")).as("max_imbalance"))
        .orderBy(col("n"))
    }),

    // adaptive (learned) disjunctive blocking — Bilenko ICDM'06 family:
    // greedy forward selection over four channels (the three schemes +
    // a deliberately cheap-and-dirty length-band channel the greedy
    // should rank last), each step picking the best marginal
    // truth-coverage-per-pair ratio against what's already selected.
    // Output = every (step, remaining-channel) evaluation with the pick
    // flag; DuckDB replays the WHOLE chain — channels, truth, marginal
    // set algebra, the ratio order, every pick — from the raw documents
    "q_blocking_scheme" -> ((s, dir) => {
      import s.implicits._
      val (vocab, chans, truth) = blockingChannels(s, dir)
      val lb = vocab.as("a").join(vocab.as("b"),
          length(col("a.tok")) === length(col("b.tok")) && col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tokA"), col("b.tok").as("tokB"))
        .localCheckpoint(true)
      BlockingScheme.greedyChain(chans :+ ("lenband" -> lb), truth)
        .toDF()
        .select(col("step"), col("scheme"),
          col("marginalTruth").as("marginal_truth"),
          col("marginalPairs").as("marginal_pairs"),
          round(when(col("marginalPairs") === 0, lit(0.0))
            .otherwise(col("marginalTruth").cast("double") / col("marginalPairs")), 6)
            .as("ratio"),
          col("chosen"))
        .orderBy(col("step"), col("scheme"))
    })
  )

  /** Memoized 3-batch run of the durable streaming-dedup state machine
    * (a memo temp root per (session, sfDir)); both the q_dedup_stream
    * query and Bench's warm path share it so the sweep line times a
    * cache read, not the stream build. */
  private val streamDedupPairs = SessionMemo { (s, dir: String) =>
    val root = SessionMemo.tempDir(s, "graft_dstream_q")
    val io = new graft.sources.ParquetTableIO(root)
    val c = corpusDf(s, dir)
    var st: graft.streaming.StreamingDedup.DedupState = null
    for (b <- 0 until IncDedupBatches)
      st = graft.streaming.StreamingDedup.processBatchBucketed(
        s, dedupBatch(c, b), "doc_id", "text", io, root, numBuckets = 8)
    SessionMemo.persist(st.pairs)
  }

  /** Force the streaming-dedup twin's 3-batch build (Bench line
    * `dstream_build_sec` — same attribution rule as the ER twins). */
  def warmStreamDedup(spark: SparkSession, sfDir: String): Unit = {
    streamDedupPairs(spark, sfDir).count()
    ()
  }

  /** Auxiliary stage-table dumps for the DuckDB oracle: the MinHash band
    * keys, SimHash signatures + chunk keys, and shingle sets over the
    * code corpus — the seeded hashes themselves are engine-internal, but
    * once dumped, the *verification halves* (cap + pair algebra, hamming
    * via bit_count(xor), Jaccard set algebra) are redone independently
    * by DuckDB. Built through the exact operator entry points the
    * queries use, so any drift in params/seeds breaks the oracle. */
  def dumpAux(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val c = corpusDf(spark, sfDir)
    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    dump(minHashResults(spark, sfDir).keyed, "minhash_keys")
    // the same keys tagged with their q_dedup_incremental batch number:
    // the oracle replays the 3-batch incremental cap/merge/pair algebra
    dump((0 until IncDedupBatches).map(b =>
        Dedup.minHashKeyed(dedupBatch(c, b), "doc_id", "text")
          .withColumn("batch", lit(b)))
      .reduce(_ unionByName _), "minhash_keys_batched")
    val sigs = Dedup.simHashSigs(c, "doc_id", "text")
    dump(sigs, "simhash_sigs")
    dump(Dedup.simHashKeyed(sigs, maxHamming = 3), "simhash_keys")
    dump(Dedup.shingleSets(c, "doc_id", "text"), "shingles")
    // per-position k-gram hashes over the documents table: the
    // q_fingerprints oracle redoes the winnowing window-minimum+dedupe
    locally {
      import spark.implicits._
      val kg = docs(spark, sfDir).select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
          if (toks.isEmpty) Iterator.empty
          else TextAnalysis.kgramHashes(toks).iterator.zipWithIndex
            .map { case (h, pos) => (id, pos, h) }
        }
        .toDF("doc_id", "pos", "h")
      dump(kg, "kgrams")
    }
  }

  // capped block membership + intra-block pair emission, exactly
  // CandidateGen.pairsFromKeys' algebra redone in SQL. The cap is
  // interpolated from Dedup.DefaultBlockCap (the MinHashParams /
  // simHashPairs default) so query and oracle track one definition; the
  // DISTINCT subquery before the rank mirrors capByKey's set-semantic
  // cap (dense_rank over rows ≡ row_number over distinct rows).
  private def pairsFromKeysSql(keysTable: String): String =
    s"""WITH kd AS (
       |  SELECT DISTINCT key, id FROM read_parquet('{OUT}/_aux/$keysTable/*.parquet')),
       |k AS (
       |  SELECT key, id FROM kd
       |  QUALIFY row_number() OVER (PARTITION BY key ORDER BY id) <= ${Dedup.DefaultBlockCap}),
       |cand AS (
       |  SELECT DISTINCT a.id AS idA, b.id AS idB
       |  FROM k a JOIN k b ON a.key = b.key AND a.id < b.id)""".stripMargin

  // the word-3-gram shingle-set frame both exact set-similarity oracles
  // brute-force over — mirrors [[setSimDocs]] exactly
  private def setSimDocsSql: String =
    """d0 AS (SELECT doc_id AS id,
      |         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      |       FROM documents),
      |d AS (SELECT id, list_distinct(list_transform(range(1, len(tk) - 1),
      |        i -> array_to_string(tk[i:i+2], ' '))) AS toks
      |      FROM d0 WHERE len(tk) >= 3)""".stripMargin

  /** Brute-force exact-Jaccard oracle body shared by q_setsim_join AND
    * q_ppjoin — the two queries must verify against the SAME recompute,
    * so it exists exactly once. */
  private def setSimBruteSql: String =
    s"""WITH $setSimDocsSql,
       |p AS (SELECT a.id AS idA, b.id AS idB,
       |        CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS isect,
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT) AS union_n
       |      FROM d a JOIN d b ON a.id < b.id)
       |SELECT idA, idB, isect, union_n,
       |  round(CAST(isect AS DOUBLE) / union_n, 6) AS jaccard
       |FROM p WHERE isect * $SetSimDen >= union_n * $SetSimNum
       |ORDER BY idA, idB""".stripMargin

  // BlockSplit's circular emission rule replayed from the raw dumped
  // (key, id) band-key table: DISTINCT members, rank + block size,
  // D(idx, n) bound (integer `//` division mirrors Spark's shiftright),
  // generate_series deltas, modular partner lookup. bix/bpr are
  // MATERIALIZED — both are referenced more than once downstream and
  // DuckDB inlines plain CTEs per reference site.
  private def balancedRuleSql: String =
    s"""bkd AS (
       |  SELECT DISTINCT key, id FROM read_parquet('{OUT}/_aux/minhash_keys/*.parquet')),
       |bix AS MATERIALIZED (
       |  SELECT key, id,
       |    row_number() OVER (PARTITION BY key ORDER BY id) - 1 AS idx,
       |    count(*) OVER (PARTITION BY key) AS n
       |  FROM bkd),
       |bem AS (
       |  SELECT key, id, idx, n,
       |    CASE WHEN n % 2 = 1 THEN (n - 1) // 2
       |         WHEN idx < n // 2 THEN n // 2
       |         ELSE n // 2 - 1 END AS dmax
       |  FROM bix WHERE n >= 2),
       |bed AS (
       |  SELECT key, id, idx, n, unnest(generate_series(1, dmax)) AS d
       |  FROM bem WHERE dmax >= 1),
       |bpr AS MATERIALIZED (
       |  SELECT e.key, least(e.id, p.id) AS idA, greatest(e.id, p.id) AS idB,
       |    e.idx AS emitter_idx, e.d
       |  FROM bed e JOIN bix p
       |    ON p.key = e.key AND p.idx = (e.idx + e.d) % e.n)""".stripMargin

  /** See the q_dedup_incremental comment in [[oracleSql]] — stages are
    * GENERATED from [[IncDedupBatches]], one (n, c, p) CTE triple per
    * batch, so the replay always matches the split the queries ran. */
  private def incDedupReplaySql: String = {
    val cap = Dedup.DefaultBlockCap
    val n = IncDedupBatches
    val stages = (0 until n).map { b =>
      val prev = if (b == 0) s"n$b" else s"u$b"
      val union = if (b == 0) ""
        else s"u$b AS (SELECT key, id FROM c${b - 1} UNION SELECT key, id FROM n$b),\n"
      s"""n$b AS (SELECT DISTINCT key, id FROM kb WHERE batch = $b),
         |${union}c$b AS (SELECT key, id FROM $prev
         |  QUALIFY row_number() OVER (PARTITION BY key ORDER BY id) <= $cap),
         |p$b AS (
         |  SELECT DISTINCT a.id AS idA, b.id AS idB
         |  FROM c$b a JOIN c$b b ON a.key = b.key AND a.id < b.id
         |  JOIN n$b x ON x.key = a.key AND (x.id = a.id OR x.id = b.id))""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 until n).map(b => s"SELECT * FROM p$b").mkString(" UNION ALL ")
    s"""WITH kb AS (
       |  SELECT batch, key, id
       |  FROM read_parquet('{OUT}/_aux/minhash_keys_batched/*.parquet')),
       |$stages
       |SELECT DISTINCT idA, idB
       |FROM ($unionAll)
       |ORDER BY idA, idB""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // DuckDB re-shingles the whole corpus itself and redoes the
    // benchmark-overlap join + per-doc distinct-hit count from scratch
    "q_decontaminate" ->
      s"""WITH t AS (SELECT doc_id,
         |             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |           FROM documents),
         |ix AS (SELECT doc_id, toks,
         |         unnest(generate_series(1, len(toks) - $DecontamN + 1)) AS i
         |       FROM t WHERE len(toks) >= $DecontamN),
         |g AS (SELECT doc_id,
         |        array_to_string(toks[i:i + $DecontamN - 1], ' ') AS gram
         |      FROM ix),
         |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % $DecontamBenchMod = 0),
         |h AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
         |      FROM g JOIN b USING (gram)
         |      WHERE g.doc_id % $DecontamBenchMod <> 0 GROUP BY 1)
         |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
         |  coalesce(h.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN h USING (doc_id)
         |WHERE d.doc_id % $DecontamBenchMod <> 0
         |ORDER BY d.doc_id""".stripMargin,
    // the same pattern table drives DuckDB's own regexp_replace chain
    // and audit counts; the redacted md5 and fixpoint verdict must agree
    "q_pii_redact" ->
      s"""WITH inj AS (SELECT doc_id, $PiiInjectedSql AS it FROM documents),
         |r AS (SELECT doc_id, it, ${piiRedactSql("it")} AS rt FROM inj)
         |SELECT doc_id,
         |  ${piiCountSql("it", "email")} AS n_email,
         |  ${piiCountSql("it", "ipv4")} AS n_ip,
         |  ${piiCountSql("it", "phone")} AS n_phone,
         |  md5(rt) AS redacted_md5,
         |  ${piiCountSql("rt", "email")} = 0
         |    AND ${piiCountSql("rt", "ipv4")} = 0
         |    AND ${piiCountSql("rt", "phone")} = 0 AS clean_ok
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_minhash_neardup" ->
      s"""${pairsFromKeysSql("minhash_keys")}
         |SELECT idA, idB FROM cand ORDER BY idA, idB""".stripMargin,
    // the 3-batch incremental dedup algebra replayed step by step:
    // per batch, the capped index is re-capped over (previous members ∪
    // batch arrivals) — cap keeps the lowest DISTINCT ids — and a
    // batch's pairs are the capped-index pairs touching at least one of
    // its arrivals; the result is the union. This is EXACTLY
    // CandidateGen.mergeCappedMembers + pairsWithNewMember, unrolled.
    // The durable streaming path (q_dedup_stream) computes the same
    // function through bucketed storage, so the same replay verifies it.
    "q_dedup_incremental" -> incDedupReplaySql,
    "q_dedup_stream" -> incDedupReplaySql,
    // transitive closure recomputed independently (recursive CTE) over
    // the DUMPED near-dup pairs; keepers = the component minima, i.e.
    // ids not reachable from any smaller id. Nodes = every doc that
    // emitted a band key (all docs — the signature always exists)
    "q_neardup_keepers" ->
      """WITH RECURSIVE
        |  p AS (SELECT idA, idB FROM read_parquet('{OUT}/q_minhash_neardup/*.parquet')),
        |  e AS (SELECT idA AS a, idB AS b FROM p UNION ALL SELECT idB, idA FROM p),
        |  nodes AS (SELECT DISTINCT id FROM read_parquet('{OUT}/_aux/minhash_keys/*.parquet')),
        |  reach(id, r) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r)
        |SELECT DISTINCT min(r) AS doc_id FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin,
    "q_simhash_neardup" ->
      s"""${pairsFromKeysSql("simhash_keys")},
         |s AS (SELECT id, simhash FROM read_parquet('{OUT}/_aux/simhash_sigs/*.parquet'))
         |SELECT c.idA, c.idB,
         |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
         |FROM cand c JOIN s sa ON c.idA = sa.id JOIN s sb ON c.idB = sb.id
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
         |ORDER BY idA, idB""".stripMargin,
    "q_ngram_jaccard" ->
      s"""${pairsFromKeysSql("minhash_keys")},
         |sh AS (SELECT id, shingles FROM read_parquet('{OUT}/_aux/shingles/*.parquet'))
         |SELECT c.idA, c.idB,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |    / greatest(len(list_distinct(list_concat(sa.shingles, sb.shingles))), 1) AS jaccard
         |FROM cand c JOIN sh sa ON c.idA = sa.id JOIN sh sb ON c.idB = sb.id
         |ORDER BY idA, idB""".stripMargin,
    // winnowing (k=5, w=4) redone in SQL over the dumped k-gram hash
    // sequence: per-window minimum via a frame of 4, windows end at
    // n−w, fingerprint count = distinct minima (the Scala LinkedHashSet
    // dedupes by value; only the count is surfaced here)
    "q_fingerprints" ->
      """WITH kg AS (SELECT doc_id, pos, h FROM read_parquet('{OUT}/_aux/kgrams/*.parquet')),
        |cnt AS (SELECT doc_id, count(*) AS n FROM kg GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
        |  FROM kg),
        |f AS (
        |  SELECT m.doc_id, count(DISTINCT m.mn) AS nf
        |  FROM m JOIN cnt ON m.doc_id = cnt.doc_id
        |  WHERE m.pos <= greatest(0, cnt.n - 4)
        |  GROUP BY m.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(f.nf, 0) AS INT) AS n_fingerprints
        |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // DuckDB sum(int) is HUGEINT (float64 through pandas) — cast to BIGINT
    // so the driver's type-sensitive hash matches Spark's int64 sums
    "q_doc_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_exact_dedup" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
        |  count(*) - count(DISTINCT md5(text)) AS n_dup_rows
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_bm25" -> graft.operators.Retrieval.bm25Sql(Bm25Terms, Bm25K),
    "q_upsert" ->
      """WITH patched AS (
        |  SELECT doc_id, upper(text) AS text, lang, 'patched' AS source, n_chars
        |  FROM documents WHERE doc_id % 7 = 0),
        |fresh AS (
        |  SELECT doc_id + 100000 AS doc_id, text, lang, 'new' AS source, n_chars
        |  FROM documents WHERE doc_id % 11 = 3),
        |upd AS (SELECT * FROM patched UNION ALL SELECT * FROM fresh),
        |merged AS (
        |  SELECT * FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = d.doc_id)
        |  UNION ALL SELECT * FROM upd)
        |SELECT doc_id, lang, source, md5(text) AS text_md5, n_chars
        |FROM merged ORDER BY doc_id""".stripMargin,
    "q_sample_exact_k" ->
      s"""SELECT lang, doc_id, CAST(row_number() OVER w AS INT) AS rk
         |FROM documents
         |WINDOW w AS (PARTITION BY lang
         |             ORDER BY md5('ks:' || CAST(doc_id AS VARCHAR)), doc_id)
         |QUALIFY rk <= $SampleExactK
         |ORDER BY lang, rk""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substring(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 2) <
         |  CASE WHEN lang = 'en' THEN '$SampleHexEn' ELSE '$SampleHexRest' END
         |ORDER BY doc_id""".stripMargin,
    "q_setsim_join" -> setSimBruteSql,

    // PPJoin result: the SAME brute-force oracle as q_setsim_join (one
    // string, not two copies that could drift) — the positional filter
    // must not change the result set by one row
    "q_ppjoin" -> setSimBruteSql,
    // full candidate-funnel replay: DuckDB re-derives the rare-first
    // global order (row_number over (freq, token) — tokens are distinct
    // per doc, so the tie-break is total), the prefix windows, the
    // grouped pair emission with the length filter, the positional
    // α/ubound prune, and the exact verification — all three funnel
    // counts must match the Scala stages exactly
    "q_ppjoin_stats" -> {
      val (tn, td) = (SetSimNum, SetSimDen)
      s"""WITH $setSimDocsSql,
         |tokf AS (SELECT id, unnest(toks) AS token FROM d),
         |freq AS (SELECT token, count(*) AS freq FROM tokf GROUP BY token),
         |ordered AS (
         |  SELECT id, token,
         |    row_number() OVER (PARTITION BY id ORDER BY freq, token) AS pos,
         |    count(*) OVER (PARTITION BY id) AS n
         |  FROM tokf JOIN freq USING (token)),
         |pfx AS MATERIALIZED (
         |  SELECT id, token, pos, n FROM ordered
         |  WHERE pos <= n - ((n * $tn + ${td - 1}) // $td) + 1),
         |cand AS MATERIALIZED (
         |  SELECT a.id AS idA, b.id AS idB,
         |    max(a.n) AS nA, max(b.n) AS nB,
         |    min(a.pos) AS posA, min(b.pos) AS posB
         |  FROM pfx a JOIN pfx b ON a.token = b.token AND a.id < b.id
         |  WHERE least(a.n, b.n) * $td >= greatest(a.n, b.n) * $tn
         |  GROUP BY a.id, b.id),
         |posf AS MATERIALIZED (
         |  SELECT * FROM cand
         |  WHERE 1 + least(nA - posA, nB - posB)
         |    >= ($tn * (nA + nB) + ${tn + td - 1}) // ${tn + td}),
         |fin AS (
         |  SELECT p.idA, p.idB
         |  FROM posf p JOIN d x ON x.id = p.idA JOIN d y ON y.id = p.idB
         |  WHERE len(list_intersect(x.toks, y.toks)) * $td
         |    >= len(list_distinct(list_concat(x.toks, y.toks))) * $tn)
         |SELECT (SELECT count(*) FROM cand) AS n_prefix_cands,
         |       (SELECT count(*) FROM posf) AS n_pos_cands,
         |       (SELECT count(*) FROM fin) AS n_pairs""".stripMargin
    },

    // brute-force cosine over the SAME shingle frame: every C(n,2)
    // pair, integer-exact SQUARED threshold (isect²·tDen² ≥ nA·nB·tNum²
    // — sqrt never computed in either engine), cos² as a 6-dp rational
    "q_cosine_simjoin" ->
      s"""WITH $setSimDocsSql,
         |p AS (SELECT a.id AS idA, b.id AS idB,
         |        CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS isect,
         |        CAST(len(a.toks) AS BIGINT) AS nA, CAST(len(b.toks) AS BIGINT) AS nB
         |      FROM d a JOIN d b ON a.id < b.id)
         |SELECT idA, idB, isect, nA, nB,
         |  round(CAST(isect * isect AS DOUBLE) / (nA * nB), 6) AS cos2
         |FROM p
         |WHERE isect * isect * ${CosSimDen.toLong * CosSimDen}
         |  >= nA * nB * ${CosSimNum.toLong * CosSimNum}
         |ORDER BY idA, idB""".stripMargin,
    "q_repetition_filter" ->
      s"""SELECT doc_id, lang,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_words,
         |  round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) AS dup_word_frac,
         |  round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) <= $RepetitionMaxFrac AS keep
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_keepers" ->
      """SELECT doc_id FROM documents
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_dup_groups" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,
    "q_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS sum_tokens,
        |  min(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS min_tokens,
        |  max(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_langid" ->
      """WITH t AS (
        |  SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), h AS (
        |  SELECT lang,
        |    len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','on','for','with','a'], t))) AS en,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','et','de','un','une','dans','est','pour'], t))) AS fr,
        |    len(list_filter(toks, t -> list_contains(['el','los','las','y','en','un','una','que','es','por'], t))) AS es,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','von','mit','ist','im','den','zu'], t))) AS de
        |  FROM t
        |)
        |SELECT lang,
        |  CASE WHEN en + fr + es + de = 0 THEN 'und'
        |       WHEN en >= fr AND en >= es AND en >= de THEN 'en'
        |       WHEN fr >= es AND fr >= de THEN 'fr'
        |       WHEN es >= de THEN 'es'
        |       ELSE 'de' END AS lang_guess,
        |  count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "er_doc_blocks" ->
      """SELECT lang,
        |  CAST(floor(len(regexp_extract_all(lower(text), '[a-z0-9]+')) / 64) AS BIGINT) AS size_bucket,
        |  count(*) AS n_docs,
        |  count(*) * (count(*) - 1) / 2 AS n_pairs
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_quality_hist" ->
      """WITH q AS (
        |  SELECT CAST(floor(
        |    least(CAST(n_chars AS DOUBLE) / 200.0, 1.0)
        |    * (1.0 - least(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |        / greatest(CAST(n_chars AS DOUBLE), 1.0) * 10.0, 1.0) * 0.5)
        |    * (1.0 - least(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |        / greatest(CAST(n_chars AS DOUBLE), 1.0) * 5.0, 1.0) * 0.5)
        |    * 10) AS INT) AS decile
        |  FROM documents)
        |SELECT decile, count(*) AS n FROM q GROUP BY decile ORDER BY decile""".stripMargin,

    "q_soundex_blocks" ->
      s"""WITH $soundexCtes
         |SELECT code, count(*) AS n_tokens,
         |  min(tok) AS first_token, max(tok) AS last_token
         |FROM sx GROUP BY code ORDER BY code""".stripMargin,

    // blocking (same code), cap (row_number ≤ cap over the distinct
    // vocabulary — ids are unique, so row_number ≡ capByKey's
    // dense_rank), and Levenshtein verification all replayed by DuckDB
    "q_phonetic_pairs" ->
      s"""WITH $soundexCtes,
         |k AS (
         |  SELECT code AS key, tok AS id FROM sx
         |  QUALIFY row_number() OVER (PARTITION BY code ORDER BY tok)
         |    <= ${Dedup.DefaultBlockCap})
         |SELECT a.id AS tokA, b.id AS tokB, a.key AS code,
         |  CAST(levenshtein(a.id, b.id) AS INT) AS lev,
         |  levenshtein(a.id, b.id) <= ${Phonetic.DefaultMaxLev} AS is_match
         |FROM k a JOIN k b ON a.key = b.key AND a.id < b.id
         |ORDER BY tokA, tokB""".stripMargin,

    // suffix generation (list comprehension), block counts, and the
    // purge verdict all recomputed by DuckDB from the raw documents
    "q_suffix_blocks" ->
      s"""WITH $suffixCtes,
         |b AS (SELECT key, count(*) AS n_tokens FROM sk GROUP BY key)
         |SELECT n_tokens, count(*) AS n_blocks,
         |  (n_tokens >= 2 AND n_tokens <= ${SuffixBlocking.DefaultMaxBlock}) AS alive
         |FROM b GROUP BY n_tokens ORDER BY n_tokens""".stripMargin,

    // blocking (shared surviving suffix), purge, cross-block pair
    // dedup, and Levenshtein verification all replayed by DuckDB
    "q_suffix_pairs" ->
      s"""WITH $suffixCtes,
         |cand AS (
         |  SELECT DISTINCT a.id AS tokA, b.id AS tokB
         |  FROM sk a
         |  JOIN sk b ON a.key = b.key AND a.id < b.id
         |  JOIN alive v2 ON v2.key = a.key)
         |SELECT tokA, tokB, CAST(levenshtein(tokA, tokB) AS INT) AS lev,
         |  levenshtein(tokA, tokB) <= ${Phonetic.DefaultMaxLev} AS is_match
         |FROM cand ORDER BY tokA, tokB""".stripMargin,

    // canopy replay: brute-force bigram Jaccard over the vocabulary
    // (loose edges — also a completeness proof for the Spark side's
    // prefix-filtered join), tight adjacency, the greedy-MIS center
    // chain unrolled round by round under DuckDB's own md5‖id order,
    // isolated tokens as their own centers, membership join
    "q_canopy" ->
      s"""WITH $vocabCte,
         |$canopyBody
         |SELECT center, member,
         |  round(CAST(isect AS DOUBLE) / union_n, 6) AS jacc
         |FROM centers JOIN und USING (center)
         |UNION ALL SELECT center, center AS member, 1e0 AS jacc FROM centers
         |ORDER BY center, member""".stripMargin,

    // the key designer's comparison table: all three vocabulary
    // blocking schemes (plus their union) scored on pair completeness
    // against a brute-force Levenshtein ≤ maxLev truth and on reduction
    // ratio vs C(|V|, 2) — each channel's pairs, the truth, and both
    // metrics recomputed end-to-end by DuckDB from the raw documents
    "q_blocking_quality" ->
      s"""WITH $vocabCte,
         |$channelPairsCte,
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tv),
         |chan AS (
         |  SELECT 'soundex' AS scheme, tokA, tokB FROM ph
         |  UNION ALL SELECT 'suffix', tokA, tokB FROM sfp
         |  UNION ALL SELECT 'canopy', tokA, tokB FROM cnp
         |  UNION ALL SELECT 'union', tokA, tokB FROM (
         |    SELECT tokA, tokB FROM ph
         |    UNION SELECT tokA, tokB FROM sfp
         |    UNION SELECT tokA, tokB FROM cnp)),
         |qq AS (
         |  SELECT scheme, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN tv.hit THEN 1 ELSE 0 END) AS BIGINT) AS n_captured
         |  FROM chan LEFT JOIN tv USING (tokA, tokB) GROUP BY scheme),
         |-- the scheme dimension keeps an EMPTY channel's (0, 0) row —
         |-- mirroring Spark's always-one-row global aggregate per scheme
         |q AS (
         |  SELECT s.scheme, coalesce(qq.n_pairs, 0) AS n_pairs,
         |    coalesce(qq.n_captured, 0) AS n_captured
         |  FROM (SELECT unnest(['canopy', 'soundex', 'suffix', 'union']) AS scheme) s
         |  LEFT JOIN qq USING (scheme))
         |SELECT scheme, n_pairs, n_captured,
         |  round(CAST(n_captured AS DOUBLE) / nt.n, 6) AS pair_completeness,
         |  round(1e0 - CAST(n_pairs AS DOUBLE)
         |    / ((nv.n * (nv.n - 1)) // 2), 6) AS reduction_ratio
         |FROM q, nv, nt ORDER BY scheme""".stripMargin,

    // greedy blocking-scheme chain replayed end-to-end: the three
    // channel bodies + the cheap length-band channel, the truth, every
    // step's marginal set algebra (NOT EXISTS against the growing
    // selected union), the double-ratio pick order, and the pick flags
    "q_blocking_scheme" ->
      s"""WITH $vocabCte,
         |$channelPairsCte,
         |lbp AS MATERIALIZED (
         |  SELECT a.tok AS tokA, b.tok AS tokB
         |  FROM v a JOIN v b ON length(a.tok) = length(b.tok) AND a.tok < b.tok),
         |chanS AS MATERIALIZED (
         |  SELECT 'soundex' AS scheme, tokA, tokB FROM ph
         |  UNION ALL SELECT 'suffix', tokA, tokB FROM sfp
         |  UNION ALL SELECT 'canopy', tokA, tokB FROM cnp
         |  UNION ALL SELECT 'lenband', tokA, tokB FROM lbp),
         |${blockingSchemeSteps(Seq("canopy", "lenband", "soundex", "suffix"))}
         |SELECT step, scheme, mt AS marginal_truth, np AS marginal_pairs,
         |  round(CASE WHEN np = 0 THEN 0e0 ELSE mt * 1e0 / np END, 6) AS ratio,
         |  chosen
         |FROM evall ORDER BY step, scheme""".stripMargin,

    // BlockSplit circular-rule replay: DuckDB re-derives member ranks,
    // block sizes, the D(idx, n) emission bound, and the modular partner
    // from the raw dumped (key, id) table — every emitted pair row must
    // match exactly (same rule, independently executed)
    "q_balanced_pairs" ->
      s"""WITH $balancedRuleSql
         |SELECT key, idA, idB, emitter_idx, d FROM bpr
         |ORDER BY key, idA, idB""".stripMargin,

    // BlockSplit contract replay: brute-force within-block pairs from
    // DuckDB's OWN self-join (coverage truth), emission counts from
    // DuckDB's OWN rule replay (incl. zero-emitters), their
    // intersection, and the per-row imbalance — all from the raw
    // (key, id) dump, grouped by block size
    "q_balanced_coverage" ->
      s"""WITH $balancedRuleSql,
         |brute AS MATERIALIZED (
         |  SELECT a.key, a.id AS idA, b.id AS idB
         |  FROM bix a JOIN bix b ON a.key = b.key AND a.id < b.id),
         |emc AS (
         |  SELECT i.key, i.n, coalesce(CAST(c.m AS BIGINT), 0) AS m
         |  FROM bix i LEFT JOIN (
         |    SELECT key, emitter_idx, count(*) AS m FROM bpr
         |    GROUP BY key, emitter_idx) c
         |    ON c.key = i.key AND c.emitter_idx = i.idx
         |  WHERE i.n >= 2),
         |pk AS (
         |  SELECT key, n, CAST(sum(m) AS BIGINT) AS n_emitted,
         |    min(m) AS min_emit, max(m) AS max_emit
         |  FROM emc GROUP BY key, n),
         |bc AS (SELECT key, CAST(count(*) AS BIGINT) AS n_brute
         |       FROM brute GROUP BY key),
         |cp AS (SELECT p.key, CAST(count(*) AS BIGINT) AS n_captured
         |       FROM bpr p JOIN brute b
         |         ON b.key = p.key AND b.idA = p.idA AND b.idB = p.idB
         |       GROUP BY p.key)
         |SELECT n, CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(sum(coalesce(bc.n_brute, 0)) AS BIGINT) AS n_brute,
         |  CAST(sum(pk.n_emitted) AS BIGINT) AS n_emitted,
         |  CAST(sum(coalesce(cp.n_captured, 0)) AS BIGINT) AS n_captured,
         |  max(pk.max_emit - pk.min_emit) AS max_imbalance
         |FROM pk LEFT JOIN bc USING (key) LEFT JOIN cp USING (key)
         |GROUP BY n ORDER BY n""".stripMargin,

    // match-merge fixpoint replay: the synthetic chained profiles (the
    // ONE expression mirrored from swooshProfiles), then MaxRounds
    // unrolled rounds of brute-force matching + recursive-CTE connected
    // components + list-union merge. A no-match round is an identity,
    // so engine and oracle agree on any fixpoint reached in the bound
    "q_match_merge" -> {
      val (num, den) = (MatchMergeNum, MatchMergeDen)
      val rounds = (1 to MatchMerge.MaxRounds).map { k =>
        val prev = s"e${k - 1}"
        s"""p$k AS MATERIALIZED (
           |  SELECT a.eid AS ea, b.eid AS eb FROM $prev a JOIN $prev b ON a.eid < b.eid
           |  WHERE len(list_intersect(a.toks, b.toks)) * $den
           |    >= len(list_distinct(list_concat(a.toks, b.toks))) * $num),
           |adj$k AS (SELECT ea AS a, eb AS b FROM p$k
           |          UNION ALL SELECT eb, ea FROM p$k),
           |reach$k(id, r) AS (
           |  SELECT eid, eid FROM $prev
           |  UNION
           |  SELECT reach$k.id, adj$k.b FROM reach$k JOIN adj$k ON adj$k.a = reach$k.r),
           |cc$k AS MATERIALIZED (SELECT id, min(r) AS comp FROM reach$k GROUP BY id),
           |e$k AS MATERIALIZED (
           |  SELECT c.comp AS eid,
           |    list_sort(list_distinct(flatten(list(e.members)))) AS members,
           |    list_sort(list_distinct(flatten(list(e.toks)))) AS toks
           |  FROM $prev e JOIN cc$k c ON c.id = e.eid
           |  GROUP BY c.comp)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE prof AS MATERIALIZED (
         |  SELECT doc_id AS id,
         |    CASE doc_id % 3
         |      WHEN 0 THEN [b + 1, b + 2, b + 3, b + 4]
         |      WHEN 1 THEN [b + 3, b + 4, b + 5, b + 6]
         |      ELSE [b + 1, b + 2, b + 5, b + 6, b + 7, b + 8] END AS toks
         |  FROM (SELECT doc_id, (doc_id // 3) * 10 AS b FROM documents)),
         |e0 AS MATERIALIZED (
         |  SELECT id AS eid, [id] AS members, list_sort(list_distinct(toks)) AS toks
         |  FROM prof),
         |$rounds
         |SELECT unnest(members) AS id, eid AS entity_id,
         |  CAST(len(members) AS INT) AS n_members,
         |  CAST(len(toks) AS INT) AS n_toks
         |FROM e${MatchMerge.MaxRounds} ORDER BY id""".stripMargin
    }
  )

  /** Synthetic author surname per document — deterministic from doc_id,
    * built from the SAME pool expression in both engines (the PII-query
    * precedent). The pool is spelling-variant-rich so phonetic blocks
    * collide the way real name fields do; jackson/jaxon shares a code
    * at Levenshtein 3, exercising the verify step's reject branch. */
  private val AuthorPool: Seq[String] = Seq(
    "robert", "rupert", "ashcraft", "ashcroft", "tymczak", "tymczac",
    "pfister", "phister", "smith", "smyth", "smithe", "jackson", "jaxon",
    "meyer", "meier", "myer", "hanna", "hana", "white", "wight",
    "schmidt", "schmitt", "gauss", "gaus",
    // prefix-variant pairs: DIFFERENT first letter → different Soundex
    // codes, shared long suffix — caught by q_suffix_pairs and missed
    // by q_phonetic_pairs, the textbook complementarity of the two
    // schemes (Christen §4.8)
    "catherine", "katherine", "christina", "kristina",
    "jonathan", "johnathan")

  /** documents + `ptext` = text with the synthetic author appended. */
  private def phoneticDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("ptext", concat_ws(" ", col("text"),
      element_at(array(AuthorPool.map(lit): _*),
        (pmod(col("doc_id"), lit(AuthorPool.length)) + 1).cast("int"))))

  /** Shared construction for q_blocking_quality / q_blocking_scheme:
    * the phonetic vocabulary, the three scheme channels in evaluation
    * order, and the brute-force Levenshtein ≤ 2 truth set — each
    * checkpointed because every channel is read more than once
    * downstream (its own row/step plus the union/marginal algebra).
    * ONE definition so a channel tweak cannot desynchronize the two
    * queries (their SQL twins already share [[channelPairsCte]] for
    * exactly this reason). The truth crossJoin is a documented
    * diagnostic over the Heaps-sublinear vocabulary, not a pipeline
    * stage. */
  private def blockingChannels(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, DataFrame)], DataFrame) = {
    val b = blockChanResults(s, dir)
    (b.vocab, b.chans, b.truth)
  }

  /** The phonetic-vocabulary blocking layer, computed once per
    * (session, sfDir) with lazily-built members: the vocabulary, the
    * canopy assignment (its MIS rounds are iterative and were run by
    * BOTH q_canopy and each channel consumer), the three scheme
    * channels, and the brute-force Levenshtein truth set. Previously
    * q_blocking_quality, q_blocking_scheme and q_canopy each rebuilt
    * all of this from the raw documents per query line (~14 s of
    * triplicated work per sweep — guide §1.2 step 1). */
  private[graft] val blockChanResults = SessionMemo(new BlockChanLayer(_, _: String))

  private[graft] final class BlockChanLayer(s: SparkSession, dir: String) {
    import SessionMemo.persist
    lazy val vocab: DataFrame =
      Phonetic.vocabulary(phoneticDocs(s, dir), "ptext").localCheckpoint(true)
    /** canopy membership — shared by q_canopy and the canopy channel */
    lazy val canopies: DataFrame =
      persist(Canopy.canopies(Canopy.edges(vocab), vocab))
    lazy val ph: DataFrame = persist(Phonetic.candidatePairs(vocab)
      .select(col("tokA"), col("tokB")))
    lazy val sf: DataFrame = persist(SuffixBlocking.candidatePairs(vocab)
      .select(col("tokA"), col("tokB")))
    lazy val cn: DataFrame = persist(Canopy.candidatePairs(canopies))
    // the bounded 3-arg levenshtein (banded O(n·k) DP, −1 past the
    // bound) replaces the full O(n²) DP per pair — this brute-force
    // diagnostic evaluates |vocab|²/2 pairs, so the kernel is the
    // whole cost; the kept row set is identical
    lazy val truth: DataFrame = persist(vocab.select(col("tok").as("tokA"))
      .crossJoin(vocab.select(col("tok").as("tokB")))
      .where(col("tokA") < col("tokB") &&
        levenshtein(col("tokA"), col("tokB"), Phonetic.DefaultMaxLev) >= 0))
    def chans: Seq[(String, DataFrame)] =
      Seq("soundex" -> ph, "suffix" -> sf, "canopy" -> cn)
  }

  /** MinHash near-dup layer, computed once per (session, sfDir): the
    * banded (key, id) block index and the capped candidate pairs over
    * it. Five query lines consumed one or the other and each re-ran
    * the full shingle → signature → band pass over the corpus. */
  private[graft] val minHashResults = SessionMemo(new MinHashLayer(_, _: String))

  private[graft] final class MinHashLayer(s: SparkSession, dir: String) {
    lazy val keyed: DataFrame = SessionMemo.persist(
      Dedup.minHashKeyed(corpusDf(s, dir), "doc_id", "text"))
    lazy val pairs: DataFrame = SessionMemo.persist(
      CandidateGen.pairsFromKeys(keyed, Dedup.MinHashParams().cap))
  }

  private def authorSql: String =
    s"['${AuthorPool.mkString("','")}'][doc_id % ${AuthorPool.length} + 1]"

  /** q_match_merge threshold (Jaccard ≥ 1/3) — ONE definition, both the
    * Spark query and the oracle interpolate it. */
  private val MatchMergeNum = 1
  private val MatchMergeDen = 3

  /** q_match_merge's resolved entities, built once per session. */
  private val matchMergeResults = SessionMemo { (s, dir: String) =>
    SessionMemo.persist(
      MatchMerge.resolve(swooshProfiles(s, dir), MatchMergeNum, MatchMergeDen))
  }

  /** Deterministic chained feature profiles for q_match_merge: docs in
    * triples (g = doc_id div 3) get inner-left {b+1..b+4}, inner-right
    * {b+3..b+6}, outer {b+1,b+2,b+5,b+6,b+7,b+8} with b = g·10 — at
    * θ = 1/3 the inners match each other (2/6), the outer matches
    * NEITHER inner (2/8) but DOES match their union (4/8). The SQL
    * mirror lives in the q_match_merge oracle. */
  private def swooshProfiles(s: SparkSession, dir: String): DataFrame = {
    val b = expr("(doc_id DIV 3) * 10")
    val r = pmod(col("doc_id"), lit(3))
    docs(s, dir).select(col("doc_id").as("id"),
      when(r === 0, array(b + lit(1), b + lit(2), b + lit(3), b + lit(4)))
        .when(r === 1, array(b + lit(3), b + lit(4), b + lit(5), b + lit(6)))
        .otherwise(array(b + lit(1), b + lit(2), b + lit(5), b + lit(6),
          b + lit(7), b + lit(8))).as("toks"))
  }

  /** The letter-only token vocabulary (text words + synthetic author)
    * as CTE `v` — the ONE SQL rendering of [[Phonetic.vocabulary]],
    * shared by the Soundex and suffix-blocking oracles. */
  private def vocabCte: String =
    s"""v AS (
       |  SELECT DISTINCT unnest(regexp_extract_all(
       |    lower(concat_ws(' ', text, $authorSql)),
       |    '${graft.operators.Phonetic.TokenPattern}')) AS tok
       |  FROM documents)""".stripMargin

  /** DuckDB replay of suffix generation + purge as CTEs `sk` (key, id)
    * and `alive` (surviving keys) — the [[SuffixBlocking]] constants are
    * interpolated from their ONE definition. Body only (no `v`), so the
    * blocking-quality oracle can compose all three schemes over ONE
    * vocabulary CTE. */
  private def suffixBody: String =
    s"""sk AS MATERIALIZED (
       |  SELECT unnest([substr(tok, CAST(x AS INT))
       |      FOR x IN range(1, length(tok) - ${SuffixBlocking.MinSuffixLen} + 2)]) AS key,
       |    tok AS id
       |  FROM v WHERE length(tok) >= ${SuffixBlocking.MinSuffixLen}),
       |alive AS MATERIALIZED (
       |  SELECT key FROM sk GROUP BY key
       |  HAVING count(*) BETWEEN 2 AND ${SuffixBlocking.DefaultMaxBlock})""".stripMargin

  private def suffixCtes: String = s"$vocabCte,\n$suffixBody"

  /** The three blocking channels' pair CTEs (ph/sfp/cnp, capped/purged
    * exactly as the operators) + the Levenshtein truth `tv`, over the
    * shared vocabulary `v` — composed by BOTH the blocking-quality and
    * the blocking-scheme oracles. */
  private def channelPairsCte: String =
    s"""$soundexBody,
       |pk AS (SELECT code AS key, tok AS id FROM sx
       |  QUALIFY row_number() OVER (PARTITION BY code ORDER BY tok)
       |    <= ${Dedup.DefaultBlockCap}),
       |ph AS MATERIALIZED (
       |  SELECT a.id AS tokA, b.id AS tokB
       |  FROM pk a JOIN pk b ON a.key = b.key AND a.id < b.id),
       |$suffixBody,
       |sfp AS MATERIALIZED (
       |  SELECT DISTINCT a.id AS tokA, b.id AS tokB
       |  FROM sk a JOIN sk b ON a.key = b.key AND a.id < b.id
       |  JOIN alive v2 ON v2.key = a.key),
       |$canopyBody,
       |amc AS (SELECT center, member FROM allmem
       |  QUALIFY row_number() OVER (PARTITION BY center ORDER BY member)
       |    <= ${Dedup.DefaultBlockCap}),
       |cnp AS MATERIALIZED (
       |  SELECT DISTINCT m1.member AS tokA, m2.member AS tokB
       |  FROM amc m1 JOIN amc m2
       |    ON m1.center = m2.center AND m1.member < m2.member),
       |tv AS MATERIALIZED (
       |  SELECT a.tok AS tokA, b.tok AS tokB, TRUE AS hit
       |  FROM v a JOIN v b ON a.tok < b.tok
       |  WHERE levenshtein(a.tok, b.tok) <= ${Phonetic.DefaultMaxLev})""".stripMargin

  /** The greedy blocking-scheme chain replayed in SQL: per step, fresh
    * (not-yet-selected) candidate rows of the remaining channels, the
    * per-channel marginal counts (zero-row channels kept by the scheme
    * dimension), the pick via the SAME double-ratio order (IEEE division
    * of exact integer counts — identical in both engines; np = 0 → 0;
    * scheme-name tie-break), and the growing selected union. */
  private def blockingSchemeSteps(names: Seq[String]): String = {
    val k = names.size
    val steps = (1 to k).map { i =>
      val prevPicks = (1 until i).map(j => s"SELECT scheme FROM pick$j")
        .mkString(" UNION ALL ")
      val notPicked =
        if (i == 1) "TRUE" else s"c.scheme NOT IN ($prevPicks)"
      val dimNotPicked =
        if (i == 1) "TRUE" else s"s.scheme NOT IN ($prevPicks)"
      val freshCond =
        if (i == 1) ""
        else
          s"""
             |    AND NOT EXISTS (SELECT 1 FROM sel${i - 1} sl
             |      WHERE sl.tokA = c.tokA AND sl.tokB = c.tokB)""".stripMargin
      val selBody =
        if (i == 1)
          "SELECT c.tokA, c.tokB FROM chanS c JOIN pick1 p ON p.scheme = c.scheme"
        else
          s"""SELECT tokA, tokB FROM sel${i - 1}
             |    UNION ALL
             |    SELECT c.tokA, c.tokB FROM chanS c JOIN pick$i p ON p.scheme = c.scheme""".stripMargin
      s"""f$i AS MATERIALIZED (
         |  SELECT c.scheme, c.tokA, c.tokB FROM chanS c
         |  WHERE $notPicked$freshCond),
         |ev$i AS MATERIALIZED (
         |  SELECT s.scheme, $i AS step,
         |    coalesce(q.np, 0) AS np, coalesce(q.mt, 0) AS mt
         |  FROM schemes s LEFT JOIN (
         |    SELECT f.scheme, CAST(count(*) AS BIGINT) AS np,
         |      CAST(sum(CASE WHEN tv.hit THEN 1 ELSE 0 END) AS BIGINT) AS mt
         |    FROM f$i f LEFT JOIN tv USING (tokA, tokB)
         |    GROUP BY f.scheme) q USING (scheme)
         |  WHERE $dimNotPicked),
         |pick$i AS MATERIALIZED (
         |  SELECT scheme FROM ev$i
         |  QUALIFY row_number() OVER (ORDER BY
         |    CASE WHEN np = 0 THEN 0e0 ELSE mt * 1e0 / np END DESC, scheme) = 1),
         |sel$i AS MATERIALIZED (
         |  SELECT DISTINCT tokA, tokB FROM (
         |    $selBody))""".stripMargin
    }.mkString(",\n")
    val evs = (1 to k).map(i =>
      s"""SELECT e.step, e.scheme, e.mt, e.np,
         |  e.scheme = (SELECT scheme FROM pick$i) AS chosen FROM ev$i e""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""schemes AS (SELECT unnest([${names.sorted.map(n => s"'$n'").mkString(", ")}]) AS scheme),
       |$steps,
       |evall AS ($evs)""".stripMargin
  }

  /** Canopy replay body (no `v`): bigram sets, brute-force loose edges,
    * tight adjacency, the unrolled greedy-MIS center chain under
    * DuckDB's own md5‖id order, centers incl. isolated tokens, the
    * loose neighborhood `und`, and full membership `allmem`. Constants
    * interpolated from [[Canopy]]'s ONE definition. */
  private def canopyBody: String = {
    val rounds = (1 to PivotClustering.MaxRounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT u.id, u.pi FROM u${k - 1} u
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM adj a JOIN u${k - 1} w ON w.id = a.nb
         |    WHERE a.id = u.id AND w.pi < u.pi)),
         |u$k AS MATERIALIZED (
         |  SELECT u.* FROM u${k - 1} u
         |  WHERE u.id NOT IN (SELECT id FROM p$k)
         |    AND u.id NOT IN (
         |      SELECT a.id FROM adj a JOIN p$k p ON p.id = a.nb))""".stripMargin
    }.mkString(",\n")
    val allP = (1 to PivotClustering.MaxRounds)
      .map(k => s"SELECT id FROM p$k").mkString(" UNION ALL ")
    s"""d AS MATERIALIZED (
       |  SELECT tok, list_distinct(list_transform(range(1, length(tok)),
       |    i -> substr(tok, CAST(i AS INT), 2))) AS bg
       |  FROM v WHERE length(tok) >= 2),
       |e AS MATERIALIZED (
       |  SELECT a.tok AS idA, b.tok AS idB,
       |    CAST(len(list_intersect(a.bg, b.bg)) AS INT) AS isect,
       |    CAST(len(list_distinct(list_concat(a.bg, b.bg))) AS INT) AS union_n
       |  FROM d a JOIN d b ON a.tok < b.tok
       |  WHERE len(list_intersect(a.bg, b.bg)) * ${Canopy.LooseDen}
       |    >= len(list_distinct(list_concat(a.bg, b.bg))) * ${Canopy.LooseNum}),
       |adj AS MATERIALIZED (
       |  SELECT idA AS id, idB AS nb FROM e
       |  WHERE isect * ${Canopy.TightDen} >= union_n * ${Canopy.TightNum}
       |  UNION ALL
       |  SELECT idB, idA FROM e
       |  WHERE isect * ${Canopy.TightDen} >= union_n * ${Canopy.TightNum}),
       |u0 AS MATERIALIZED (SELECT DISTINCT id, md5(id) || id AS pi FROM adj),
       |$rounds,
       |piv AS MATERIALIZED ($allP),
       |centers AS MATERIALIZED (
       |  SELECT id AS center FROM piv
       |  UNION ALL
       |  SELECT tok FROM v WHERE tok NOT IN (SELECT id FROM u0)),
       |und AS (
       |  SELECT idA AS center, idB AS member, isect, union_n FROM e
       |  UNION ALL SELECT idB, idA, isect, union_n FROM e),
       |allmem AS (
       |  SELECT center, member FROM centers JOIN und USING (center)
       |  UNION ALL SELECT center, center AS member FROM centers)""".stripMargin
  }

  /** DuckDB replay of Spark's builtin `soundex` (classic American
    * Soundex with H/W TRANSPARENT — equal codes separated only by H/W
    * collapse: Ashcraft → A261) over the letter-only documents
    * vocabulary, as CTEs `sxd`/`sxc`/`sx` (tok, code) reading the
    * shared `v` vocabulary CTE: translate letters→codes with H/W→7,
    * drop the transparent 7s, collapse each digit's runs (DuckDB's RE2
    * regex has no backreferences, so one regexp_replace per digit
    * instead of '(\\d)\\1+'), drop the first letter's own leading code
    * group (unless the first letter was H/W — its 7 is already gone),
    * strip the vowel separators, then pad to 4. Verified equal to the
    * builtin on an edge-case battery in PhoneticSpec (who/hanna/
    * ashcraft/tymczak/pfister/zzyzx/...). Body only (no `v`), so the
    * blocking-quality oracle can compose the schemes over ONE
    * vocabulary CTE; [[soundexCtes]] prepends `v`. */
  private def soundexBody: String = {
    val collapsed = "0123456".foldLeft("replace(d, '7', '')") {
      (acc, dg) => s"regexp_replace($acc, '$dg+', '$dg', 'g')"
    }
    s"""sxd AS (
       |  SELECT tok,
       |    translate(upper(tok), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
       |      '01230127022455012623017202') AS d
       |  FROM v),
       |sxc AS (SELECT tok, d, $collapsed AS dc FROM sxd),
       |sx AS (
       |  SELECT tok,
       |    substr(upper(tok), 1, 1) || rpad(substr(replace(
       |      CASE WHEN substr(d, 1, 1) = '7' THEN dc ELSE substr(dc, 2) END,
       |      '0', ''), 1, 3), 3, '0') AS code
       |  FROM sxc)""".stripMargin
  }

  private def soundexCtes: String = s"$vocabCte,\n$soundexBody"
}

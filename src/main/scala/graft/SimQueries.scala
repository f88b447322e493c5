package graft

import graft.operators.{Multimodal, Similarity}
import graft.util.SessionMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search and multimodal queries over `embeddings.parquet` /
  * `documents.parquet`. Every kNN variant is DuckDB-oracle-checked:
  * brute force and full-probe IVF are recomputed from scratch by the
  * oracle engine, and the seeded-hash LSH / pruned-IVF variants are
  * recomputed from their dumped stage tables (bucket / inverted-file
  * assignments), with the cap + join + cosine + rank redone in SQL.
  * Outputs round cosine to 6dp so cross-engine float sums compare
  * exactly; ranking runs on full precision in both engines. ScalaTest
  * recall ladders against brute force cover approximation quality.
  */
object SimQueries {

  /** q_frame_samples stride — ONE definition for the Scala query and
    * the interpolated oracle SQL. */
  private val FrameStride = 10

  /** q_semdedup params — ONE definition for the Scala queries and the
    * interpolated oracle SQL. */
  private val SemNlist = 16
  private val SemMinCosine = 0.35

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Embedding dimensionality per (session, sfDir) — one head() probe
    * instead of one per lshBuckets call (q_knn_lsh buckets two sides,
    * q_embed_neardup a third; each probe was its own Spark job). */
  private val dims = SessionMemo { (s, dir: String) =>
    emb(s, dir).select(col("embedding")).head().getSeq[Float](0).length
  }
  private def embDim(s: SparkSession, dir: String): Option[Int] =
    Some(dims(s, dir))

  /** The deterministic IVF/k-means quantizer per (session, sfDir,
    * nlist) — q_knn_ivf, q_knn_ivf_full, the semantic-dedup layer and
    * the aux dumps all train the IDENTICAL seeded centroids; one
    * count+collect+Lloyd pass serves them all. */
  private val cents = SessionMemo { (s, key: (String, Int)) =>
    graft.operators.Similarity.trainCentroids(emb(s, key._1), key._2)
  }
  private def centroids(s: SparkSession, dir: String,
                        nlist: Int): Option[Array[Array[Float]]] =
    Some(cents(s, (dir, nlist)))

  /** Semantic-dedup pair table shared by q_semdedup_pairs and
    * q_semdedup_keepers — memoized per (session, sfDir) like the
    * edit-script dump, so the two queries train the quantizer and score
    * the within-cluster cosines once between them. Bench warms it as
    * its own `semdedup_build_sec` line so neither sweep line silently
    * absorbs the build. */
  private val semPairs = SessionMemo { (s, dir: String) =>
    SessionMemo.persist(Similarity.semDedupPairs(emb(s, dir), SemNlist,
      SemMinCosine, centsHint = centroids(s, dir, SemNlist)))
  }

  def warmSemDedup(spark: SparkSession, sfDir: String): Unit = {
    semPairs(spark, sfDir).count()
    ()
  }

  private def queriesOf(df: DataFrame, n: Int): DataFrame =
    df.where(col("vec_id") < n)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact brute-force cosine top-5 for the first 20 vectors; cosine is
    // rounded to 6dp in the OUTPUT only (ranking runs on full precision)
    // so the DuckDB oracle's independently computed cosines compare
    // exactly — cross-engine float sums agree far beyond 1e-6
    "q_knn_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteKnn(e, queriesOf(e, 20), k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH-bucketed approximate top-5 for the same queries; few plane
    // bits because these embeddings are weakly correlated (top-1 cosine
    // ~0.4 ⇒ P(bit agree) ~0.62) — more bits would empty the buckets.
    // Oracle-checked from the dumped bucket tables (cosine rounded to
    // 6dp in the OUTPUT only, like q_knn_brute)
    "q_knn_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshKnn(e, queriesOf(e, 20), k = 5, planeBits = 4, tables = 8,
          dimHint = embDim(s, dir))
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-indexed approximate top-5 (k-means coarse quantizer over a
    // bounded sample, nprobe-list probing) — the second ANN scale path.
    // Oracle-checked from the dumped inverted-file assignment tables
    "q_knn_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfKnn(e, queriesOf(e, 20), k = 5, nlist = 16, nprobe = 4,
          centsHint = centroids(s, dir, 16))
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF with nprobe = nlist probes every inverted list, which must
    // reproduce brute force EXACTLY — the driver oracle checks it
    // against its own independent kNN recompute
    "q_knn_ivf_full" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfKnn(e, queriesOf(e, 20), k = 5, nlist = 16, nprobe = 16,
          centsHint = centroids(s, dir, 16))
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // embedding-cosine near-dup pairs; threshold calibrated to the
    // synthetic embeddings (top-1 neighbor cosine is ~0.32-0.48, so
    // 0.35 marks the "unusually close" tail — real corpora would use
    // ~0.9 on normalized text embeddings)
    "q_embed_neardup" -> ((s, dir) => {
      Similarity.embeddingNearDupPairs(emb(s, dir), minCosine = 0.35,
          dimHint = embDim(s, dir))
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("idA"), col("idB"))
    }),

    // semantic dedup (SemDeDup): k-means cluster the embeddings, emit
    // within-cluster cosine-threshold pairs only — density-following
    // counterpart of the hyperplane-LSH q_embed_neardup. Oracle-checked
    // from the dumped cluster-assignment table (cap + pair algebra +
    // cosine + threshold redone in SQL)
    "q_semdedup_pairs" -> ((s, dir) => {
      semPairs(s, dir)
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("idA"), col("idB"))
    }),

    // semantic dedup survivors: transitive closure over the pair graph,
    // keep each component's minimum id (plus all singletons) — the
    // oracle recomputes the closure with a recursive CTE
    "q_semdedup_keepers" -> ((s, dir) => {
      graft.operators.Dedup.nearDupKeepers(emb(s, dir), "vec_id", semPairs(s, dir))
        .orderBy(col("vec_id"))
    }),

    // multimodal: binary assets + stub-decoded features
    "q_multimodal_features" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.extractFeatures(Multimodal.assets(docs)).toDF()
        .select(col("asset_id"), col("mime"), col("width"), col("height"), col("n_frames"))
        .orderBy(col("asset_id"))
    }),

    // multimodal: frame sampling plumbing for video assets
    "q_frame_samples" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = Multimodal.extractFeatures(Multimodal.assets(docs))
      Multimodal.sampleFrames(feats, FrameStride)
        .orderBy(col("asset_id"), col("frame_idx"))
    }),

    // multimodal: REAL image decode — genuine PNG payloads decoded back
    // with stdlib javax.imageio inside mapPartitions; the oracle
    // recomputes expected dims + gray sum from the dumped seeds with
    // independent SQL arithmetic, so a roundtrip discrepancy anywhere
    // (encoder, decoder, raster order, sample depth) hash-mismatches
    "q_image_decode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.decodeImages(Multimodal.pngAssets(docs)).toDF()
        .orderBy(col("asset_id"))
    }),

    // multimodal: REAL audio decode — genuine WAV payloads decoded back
    // with stdlib javax.sound.sampled; oracle twin of q_image_decode
    // (expected frame count + amplitude sum recomputed from the seeds)
    "q_audio_decode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.decodeAudio(Multimodal.wavAssets(docs)).toDF()
        .orderBy(col("asset_id"))
    }),

    // multimodal: REAL video container demux — genuine ISO-BMFF files
    // walked back by a real recursive box parser (stsz/mdhd); the
    // oracle recomputes frame count, frame-byte total, and duration
    // from the dumped seeds. Only the codec payload is fake.
    "q_video_demux" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.demuxVideo(Multimodal.mp4Assets(docs)).toDF()
        .orderBy(col("asset_id"))
    })
  )

  /** Auxiliary stage-table dumps for the DuckDB oracle: the sign-LSH
    * bucket tables (q_knn_lsh / q_embed_neardup params) and the IVF
    * inverted-file assignment tables (q_knn_ivf params). The seeded
    * hashes/centroids are engine-internal, but once the stage tables are
    * dumped the verification halves — cap, probe join, cosine, rank —
    * are redone independently by DuckDB. Params must match the query
    * entries above exactly; both call the same operator functions. */
  def dumpAux(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val e = emb(spark, sfDir)
    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    val dim = embDim(spark, sfDir)
    dump(Similarity.lshBuckets(e, planeBits = 4, tables = 8, dim),
      "lsh_corpus_buckets")
    dump(Similarity.lshBuckets(queriesOf(e, 20), planeBits = 4, tables = 8, dim),
      "lsh_query_buckets")
    dump(Similarity.lshBuckets(e, planeBits = 12, tables = 8, dim)
      .withColumnRenamed("bucket", "key"), "embed_keys")
    val (cl, ql) = Similarity.ivfAssignments(e, queriesOf(e, 20),
      nlist = 16, nprobe = 4, centsHint = centroids(spark, sfDir, 16))
    dump(cl, "ivf_corpus_lists")
    dump(ql, "ivf_query_lists")
    dump(Similarity.kmeansAssign(e, SemNlist,
      centroids(spark, sfDir, SemNlist)), "sem_lists")
    // per-asset stub-decode seed hash: the q_multimodal_features oracle
    // recomputes width/height/n_frames from it with independent
    // unsigned-shift/mod arithmetic
    locally {
      import spark.implicits._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val ad = Multimodal.assets(docs)
        .map(a => (a.asset_id, a.mime, Multimodal.decodeHash(a.n_bytes, a.mime)))
        .toDF("asset_id", "mime", "h")
      dump(ad, "asset_decode")
      // per-asset media seeds: each modality's roundtrip oracle
      // recomputes its expected values from these in pure SQL
      def dumpSeeds(name: String, f: Long => Long): Unit =
        dump(docs.select(col("doc_id").cast("long")).as[Long]
          .map(id => (id, f(id))).toDF("asset_id", "seed"), name)
      dumpSeeds("png_seeds", Multimodal.pngSeed)
      dumpSeeds("wav_seeds", Multimodal.wavSeed)
      dumpSeeds("mp4_seeds", Multimodal.mp4Seed)
    }
  }

  /** Cosine + per-query top-5 rank over a `cand(query_id, vec_id)` CTE —
    * the shared verification tail of the ANN oracles. */
  private def knnScoreSql: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |scored AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    list_cosine_similarity(ec.emb, eq.emb) AS cosine
      |  FROM cand JOIN e eq ON cand.query_id = eq.vec_id
      |            JOIN e ec ON cand.vec_id = ec.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
      |  FROM scored)
      |SELECT query_id, vec_id, round(cosine, 6) AS cosine, CAST(rnk AS INT) AS "rank"
      |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** DuckDB oracles: brute-force kNN is fully recomputed by the oracle
    * engine (its own cross join + cosine + window rank); the LSH / IVF
    * variants are recomputed from their dumped stage tables; frame
    * sampling is recomputed from the dumped features table ({OUT} = dump
    * dir, substituted by Verify). */
  private val bruteKnnSql =
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_cosine_similarity(c.ce, q.qe) AS cosine
        |  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
        |  FROM scored)
        |SELECT query_id, vec_id, round(cosine, 6) AS cosine, CAST(rnk AS INT) AS "rank"
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_knn_brute" -> bruteKnnSql,
    // full-probe IVF must equal brute force exactly
    "q_knn_ivf_full" -> bruteKnnSql,
    // LSH kNN: cap (keep lowest ids) + bucket join + distinct redone
    // from the dumped bucket tables, then the shared cosine+rank tail
    "q_knn_lsh" ->
      s"""WITH cb AS (
         |  SELECT bucket, id FROM read_parquet('{OUT}/_aux/lsh_corpus_buckets/*.parquet')
         |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= ${Similarity.LshKnnCap}),
         |qb AS (SELECT bucket, id AS query_id
         |       FROM read_parquet('{OUT}/_aux/lsh_query_buckets/*.parquet')),
         |cand AS (
         |  SELECT DISTINCT qb.query_id, cb.id AS vec_id
         |  FROM qb JOIN cb ON qb.bucket = cb.bucket
         |  WHERE qb.query_id <> cb.id),
         |$knnScoreSql""".stripMargin,
    // IVF kNN: probe join over the dumped inverted-file assignments
    "q_knn_ivf" ->
      s"""WITH cl AS (SELECT list, vec_id
         |            FROM read_parquet('{OUT}/_aux/ivf_corpus_lists/*.parquet')),
         |ql AS (SELECT list, query_id
         |       FROM read_parquet('{OUT}/_aux/ivf_query_lists/*.parquet')),
         |cand AS (
         |  SELECT DISTINCT ql.query_id, cl.vec_id
         |  FROM ql JOIN cl ON ql.list = cl.list
         |  WHERE ql.query_id <> cl.vec_id),
         |$knnScoreSql""".stripMargin,
    // embedding near-dup: capped pairs from the dumped LSH key table,
    // cosine recomputed by DuckDB, threshold on the 6dp-rounded value
    // (exactly the engine's predicate)
    "q_embed_neardup" ->
      s"""WITH k AS (
         |  SELECT key, id FROM read_parquet('{OUT}/_aux/embed_keys/*.parquet')
         |  QUALIFY row_number() OVER (PARTITION BY key ORDER BY id) <= ${Similarity.EmbedNearDupCap}),
        |cand AS (
        |  SELECT DISTINCT a.id AS idA, b.id AS idB
        |  FROM k a JOIN k b ON a.key = b.key AND a.id < b.id),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT c.idA, c.idB,
        |  round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
        |FROM cand c JOIN e ea ON c.idA = ea.vec_id JOIN e eb ON c.idB = eb.vec_id
        |WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= 0.35
        |ORDER BY idA, idB""".stripMargin,
    // semantic dedup: set-semantic cap (keep lowest ids per cluster) +
    // within-cluster pair algebra + cosine + 6dp-rounded threshold, all
    // redone from the dumped k-means assignment table
    "q_semdedup_pairs" ->
      s"""WITH k AS (
         |  SELECT list AS key, vec_id AS id
         |  FROM read_parquet('{OUT}/_aux/sem_lists/*.parquet')
         |  QUALIFY row_number() OVER (PARTITION BY list ORDER BY vec_id) <= ${Similarity.SemDedupCap}),
         |cand AS (
         |  SELECT DISTINCT a.id AS idA, b.id AS idB
         |  FROM k a JOIN k b ON a.key = b.key AND a.id < b.id),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
         |SELECT c.idA, c.idB,
         |  round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
         |FROM cand c JOIN e ea ON c.idA = ea.vec_id JOIN e eb ON c.idB = eb.vec_id
         |WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= $SemMinCosine
         |ORDER BY idA, idB""".stripMargin,
    // keepers: recursive-CTE transitive closure over the (already
    // oracle-checked) pair dump; component representative = min id
    "q_semdedup_keepers" ->
      """WITH RECURSIVE
        |  p AS (SELECT idA, idB FROM read_parquet('{OUT}/q_semdedup_pairs/*.parquet')),
        |  e AS (SELECT idA AS a, idB AS b FROM p UNION ALL SELECT idB, idA FROM p),
        |  nodes AS (SELECT vec_id AS id FROM embeddings),
        |  reach(id, r) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r)
        |SELECT DISTINCT min(r) AS vec_id FROM reach GROUP BY id
        |ORDER BY vec_id""".stripMargin,
    // stub-decode feature math recomputed from the dumped seed hashes:
    // Scala's (h >>> s) % m on an unsigned-interpreted 64-bit value is
    // redone as HUGEINT // 2^s % m after adding 2^64 to negative h
    "q_multimodal_features" ->
      """WITH a AS (
        |  SELECT asset_id, mime, h,
        |    h::HUGEINT + CASE WHEN h < 0
        |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS u
        |  FROM read_parquet('{OUT}/_aux/asset_decode/*.parquet'))
        |SELECT asset_id, mime,
        |  CAST(64 + (u // 256) % 192 AS INT) AS width,
        |  CAST(64 + (u // 65536) % 192 AS INT) AS height,
        |  CAST(CASE WHEN mime LIKE 'video%'
        |    THEN 1 + (u // 16777216) % 120 ELSE 1 END AS INT) AS n_frames
        |FROM a ORDER BY asset_id""".stripMargin,
    "q_frame_samples" ->
      s"""SELECT asset_id, frame_idx FROM (
         |  SELECT asset_id, CAST(unnest(range(0, n_frames, $FrameStride)) AS INT) AS frame_idx
         |  FROM read_parquet('{OUT}/q_multimodal_features/*.parquet')
         |  WHERE mime LIKE 'video%')
         |ORDER BY asset_id, frame_idx""".stripMargin,
    // real-PNG roundtrip: expected dims + gray sum recomputed from the
    // dumped seeds alone (same shift/mod arithmetic as the encoder,
    // row-gradient sum expanded via range()); the Spark side reports
    // what ImageIO actually DECODED, so the compare proves the payloads
    // are real images that roundtrip exactly
    "q_image_decode" ->
      """WITH s AS (
        |  SELECT asset_id, seed::HUGEINT + CASE WHEN seed < 0
        |    THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS u
        |  FROM read_parquet('{OUT}/_aux/png_seeds/*.parquet')),
        |d AS (
        |  SELECT asset_id,
        |    CAST(64 + (u // 256) % 192 AS BIGINT) AS width,
        |    CAST(64 + (u // 65536) % 192 AS BIGINT) AS height,
        |    CAST((u // 4294967296) % 256 AS BIGINT) AS g0
        |  FROM s),
        |px AS (
        |  SELECT asset_id, width, height, g0,
        |    CAST(unnest(range(0, height)) AS BIGINT) AS y
        |  FROM d)
        |SELECT asset_id, CAST(any_value(width) AS INT) AS width,
        |  CAST(any_value(height) AS INT) AS height,
        |  CAST(sum(((g0 + y) % 256) * width) AS BIGINT) AS sum_gray
        |FROM px GROUP BY asset_id ORDER BY asset_id""".stripMargin,
    // real-WAV roundtrip: expected frame count + unsigned amplitude sum
    // recomputed from the dumped seeds (stride-7 ramp expanded via
    // range()); the Spark side reports what AudioSystem actually DECODED
    "q_audio_decode" ->
      """WITH s AS (
        |  SELECT asset_id, seed::HUGEINT + CASE WHEN seed < 0
        |    THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS u
        |  FROM read_parquet('{OUT}/_aux/wav_seeds/*.parquet')),
        |d AS (
        |  SELECT asset_id,
        |    CAST(256 + (u // 256) % 1024 AS BIGINT) AS n_samples,
        |    CAST((u // 65536) % 256 AS BIGINT) AS s0
        |  FROM s),
        |amp AS (
        |  SELECT asset_id, n_samples, s0,
        |    CAST(unnest(range(0, n_samples)) AS BIGINT) AS t
        |  FROM d)
        |SELECT asset_id, CAST(any_value(n_samples) AS BIGINT) AS n_samples,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(sum((s0 + 7 * t) % 256) AS BIGINT) AS sum_amp
        |FROM amp GROUP BY asset_id ORDER BY asset_id""".stripMargin,
    // real-MP4 demux: expected frame count, frame-byte total, and
    // duration recomputed from the dumped seeds (stride-13 size ramp
    // expanded via range()); the Spark side reports what the box parser
    // actually RECOVERED from the container
    "q_video_demux" ->
      """WITH s AS (
        |  SELECT asset_id, seed::HUGEINT + CASE WHEN seed < 0
        |    THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS u
        |  FROM read_parquet('{OUT}/_aux/mp4_seeds/*.parquet')),
        |d AS (
        |  SELECT asset_id,
        |    CAST(8 + (u // 256) % 56 AS BIGINT) AS n_frames,
        |    CAST((u // 65536) AS HUGEINT) AS s16
        |  FROM s),
        |fr AS (
        |  SELECT asset_id, n_frames, s16,
        |    CAST(unnest(range(0, n_frames)) AS BIGINT) AS i
        |  FROM d)
        |SELECT asset_id, CAST(any_value(n_frames) AS INT) AS n_frames,
        |  CAST(sum(64 + (s16 + 13 * i) % 192) AS BIGINT) AS sum_frame_bytes,
        |  CAST(1000 AS INT) AS timescale,
        |  CAST(any_value(n_frames) * 100 AS BIGINT) AS duration
        |FROM fr GROUP BY asset_id ORDER BY asset_id""".stripMargin)
}

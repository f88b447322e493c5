package graft

import graft.model.FileRow
import graft.operators._
import graft.sources.CorpusGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` over a fresh temp directory and deletes it afterwards. */
  def withTempRoot[T](prefix: String)(body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(root.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val result: Pipeline.Result = {
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001")
    Pipeline.run(spark, files)
  }

  test("corpus generation is deterministic and non-degenerate") {
    val f1 = CorpusGen.fileFor(42L)
    val f2 = CorpusGen.fileFor(42L)
    assert(f1 == f2)
    // members of one group are near-identical but not equal
    val a = CorpusGen.fileFor(0L)
    val b = CorpusGen.fileFor(1L)
    if (a.groupId == b.groupId) assert(a.content != b.content)
  }

  test("pairwise F1 >= 0.99 on labeled candidate pairs (BASELINE gate)") {
    val f1row = Pipeline.pairwiseF1(result.scores, result.trees).head()
    val f1 = f1row.getAs[Double]("f1")
    assert(f1 >= 0.99, s"pairwise F1 $f1 below gate; row=$f1row")
  }

  test("blocking recall: every intra-group pair is a candidate pair") {
    import spark.implicits._
    val labeled = result.trees.toDF().select($"id", $"groupId").where($"groupId" >= 0)
    val truePairs = labeled.as("a").join(labeled.as("b"),
        $"a.groupId" === $"b.groupId" && $"a.id" < $"b.id")
      .select($"a.id".as("idA"), $"b.id".as("idB"))
    val missed = truePairs.join(result.pairs, Seq("idA", "idB"), "left_anti").count()
    val total = truePairs.count()
    assert(total > 0)
    assert(missed.toDouble / total <= 0.01, s"$missed of $total true pairs not blocked together")
  }

  test("cluster equivalence: pipeline clusters == ground-truth groups") {
    import spark.implicits._
    // canonicalize both sides to (member -> min member id of its set)
    val truth = result.trees.toDF().select($"id", $"groupId")
      .groupBy($"groupId").agg(min($"id").as("rep"), collect_list($"id").as("ids"))
      .select(explode($"ids").as("id"), $"rep")
    val got = result.clusters.select($"id", $"clusterId")
    val joined = truth.join(got, "id")
    val total = joined.count()
    val mismatched = joined.where($"rep" =!= $"clusterId").count()
    assert(total == result.trees.count())
    assert(mismatched == 0, s"$mismatched of $total rows in wrong cluster")
  }

  test("sha256 per-row invariant carried through the pipeline (input_hint)") {
    import spark.implicits._
    val files = CorpusGen.corpus(spark, "/root/testdata/sf0.001")
    val recomputed = files.toDF()
      .select(expr("sha2(content, 256)").as("sha_spark"),
        lit(null).cast("string").as("x"), $"repo", $"path", $"commit")
    // Spark sha2 must agree with our kernel-side Hashing.sha256Hex
    val kernelSide = files.map(f =>
      (f.repo, f.path, f.commit, graft.util.Hashing.sha256Hex(f.content)))
      .toDF("repo", "path", "commit", "sha_kernel")
    val cmp = recomputed.join(kernelSide, Seq("repo", "path", "commit"))
      .where($"sha_spark" =!= $"sha_kernel").count()
    assert(cmp == 0)
    // and the parse stage carried it through unchanged
    val viaTrees = result.trees.toDF().select($"id", $"sha256")
    val raw = files.map(f => (graft.util.Hashing.rowId128Hex(f.repo, f.path, f.commit),
      graft.util.Hashing.sha256Hex(f.content))).toDF("id", "sha_raw")
    assert(viaTrees.join(raw, "id").where($"sha256" =!= $"sha_raw").count() == 0)
  }

  test("per-partition lineage covers the parse AND score stages") {
    import spark.implicits._
    val stages = result.metrics.select($"stage").distinct()
      .collect().map(_.getString(0)).toSet
    assert(stages == Set("parse", "score"), s"got $stages")
    // parse lineage accounts for every input file
    val parsed = result.metrics.where($"stage" === "parse")
      .agg(org.apache.spark.sql.functions.sum($"rowsIn")).head().getLong(0)
    assert(parsed == result.trees.count())
  }

  test("score stage: the banded kernel walks at most a fifth of the relative-band DP cells") {
    import spark.implicits._
    // summed as er_metrics does: max per partition (attempts), then sum
    val row = result.metrics.where($"stage" === "score")
      .groupBy($"partitionId").agg(max($"pairsScored").as("p"), max($"dpCells").as("c"))
      .agg(sum($"p"), sum($"c")).head()
    val (pairs, cells) = (row.getLong(0), row.getLong(1))
    // a kernel with only the relative band |x−y| ≤ τ·(nA+nB) and no
    // ladder scored this corpus in RelativeBandCells cells
    assert(pairs == PipelineSpec.ScoredPairs, s"pairs=$pairs cells=$cells")
    assert(cells * 5 <= PipelineSpec.RelativeBandCells,
      s"$cells DP cells, relative band alone ${PipelineSpec.RelativeBandCells}")
  }

  test("connected components on a known graph (chain, triangle, singleton)") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12 (+edge 11-12), singleton 99
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("idA", "idB")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val cc = Clustering.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("connected components label by Spark's string order, not Java's") {
    import spark.implicits._
    // U+FFFF sorts before U+1F600 in UTF-8 bytes (Spark), after its
    // surrogate pair in UTF-16 units (Java `String.compareTo`)
    val (bmp, emoji) = ("\uFFFF", "\uD83D\uDE00")
    assert(emoji.compareTo(bmp) < 0)
    val cc = Clustering.connectedComponents(Seq((emoji, bmp)).toDF("idA", "idB"),
      Seq(bmp, emoji).toDF("id"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map(bmp -> bmp, emoji -> bmp))
  }

  test("entry returns non-empty clusters") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

object PipelineSpec {
  /** Score-stage totals on the sf0.001 corpus at the default config. */
  val ScoredPairs = 326L
  val RelativeBandCells = 77584131L
}

package graft.tools

import graft._
import org.apache.spark.sql.SparkSession

/** Plan auditor: prints formatted physical plans for headline queries so
  * pushdown/pruning/broadcast regressions are visible at a glance. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q1_agg", "q3_topn", "q_doc_stats")) {
      println(s"===== $q =====")
      println(SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    println("===== ER: candidate pair generation (window+groupBy share one exchange) =====")
    val trees = graft.operators.ParseStage.parse(graft.sources.CorpusGen.corpus(spark, dir))
    val pairs = graft.operators.Blocking.candidatePairs(trees)
    println(pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println("===== ER: scoring input (two tree-fetch equi-joins + explicit repartition) =====")
    // mirror the pipeline: pairs are persisted (the pipeline reads them
    // more than once), so the probe side shows as InMemoryRelation
    val cachedPairs = pairs.persist()
    val pt = graft.operators.Scoring.attachTrees(cachedPairs, trees)
    println(pt.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println("===== ANN: LSH kNN (capped buckets) and IVF kNN (broadcast probe) =====")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val qv = e.where(org.apache.spark.sql.functions.col("vec_id") < 20)
    println(graft.operators.Similarity.lshKnn(e, qv, k = 5, planeBits = 4, tables = 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    println(graft.operators.Similarity.ivfKnn(e, qv, k = 5, nlist = 16, nprobe = 4)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    println("===== corpus scan (docs column pruning) =====")
    graft.sources.CorpusGen.corpus(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).linesIterator
      .filter(l => l.contains("ReadSchema") || l.contains("Scan")).foreach(println)
    spark.stop()
  }
}

package graft

import graft.model.PartMetrics
import graft.operators.{Blocking, ParseStage, Scoring}
import graft.sources.CorpusGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Scored-candidate-pairs/sec measurement — the BASELINE.json north-star
  * metric, isolated from parse/blocking so the number is the scoring
  * stage itself.
  *
  * Cluster-size scaling (north_rule: efficiency ≥ 0.8 from N to 4N
  * executors) is evidenced in this sandbox by running THIS main at
  * SPARK_GRAFT_CPUS=8 and =32 on the same input (per the driver's
  * instruction — no real cluster available) and comparing pairs/sec;
  * results land in BENCH.md / BASELINE.md.
  */
object ScalingBench {

  final case class ScoreThroughput(pairs: Long, cells: Long, wallSec: Double) {
    def pairsPerSec: Double = if (wallSec > 0) pairs / wallSec else 0.0
    def cellsPerSec: Double = if (wallSec > 0) cells / wallSec else 0.0
  }

  /** Build pair inputs (parse + block + tree fetch), materialize them,
    * then time ONLY the mapPartitions DP over all candidate pairs. */
  def measure(spark: SparkSession, sfDir: String, mult: Int): ScoreThroughput = {
    Pipeline.tune(spark)
    val files = CorpusGen.corpus(spark, sfDir, mult)
    val trees = ParseStage.parse(files).persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = Blocking.candidatePairs(trees).persist(StorageLevel.MEMORY_AND_DISK)
    val pairTrees = Scoring.attachTrees(pairs, trees).persist(StorageLevel.MEMORY_AND_DISK)
    pairTrees.count() // materialize inputs outside the timed region
    val tau = Pipeline.Config().tau

    // warmup pass: JIT-compile the kernel + fault the cache in, untimed;
    // then best-of-3 timed iterations (the sandbox host is shared, so
    // single runs catch multi-second stragglers unrelated to the code)
    Scoring.score(pairTrees, tau, None).toDF().count()

    val iters = (1 to 3).map { _ =>
      val acc = new org.apache.spark.util.CollectionAccumulator[PartMetrics]
      spark.sparkContext.register(acc, "graft.bench.score")
      val t0 = System.nanoTime()
      Scoring.score(pairTrees, tau, Some(acc)).toDF().count()
      val wall = (System.nanoTime() - t0) / 1e9
      val ms = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
      if (sys.env.contains("GRAFT_BENCH_DEBUG")) {
        val walls = ms.map(_.wallNs / 1e9).toSeq.sorted
        System.err.println(f"[bench] tasks=${ms.size} wall p50=${walls(walls.size / 2)}%.2f " +
          f"max=${walls.last}%.2f sum=${walls.sum}%.2f | total=$wall%.2f")
      }
      ScoreThroughput(
        pairs = ms.map(_.pairsScored).sum,
        cells = ms.map(_.dpCells).sum,
        wallSec = wall)
    }
    val out = iters.minBy(_.wallSec)
    trees.unpersist()
    pairs.unpersist()
    pairTrees.unpersist()
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val mult = sys.env.getOrElse("GRAFT_BENCH_MULT", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = measure(spark, sfDir, mult)
    println(f"""{"cpus":$cpus,"sf":"$sfDir","mult":$mult,"pairs":${r.pairs},""" +
      f""""dp_cells":${r.cells},"wall_sec":${r.wallSec}%.3f,""" +
      f""""pairs_per_sec":${r.pairsPerSec}%.1f,"dp_cells_per_sec":${r.cellsPerSec}%.3e}""")
    spark.stop()
  }
}

package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import scala.collection.immutable.ListMap

/** Runs one workload and prints, as its last line, one JSON object:
  * `correct`, `attempted`, `failed`, `metrics` (every end-to-end metric
  * untraced, every per-layer metric with `--trace 1`), `signature` and
  * `measured_s`.
  *
  *   perfbench.Main --workload W --seed N --trace 0|1 --work DIR
  *     [--docs N] [--recorded FILE] [--spans FILE]
  */
object Main {
  val EndToEnd = Seq("setup_s" -> "s", "op_p50_s" -> "s", "pass_s" -> "s",
    "peak_storage_bytes" -> "bytes", "cluster_pair_recall" -> "ratio",
    "cluster_pair_precision" -> "ratio")

  val PerLayer: Seq[(String, String)] =
    (for (l <- Layers.Names; (f, u) <- Layers.Fields) yield s"$l.$f" -> u) ++ Seq(
      "spark.gc_s" -> "s", "spark.failed_tasks" -> "count",
      "block.candidate_pairs" -> "count", "kernel.pairs" -> "count",
      "kernel.dp_cells" -> "count", "kernel.cells_per_cpu_s" -> "1/s",
      "kernel.match_frac" -> "ratio", "kernel.band_cutoff_frac" -> "ratio",
      "kernel.task_skew" -> "ratio", "cc.clusters" -> "count",
      "stream.state_bytes_written" -> "bytes") ++
      Reads.Mix.map(q => s"query.$q.wall_s" -> "s") ++
      Seq("unattributed_s" -> "s", "trace_overhead_frac" -> "ratio")

  val Workloads: Map[String, (Ctx, Tally) => Unit] = Map(
    "batch_cold" -> BatchCold.run, "stream_ingest" -> StreamIngest.run)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = Workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val trace = a("trace") == "1"
    val work = new java.io.File(a("work")).getAbsoluteFile
    a.get("recorded").foreach(f => Recorded.load(new java.io.File(f)))
    // one core is left to the query-planning thread, the JIT and the collector:
    // with a task thread on every core they queued behind the tasks, and
    // the spread of op and pass walls from run to run about doubled
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val spark = SparkSession.builder()
      .appName(s"perfbench ${a("workload")}")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // room for every class the pipeline generates: at the default 100
      // entries warm batches re-compile (and re-JIT) evicted classes,
      // which made them 20-35% slower and about three times as noisy
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(spark.sparkContext)
    // set-up starts with the process: JVM and session start are paid once
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionSecs = (System.currentTimeMillis() - started) / 1e3
    val ctx = new Ctx(spark, probe, tracer, a("seed").toLong, trace,
      a.get("docs").map(_.toInt), work)
    val tally = new Tally
    Tally.log(f"session ready ${sessionSecs}%.2f s after JVM start")
    try workload(ctx, tally)
    finally {
      probe.sync()
      a.get("spans").filter(_ => trace).foreach(f => tracer.write(new java.io.File(f)))
    }
    if (trace) tally.metrics("spark.failed_tasks") = probe.failedTasks.toDouble
    else tally.metrics("setup_s") = sessionSecs + tally.metrics("setup_s")
    Tally.log("stopping")
    spark.stop()
    val wanted = if (trace) PerLayer else EndToEnd
    val missing = if (trace) Nil else wanted.map(_._1).filterNot(tally.metrics.contains)
    require(missing.isEmpty, s"metrics not measured: $missing")
    val metrics = ListMap(wanted.map { case (name, unit) =>
      val v = tally.metrics.getOrElse(name, 0.0)
      require(!v.isNaN && !v.isInfinite, s"$name is not a number: $v")
      name -> ListMap("value" -> v, "unit" -> unit)
    }: _*)
    implicit val formats: Formats = DefaultFormats
    println(Serialization.write(ListMap(
      "correct" -> (tally.failed == 0 && tally.attempted > 0),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> metrics,
      "signature" -> tally.signature,
      "measured_s" -> tally.measured)))
  }
}

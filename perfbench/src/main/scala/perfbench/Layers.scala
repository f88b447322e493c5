package perfbench

import perfbench.Probe.StageRec
import scala.collection.mutable.ArrayBuffer

/** The per-layer table of a traced run. Layers take the program's module
  * names; every traced op is a span of layer `op` whose children are the
  * layer spans, so the rows plus `unattributed_s` add up to the traced
  * wall, the sum of the `op` spans. Values are totals over the run. */
object Layers {
  val Names = Seq("scan", "parse", "block", "attach", "kernel", "threshold", "cc", "stream",
    "query", "spark")
  val Fields = Seq("wall_s" -> "s", "task_cpu_s" -> "s", "core_util" -> "ratio",
    "jobs" -> "count", "stages" -> "count", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes")

  /** The Zhang-Shasha DP runs in the stage that holds the scorer's typed
    * `mapPartitions`; every other stage of `scores` fetches trees. Stages
    * that scan a persisted frame list the mapPartitions of its lineage
    * (the parser's, or the scorer's once `scores` is cached) without
    * running it, so they are not the kernel. */
  def isKernel(s: StageRec): Boolean =
    s.scopes.contains("MapPartitions") && !s.scopes.contains("InMemoryTableScan")

  private final class Row {
    var wall = 0.0
    var jobs = 0
    val stages = ArrayBuffer.empty[StageRec]
    def add(w: Double, j: Int, st: Seq[StageRec]): Unit = { wall += w; jobs += j; stages ++= st }
  }

  def table(spans: Seq[Span], probe: Probe, cores: Int): Map[String, Double] = {
    val roots = spans.filter(_.layer == "op")
    val rootIds = roots.map(_.id).toSet
    val rows = Names.map(_ -> new Row).toMap
    for (k <- spans if rootIds(k.parent)) {
      val st = probe.stagesOf(Set(k.id))
      val jobs = probe.jobsOf(Set(k.id))
      if (k.layer == "scores") {
        val (kern, fetch) = st.partition(isKernel)
        val kWall = math.min(k.secs, kern.map(_.wallMs).sum / 1e3)
        val kJobs = kern.map(_.job).distinct.size
        rows("kernel").add(kWall, kJobs, kern)
        rows("attach").add(k.secs - kWall, jobs - kJobs, fetch)
      } else rows(k.layer).add(k.secs, jobs, st)
    }
    val traced = spans.filter(s => rootIds(s.id) || rootIds(s.parent)).map(_.id).toSet
    val wall = roots.map(_.secs).sum
    rows("spark").add(wall, probe.jobsOf(traced), probe.stagesOf(traced))
    val out = for ((name, r) <- rows.toSeq; (field, _) <- Fields) yield {
      val run = r.stages.map(_.runMs).sum / 1e3
      s"$name.$field" -> (field match {
        case "wall_s" => r.wall
        case "task_cpu_s" => r.stages.map(_.cpuNs).sum / 1e9
        case "core_util" => if (r.wall > 0) run / (r.wall * cores) else 0.0
        case "jobs" => r.jobs.toDouble
        case "stages" => r.stages.size.toDouble
        case "shuffle_read_bytes" => r.stages.map(_.shuffleRead).sum.toDouble
        case "shuffle_write_bytes" => r.stages.map(_.shuffleWrite).sum.toDouble
        case "spill_bytes" => r.stages.map(_.spill).sum.toDouble
      })
    }
    val layered = rows.toSeq.collect { case (l, r) if l != "spark" => r.wall }.sum
    val sparkStages = rows("spark").stages
    (out ++ Seq(
      "unattributed_s" -> (wall - layered),
      "spark.gc_s" -> sparkStages.map(_.gcMs).sum / 1e3)).toMap
  }

  /** Max over median task time of the DP stages (1 when balanced). */
  def kernelSkew(spans: Seq[Span], probe: Probe): Double = {
    val ids = spans.filter(_.layer == "scores").map(_.id).toSet
    val skews = probe.stagesOf(ids).filter(isKernel).map { s =>
      val t = s.taskMs.sorted
      if (t.isEmpty) 1.0 else t.last.toDouble / math.max(1L, t(t.size / 2))
    }
    if (skews.isEmpty) 0.0 else skews.sum / skews.size
  }
}

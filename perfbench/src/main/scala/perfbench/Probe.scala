package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Stage, task and storage facts from Spark's own listener bus. Jobs are
  * tied to a benchmark span through the [[Probe.SpanKey]] local property
  * that [[Tracer]] sets around each traced call; jobs started outside a
  * traced call carry span -1. */
final class Probe(sc: SparkContext) extends SparkListener {
  import Probe._

  private val spanOfStage = mutable.Map.empty[Int, Int]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val open = mutable.Map.empty[(Int, Int), StageRec]
  private val done = mutable.ArrayBuffer.empty[StageRec]
  private val jobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val blocks = mutable.Map.empty[(String, RDDBlockId), Long]
  private var stored = 0L
  private var peak = 0L
  private var failed = 0L
  private val activeJobs = mutable.Set.empty[Int]
  private var runningTasks = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(span) += 1
    activeJobs += e.jobId
    e.stageIds.foreach { s =>
      spanOfStage(s) = span
      jobOfStage.getOrElseUpdate(s, e.jobId)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    open((i.stageId, i.attemptNumber())) = new StageRec(i.stageId,
      jobOfStage.getOrElse(i.stageId, -1), spanOfStage.getOrElse(i.stageId, -1),
      i.rddInfos.flatMap(_.scope.map(_.name)).toSet)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(activeJobs -= e.jobId)

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized(runningTasks += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    runningTasks -= 1
    if (e.reason != Success) failed += 1
    val m = e.taskMetrics
    open.get((e.stageId, e.stageAttemptId)).foreach { r =>
      r.taskMs += e.taskInfo.duration
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.diskBytesSpilled
        r.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    open.remove((i.stageId, i.attemptNumber())).foreach { r =>
      r.wallMs = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      done += r
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    i.blockId.asRDDId.foreach { id =>
      val key = (i.blockManagerId.executorId, id)
      val size = i.memSize + i.diskSize
      stored += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      peak = math.max(peak, stored)
    }
  }

  /** Unpersisting an RDD drops its blocks without a block update per
    * block, so its blocks leave the count here. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_._2.rddId == e.rddId).toList.foreach(k => stored -= blocks.remove(k).get)
  }

  /** Completed stages of the given spans. */
  def stagesOf(spans: Set[Int]): Seq[StageRec] = synchronized(done.filter(r => spans(r.span)).toList)
  def jobsOf(spans: Set[Int]): Int = synchronized(spans.toSeq.map(jobs).sum)
  def failedTasks: Long = synchronized(failed)

  /** Bytes stored now and at the high-water mark, once every event posted
    * so far has been handled. */
  def storedBytes: Long = { sync(); synchronized(stored) }
  def peakStoredBytes: Long = { sync(); synchronized(peak) }
  /** Restart the storage high-water mark from what is stored now. */
  def resetPeak(): Unit = { sync(); synchronized { peak = stored } }
  /** RDDs with blocks stored now. */
  def storedRdds: Set[Int] = { sync(); synchronized(blocks.keys.map(_._2.rddId).toSet) }
  /** No job is active and no task runs. */
  def idle: Boolean = { sync(); synchronized(activeJobs.isEmpty && runningTasks == 0) }

  /** Block until every event posted so far has been handled. Never call
    * it holding this listener's lock: the bus thread needs the lock. */
  def sync(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

object Probe {
  val SpanKey = "perfbench.span"

  final class StageRec(val id: Int, val job: Int, val span: Int, val scopes: Set[String]) {
    var wallMs, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, output = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
}

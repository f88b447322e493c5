package graft.util

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque}
import org.apache.commons.io.FileUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** A shared layer, built once per (session, key) and read by every
  * query over it: the first call builds, later calls with the same
  * session and key return the same instance. Keyed by the session too:
  * a persisted Dataset is bound to the session that built it, so a
  * second session in the same JVM gets its own build. */
final class SessionMemo[K, V] private (build: (SparkSession, K) => V) {
  private val built = TrieMap.empty[(SparkSession, K), V]

  def apply(spark: SparkSession, key: K): V =
    built.getOrElseUpdate((spark, key), build(spark, key))

  private def evict(spark: SparkSession): Unit =
    built.keys.foreach(k => if (k._1 eq spark) built.remove(k))
}

/** Builds, persists and releases the session memos. A build persists
  * its frames through [[persist]] and takes scratch space from
  * [[tempDir]]; [[release]] undoes both for one session and evicts its
  * entries from every memo.
  *
  * Only what a persisted frame reads is tracked: every iterative
  * operator but the `TruthDiscovery` fixpoints unpersists the rounds
  * it supersedes through [[unpersist]], and the checkpointed frames a
  * layer keeps without persisting them (those fixpoints) are not
  * released here. */
object SessionMemo {
  private val memos = new ConcurrentLinkedDeque[SessionMemo[_, _]]()
  /** Per session, what [[release]] runs, newest first. */
  private val held = TrieMap.empty[SparkSession, ConcurrentLinkedDeque[() => Unit]]
  private val liveDirs = ConcurrentHashMap.newKeySet[File]()
  sys.addShutdownHook(liveDirs.forEach(d => FileUtils.deleteQuietly(d)))

  def apply[K, V](build: (SparkSession, K) => V): SessionMemo[K, V] = {
    val m = new SessionMemo(build)
    memos.add(m)
    m
  }

  /** Persists `ds` at the one level every layer uses, and unpersists it
    * when its session is released. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    onRelease(ds.sparkSession)(unpersist(ds))
    ds.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Unpersists `ds` and the RDDs its plan reads that an operator
    * persisted, such as the last round of a `localCheckpoint`ed loop. */
  def unpersist(ds: Dataset[_]): Unit = {
    ds.unpersist(blocking = true)
    val seen = scala.collection.mutable.Set.empty[Int]
    def lineage(r: RDD[_]): Unit = if (seen.add(r.id)) {
      if (r.getStorageLevel != StorageLevel.NONE) r.unpersist(blocking = true)
      r.dependencies.foreach(d => lineage(d.rdd))
    }
    ds.queryExecution.analyzed.foreach {
      case l: LogicalRDD => lineage(l.rdd)
      case _ =>
    }
  }

  /** A fresh temp dir, deleted when `spark` is released or, failing
    * that, when the JVM exits. */
  def tempDir(spark: SparkSession, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    liveDirs.add(dir)
    onRelease(spark) { FileUtils.deleteQuietly(dir); liveDirs.remove(dir) }
    dir.toString
  }

  /** Runs `action` when `spark` is released: for what a build holds
    * that it did not persist through [[persist]]. */
  def onRelease(spark: SparkSession)(action: => Unit): Unit =
    held.getOrElseUpdate(spark, new ConcurrentLinkedDeque[() => Unit]())
      .addFirst(() => action)

  /** Evicts `spark`'s entries from every memo, then unpersists the
    * frames its builds persisted and deletes their temp dirs. */
  def release(spark: SparkSession): Unit = {
    memos.forEach(_.evict(spark))
    held.remove(spark).foreach(_.forEach(_()))
  }
}

package graft

import graft.util.SessionMemo
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** The one memo every shared layer goes through: one build per
  * (session, key), a separate build per session, and `release` leaving
  * nothing a session's layers hold behind — no memo entry, no RDD
  * persisted while they were built, no temp dir. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private final class Counted {
    val builds = new AtomicInteger()
    val memo = SessionMemo { (_, key: String) => builds.incrementAndGet(); new Object }
  }

  test("the same (session, key) returns the same instance, built once") {
    val c = new Counted
    val s = spark.newSession()
    val a = c.memo(s, "k")
    assert(c.memo(s, "k") eq a)
    assert(c.builds.get === 1)
    assert(c.memo(s, "other") ne a)
    assert(c.builds.get === 2)
    SessionMemo.release(s)
  }

  test("a new session gets its own build") {
    val c = new Counted
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val a = c.memo(s1, "k")
    val b = c.memo(s2, "k")
    assert(b ne a)
    assert(c.builds.get === 2)
    assert(c.memo(s2, "k") eq b)
    SessionMemo.release(s2)
    assert(c.memo(s1, "k") eq a, "releasing one session keeps the other's entry")
    SessionMemo.release(s1)
  }

  /** Ids of the persisted RDDs `df`'s plan reads. */
  private def readIds(df: DataFrame): Set[Int] = {
    val ids = mutable.Set.empty[Int]
    def lineage(r: RDD[_]): Unit = {
      if (r.getStorageLevel.isValid) ids += r.id
      r.dependencies.foreach(d => lineage(d.rdd))
    }
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => lineage(l.rdd)
      case _ =>
    }
    ids.toSet
  }

  /** Builds and forces the layers below in `s`, among them every
    * iterative operator that checkpoints its rounds: CC, Hash-to-Min,
    * CENTER, CC-Pivot, greedy 1:1 and match-merge. Returns the session's
    * temp dir and the persisted RDDs the frames read; no reference to a
    * layer outlives the call. */
  private def buildLayers(s: SparkSession): (java.io.File, Set[Int]) = {
    ErQueries.warm(s, dir)
    ErQueries.warmPq(s, dir)
    val r = ErQueries.results(s, dir)
    val pq = ErQueries.pqResults(s, dir)
    val snm = ErQueries.snmResults(s, dir)
    val m = ErQueries.metaResults(s, dir)
    val cl = ErQueries.clusterResults(s, dir)
    val link = ErQueries.linkResults(s, dir)
    val mm = SparkEntry.queries("q_match_merge")(s, dir)
    val frames = Seq(r.trees.toDF(), r.pairs, r.scores.toDF(), r.matches,
      r.clusters, pq.profiles, pq.blockKeys, pq.pairs, snm, m.weights,
      m.pruned, cl.hashmin, cl.center, cl.pivot, link.matched, mm)
    frames.foreach(_.count())
    val tmp = new java.io.File(SessionMemo.tempDir(s, "graft_memo_spec"))
    assert(tmp.isDirectory)
    (tmp, frames.flatMap(readIds).toSet)
  }

  /** Holds every RDD that stores a block while it listens. The context
    * cleaner unpersists an RDD once a GC finds it unreachable, which
    * would hide a round an operator persisted and then dropped; an RDD
    * held here stays persisted until something unpersists it. */
  private final class Pinned(sc: SparkContext) extends SparkListener {
    val rdds = TrieMap.empty[Int, RDD[_]]
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      for (id <- b.blockId.asRDDId if b.storageLevel.isValid && !rdds.contains(id.rddId);
           r <- sc.getPersistentRDDs.get(id.rddId)) rdds.putIfAbsent(id.rddId, r)
    }
  }

  test("release unpersists, deletes and evicts what both sessions' layers hold") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val pinned = new Pinned(sc)
    sc.addSparkListener(pinned)
    try {
      val sessions = Seq(spark.newSession(), spark.newSession())
      val (dirs, read) = sessions.map(buildLayers).unzip
      val c = new Counted
      sessions.foreach(c.memo(_, dir))
      val persisted = sc.getPersistentRDDs.keySet.toSet -- before
      val checkpointsRead = read.flatten.toSet
      assert(checkpointsRead.nonEmpty && checkpointsRead.subsetOf(persisted))

      sessions.foreach(SessionMemo.release)
      dirs.foreach(d => assert(!d.exists(), s"$d survived release"))
      val left = (sc.getPersistentRDDs ++ pinned.rdds).filter { case (id, r) =>
        !before(id) && r.getStorageLevel != StorageLevel.NONE
      }
      assert(left.isEmpty, "still persisted after release: " +
        left.values.map(_.toDebugString).mkString("\n"))
      // evicted: the next call in either session is a new build
      sessions.foreach(c.memo(_, dir))
      assert(c.builds.get === 4)
      sessions.foreach(SessionMemo.release)
    } finally sc.removeSparkListener(pinned)
  }
}

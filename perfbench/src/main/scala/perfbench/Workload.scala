package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one harness process measured: ops attempted and failed (an op
  * fails when it throws or its output check fails), metrics, and the
  * output signature the traced and untraced processes must agree on. */
final class Tally {
  var attempted = 0
  var failed = 0
  var signature = ""
  /** Seconds of timed ops, for the caller's repetition budget. */
  var measured = 0.0
  val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** Run one timed op; a throw counts it failed and is reported. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try Some(f)
    catch {
      case e: Exception =>
        fail(what, e.toString)
        e.printStackTrace()
        None
    } finally Tally.log(f"$what took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def fail(what: String, why: String): Unit = {
    failed += 1
    System.err.println(s"FAILED $what: $why")
  }

  def check(what: String, ok: Boolean, why: => String): Unit = if (!ok) fail(what, why)
}

object Tally {
  private val t0 = System.nanoTime()
  /** Progress on stderr, stamped with seconds since the harness began. */
  def log(msg: String): Unit = System.err.println(f"[${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")
}

/** One harness process. */
final class Ctx(val spark: SparkSession, val probe: Probe, val tracer: Tracer,
    val seed: Long, val trace: Boolean, val docs: Option[Int], val work: java.io.File) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val input: String = new java.io.File(work, "input").getAbsolutePath

  /** Set-up: write the seeded input three times; the median wall. */
  def writeInput(docs: Int): Double = {
    val s = Stats.median(Seq.fill(3)(Stats.secs(Inputs.write(spark, input, seed, docs))._2))
    Tally.log("set-up done, measuring")
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

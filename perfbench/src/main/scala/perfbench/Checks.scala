package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Output checks and cold-state hygiene shared by the workloads. */
object Checks {

  /** (row count, bit_xor of xxhash64 over all columns): order-free.
    * Floating-point values are rounded to [[Digits]] decimals first: sums
    * and means over partitions depend on the order the parts arrive in. */
  final case class Sig(rows: Long, hash: Long)
  val Digits = 9

  def signature(df: DataFrame): Sig = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, Digits)
        case _ => c
      }
    }
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))).first()
    Sig(r.getLong(0), r.getLong(1))
  }

  /** Signature of rows already collected to the client: row count and
    * the XOR of a 64-bit hash over every column of each row, computed
    * on the client so checking a read starts no Spark job. */
  def signature(rows: Array[Row]): Sig = {
    import scala.util.hashing.MurmurHash3
    var h = 0L
    rows.foreach { r =>
      val cols = r.toSeq.map(rounded)
      h ^= (MurmurHash3.seqHash(cols).toLong << 32) ^ (MurmurHash3.orderedHash(cols, 0x5eed) & 0xffffffffL)
    }
    Sig(rows.length.toLong, h)
  }

  private def rounded(v: Any): Any = v match {
    case d: Double if !d.isNaN && !d.isInfinite =>
      BigDecimal(d).setScale(Digits, BigDecimal.RoundingMode.HALF_UP)
    case f: Float => rounded(f.toDouble)
    case r: Row => r.toSeq.map(rounded)
    case s: scala.collection.Seq[_] => s.map(rounded)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => rounded(k) -> rounded(x) }
    case other => other
  }

  /** Pairs that share a true group vs pairs that share a cluster:
    * (recall, precision). `labels` is (id, groupId), `clusters` is
    * (id, clusterId). Unlike pairwise F1 over candidate pairs, a true
    * pair that blocking never proposed counts against recall here. */
  def clusterPairQuality(labels: DataFrame, clusters: DataFrame): (Double, Double) = {
    val j = labels.select(col("id"), col("groupId"))
      .join(clusters.select(col("id"), col("clusterId")), "id")
      .persist()
    def pairsSharing(keys: String*): Long = j.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0)).cast("long"))
      .first().getLong(0)
    try {
      val truth = pairsSharing("groupId")
      val found = pairsSharing("clusterId")
      val both = pairsSharing("groupId", "clusterId")
      (ratio(both, truth), ratio(both, found))
    } finally j.unpersist()
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 1.0 else a.toDouble / b

  /** Drop every cached frame and persisted RDD of the application, once
    * no job or task runs (adaptive execution can leave tasks running after
    * the action that started them returned). Blocks of RDDs no longer
    * listed as persistent go too: an RDD dropped without unpersisting
    * leaves that list when it is garbage-collected, before Spark's cleaner
    * removes its blocks, and a late task can store a block of an RDD that
    * was already unpersisted. */
  def release(spark: SparkSession, probe: Probe): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!probe.idle) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("jobs still running 60 s after the op returned")
      Thread.sleep(10)
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val left = probe.storedRdds
    if (left.nonEmpty) {
      Tally.log(s"removing blocks of RDDs no longer listed as persistent: $left")
      left.foreach(id => org.apache.spark.PerfbenchBus.unpersist(spark.sparkContext, id))
    }
  }

  /** A cold rep or pass starts with nothing persisted, nothing cached and
    * no RDD block stored. */
  def assertClean(spark: SparkSession, probe: Probe): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val cached = !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    val stored = probe.storedBytes
    if (rdds > 0 || cached || stored != 0)
      throw new IllegalStateException(s"not cold: $rdds persistent RDDs, " +
        s"cached frames present = $cached, $stored bytes of RDD blocks stored")
  }
}

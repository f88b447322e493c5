package graft.streaming

import graft.sources.{BucketedState, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of a durable stream's generation layout. Each
  * micro-batch writes the stream's tables together as generation `g`:
  *
  *  - a plain table is the `TableIO` table `<name>_<kind>_b<g>`;
  *  - a bucketed table ([[BucketedState]], hash-distributed by its
  *    `bucketBy` column so a merge reads it without an exchange) is the
  *    directory `<root>/<name>_<kind>_b<g>`. When a stream has bucketed
  *    tables, every catalog and `TableIO` name it uses is tagged with a
  *    hash of `root` (`<name>_<tag>_<kind>_b<g>`), so two such streams
  *    sharing a session catalog or a `TableIO` root never resolve each
  *    other's tables.
  *
  * [[latest]] is the newest generation whose every table is complete
  * (`_SUCCESS`-gated): a crash mid-commit leaves a half generation that
  * resume skips and the retried batch overwrites. [[commit]] writes the
  * next generation, tables in declaration order, then prunes every
  * generation at or below `g − Retain`, so storage is O(Retain), not
  * O(batches). Generations are listed through the `TableIO` the state
  * is written with, by the first plain table — the key table. The prune
  * listing includes remnants without `_SUCCESS` (`listTablesAll`) and
  * deletes the key table last, so a crash between two deletes leaves a
  * remnant the next prune still finds.
  */
private[graft] final class StateGenerations(
    spark: SparkSession,
    io: TableIO,
    name: String,
    tables: Seq[StateGenerations.Table],
    buckets: Option[StateGenerations.Buckets] = None) {
  import StateGenerations._

  private val key = tables.find(_.bucketBy.isEmpty)
    .getOrElse(throw new IllegalArgumentException(s"$name: no plain key table")).kind
  require(buckets.isDefined || tables.forall(_.bucketBy.isEmpty),
    s"$name: bucketed tables need a root")
  /** The key table lists the generations, so a prune deletes it last. */
  private val pruneOrder = tables.filterNot(_.kind == key) ++ tables.filter(_.kind == key)

  /** What every catalog and `TableIO` name of the stream starts with. */
  val stem: String = buckets.fold(name) { b =>
    s"${name}_${java.lang.Long.toHexString(graft.util.Hashing.hashString(b.root) & 0xffffffffL)}"
  }

  private def tableName(kind: String, g: Long) = s"${stem}_${kind}_b$g"
  private def dir(kind: String, g: Long) = s"${buckets.get.root}/${name}_${kind}_b$g"

  /** Every generation with a key table on storage, complete or not. */
  private def listed: Seq[Long] = {
    val prefix = s"${stem}_${key}_b"
    numbers(io.listTablesAll(spark, prefix), prefix)
  }

  private def complete(g: Long): Boolean = tables.forall { t =>
    if (t.bucketBy.isEmpty) io.exists(spark, tableName(t.kind, g))
    else BucketedState.isComplete(spark, dir(t.kind, g))
  }

  /** The newest complete generation, if any. */
  def latest: Option[Generation] = latestBelow(Long.MaxValue)

  /** The newest complete generation numbered below `g`, if any. */
  def latestBelow(g: Long): Option[Generation] =
    listed.filter(_ < g).reverse.find(complete).map(new Generation(_))

  /** Writes `frames` (kind → frame, one per table) as the generation
    * after [[latest]], then prunes. */
  def commit(frames: (String, DataFrame)*): Generation =
    commitAt(latest.fold(0L)(_.number + 1), frames: _*)

  /** [[commit]] as generation `g`, overwriting whatever `g` holds. */
  def commitAt(g: Long, frames: (String, DataFrame)*): Generation = {
    val byKind = frames.toMap
    require(byKind.keySet == tables.map(_.kind).toSet,
      s"$name: commit needs exactly ${tables.map(_.kind).mkString(", ")}")
    tables.foreach { t =>
      t.bucketBy match {
        case Some(c) => BucketedState.write(byKind(t.kind), tableName(t.kind, g),
          dir(t.kind, g), buckets.get.count, c)
        case None => io.write(byKind(t.kind), tableName(t.kind, g))
      }
    }
    listed.filter(_ <= g - Retain).foreach { old =>
      pruneOrder.foreach { t =>
        if (t.bucketBy.isEmpty) io.delete(spark, tableName(t.kind, old))
        else BucketedState.drop(spark, tableName(t.kind, old), dir(t.kind, old))
      }
    }
    new Generation(g)
  }

  /** One generation on storage, with a reader per table. */
  final class Generation(val number: Long) {
    /** Batches folded into this generation: generations 0 to `number`. */
    def batchesSeen: Int = (number + 1).toInt

    /** The `kind` table; a bucketed one is re-registered in the catalog
      * first if a process restart lost it. */
    def apply(kind: String): DataFrame =
      tables.find(_.kind == kind).get.bucketBy match {
        case Some(c) => BucketedState.readOrRegister(spark, tableName(kind, number),
          dir(kind, number), buckets.get.count, c)
        case None => io.read(spark, tableName(kind, number))
      }
  }
}

private[graft] object StateGenerations {

  /** Generations kept on storage: the latest and its predecessor, the
    * crash fallback (a replayed batch re-folds into it). */
  private val Retain = 2

  /** One table of every generation; `bucketBy` stores it bucketed by
    * that column. */
  final case class Table(kind: String, bucketBy: Option[String] = None)

  /** Where bucketed tables live, and their fixed bucket count. */
  final case class Buckets(root: String, count: Int)

  /** The one parser of generation numbers: `n` for every `<prefix><n>`
    * among `names`, ascending. Names whose suffix is not a number (say a
    * `_compact_old` table left mid-swap by `ParquetTableIO.compact`) are
    * not generations. */
  def numbers(names: Seq[String], prefix: String): Seq[Long] =
    names.filter(_.startsWith(prefix)).map(_.drop(prefix.length))
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .flatMap(_.toLongOption).sorted

  /** Numbers of the complete `<prefix><n>` tables, ascending. */
  def numbered(spark: SparkSession, io: TableIO, prefix: String): Seq[Long] =
    numbers(io.listTables(spark, prefix), prefix)

  /** Deletes all but the newest `keep` complete `<prefix><n>` tables. */
  def dropOldest(spark: SparkSession, io: TableIO, prefix: String, keep: Int): Unit =
    numbered(spark, io, prefix).dropRight(keep).foreach(n => io.delete(spark, s"$prefix$n"))
}

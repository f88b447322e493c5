package graft

import graft.SparkTestSession.withTempRoot
import graft.sources.{ParquetTableIO, TableIO}
import graft.streaming.StateGenerations
import graft.streaming.StateGenerations.{Buckets, Table}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The generation store every durable stream keeps its state in: resume
  * from the latest complete generation, half-written generations
  * skipped and overwritten, GC to the retain window, remnants and
  * crashed prunes reclaimed, and bucketed tables re-registered after the
  * catalog is lost — for a stream of plain tables and for one with a
  * bucketed table. */
class StateGenerationsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Generation `g`'s frame: one row holding `g`. */
  private def frame(g: Long): DataFrame = {
    val s = spark; import s.implicits._
    Seq((1L, g)).toDF("key", "g")
  }

  /** A stream's layout: its store over an io, and its table kinds. */
  private final class Layout(val kinds: Seq[String], val store: TableIO => StateGenerations) {
    def commit(io: TableIO, g: Long): StateGenerations#Generation =
      store(io).commit(kinds.map(_ -> frame(g)): _*)
  }

  /** A stream of three plain tables, `a` the key table. */
  private val plain = new Layout(Seq("a", "b", "c"),
    io => new StateGenerations(spark, io, "sg", Seq(Table("a"), Table("b"), Table("c"))))

  /** A stream with a table bucketed by `key` ahead of its plain key table. */
  private def bucketed(root: String) = new Layout(Seq("idx", "a"),
    io => new StateGenerations(spark, io, "sgb", Seq(Table("idx", Some("key")), Table("a")),
      Some(Buckets(root, 4))))

  private def valueOf(g: StateGenerations#Generation, kind: String): Long =
    g(kind).head().getLong(1)

  /** Entries under `root` naming generation `g`. */
  private def onDisk(root: String, g: Long): Seq[String] =
    new java.io.File(root).list().toSeq.filter(_.endsWith(s"_b$g"))

  /** Runs `test` over a fresh root for the plain and the bucketed layout. */
  private def both(test: (String, ParquetTableIO, Layout) => Unit): Unit =
    for (layout <- Seq((_: String) => plain, bucketed _)) withTempRoot("graft_sg") { root =>
      test(root, new ParquetTableIO(root), layout(root))
    }

  test("resume picks the latest complete generation") {
    both { (_, io, l) =>
      assert(l.store(io).latest.isEmpty)
      (0L to 2L).foreach(l.commit(io, _))
      val g = l.store(io).latest.get
      assert(g.number == 2L && valueOf(g, "a") == 2L)
      assert(l.store(io).latestBelow(2L).map(_.number).contains(1L))
    }
  }

  test("a half-written generation is skipped, and the retry overwrites it") {
    both { (_, io, l) =>
      l.commit(io, 0L)
      l.commit(io, 1L)
      // a crash mid-commit: only the key table of generation 2 landed
      io.write(frame(99L), s"${l.store(io).stem}_a_b2")
      assert(l.store(io).latest.get.number == 1L, "half generation must not resume")
      assert(l.commit(io, 2L).number == 2L)
      val g = l.store(io).latest.get
      assert(g.number == 2L && valueOf(g, "a") == 2L, "the retry overwrites the half generation")
    }
  }

  test("GC keeps Retain generations") {
    both { (root, io, l) =>
      (0L to 4L).foreach(l.commit(io, _))
      (0L to 2L).foreach(g => assert(onDisk(root, g).isEmpty, s"generation $g survived GC"))
      assert(l.kinds.forall(k => onDisk(root, 3L).exists(_.contains(s"_${k}_"))))
      assert(l.kinds.forall(k => onDisk(root, 4L).exists(_.contains(s"_${k}_"))))
      assert(l.store(io).latest.get.number == 4L, "resume must survive pruned generations")
      val stem = l.store(io).stem
      assert(!spark.catalog.listTables().collect().map(_.name)
        .exists(n => n.startsWith(s"${stem}_") && n.matches(".*_b[0-2]")),
        "pruned bucketed tables must leave the catalog")
    }
  }

  test("a remnant without _SUCCESS is reclaimed") {
    both { (root, io, l) =>
      l.commit(io, 0L)
      l.commit(io, 1L)
      // a crashed delete stripped generation 0's key table of its
      // _SUCCESS but left its data: invisible to resume, not to GC
      assert(new java.io.File(s"$root/${l.store(io).stem}_a_b0/_SUCCESS").delete())
      l.commit(io, 2L)
      assert(onDisk(root, 0L).isEmpty, s"remnant survived: ${onDisk(root, 0L)}")
    }
  }

  /** `io` whose `n`-th delete fails before deleting anything. */
  private final class CrashingIO(io: TableIO, n: Int) extends TableIO {
    private var deletes = 0
    def write(df: DataFrame, table: String): Unit = io.write(df, table)
    def writePartitioned(df: DataFrame, table: String, cols: Seq[String]): Unit =
      io.writePartitioned(df, table, cols)
    def read(spark: SparkSession, table: String): DataFrame = io.read(spark, table)
    def exists(spark: SparkSession, table: String): Boolean = io.exists(spark, table)
    def delete(spark: SparkSession, table: String): Unit = {
      deletes += 1
      if (deletes == n) throw new IllegalStateException(s"crash at delete $n")
      io.delete(spark, table)
    }
    def listTables(spark: SparkSession, prefix: String): Seq[String] =
      io.listTables(spark, prefix)
    override def listTablesAll(spark: SparkSession, prefix: String): Seq[String] =
      io.listTablesAll(spark, prefix)
  }

  test("a crash between two prune deletes leaves no orphan a later commit cannot reach") {
    for (n <- 1 to plain.kinds.size) withTempRoot("graft_sgcrash") { root =>
      val io = new ParquetTableIO(root)
      plain.commit(io, 0L)
      plain.commit(io, 1L)
      intercept[IllegalStateException](plain.commit(new CrashingIO(io, n), 2L))
      plain.commit(io, 3L)
      assert(onDisk(root, 0L).isEmpty && onDisk(root, 1L).isEmpty,
        s"crash at delete $n left ${onDisk(root, 0L) ++ onDisk(root, 1L)}")
      assert(plain.store(io).latest.get.number == 3L)
    }
  }

  test("a bucketed table is re-registered after catalog loss") {
    withTempRoot("graft_sgreg") { root =>
      val io = new ParquetTableIO(root)
      val l = bucketed(root)
      l.commit(io, 0L)
      val table = s"${l.store(io).stem}_idx_b0"
      // a process restart: the session catalog forgets the bucket layout
      spark.sql(s"DROP TABLE $table")
      assert(!spark.catalog.tableExists(table))
      assert(valueOf(l.store(io).latest.get, "idx") == 0L)
      assert(spark.catalog.listColumns(table).collect().exists(c => c.name == "key" && c.isBucket),
        "the re-registered table must keep its bucket layout")
    }
  }
}

package graft

import graft.SparkTestSession.withTempRoot
import graft.sources.ParquetTableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def parquetFiles(dir: String): Int =
    new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("compact merges small files without changing a single value") {
    import spark.implicits._
    withTempRoot("graft_compact") { root =>
      val io = new ParquetTableIO(root)
      // simulate many-small-files accretion: 16 writer tasks
      val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(16)
      io.write(df, "t")
      assert(parquetFiles(s"$root/t") == 16)

      val before = io.read(spark, "t").as[(Long, String)].collect().sortBy(_._1).toSeq
      io.compact(spark, "t", targetFiles = 2)
      assert(parquetFiles(s"$root/t") == 2, "file count not reduced")
      val after = io.read(spark, "t").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(after == before, "compaction changed values")
      // table stays resume-visible (_SUCCESS survives the swap)
      assert(io.exists(spark, "t"))
      // no leftover temp directory
      assert(!new java.io.File(s"$root/t_compact_tmp").exists())
    }
  }

  test("compact recovers a table stranded by a crash between the two swap renames") {
    import spark.implicits._
    withTempRoot("graft_compact_crash") { root =>
      val io = new ParquetTableIO(root)
      io.write((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(8), "t")
      // simulate the crash window: the live dir was renamed away but the
      // replacement never landed
      assert(new java.io.File(s"$root/t").renameTo(new java.io.File(s"$root/t_compact_old")))
      assert(!io.exists(spark, "t"))
      io.compact(spark, "t", targetFiles = 2)
      assert(io.exists(spark, "t"))
      assert(io.read(spark, "t").count() == 100)
      assert(parquetFiles(s"$root/t") == 2)
      assert(!new java.io.File(s"$root/t_compact_old").exists())
    }
  }

  test("compact refuses a Hive-partitioned layout loudly") {
    import spark.implicits._
    withTempRoot("graft_compact_part") { root =>
      val io = new ParquetTableIO(root)
      io.writePartitioned(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), "t", Seq("lang"))
      val e = intercept[IllegalArgumentException](io.compact(spark, "t", 1))
      assert(e.getMessage.contains("Hive-partitioned"))
      // and the table is untouched
      assert(spark.read.parquet(s"$root/t").count() == 2)
    }
  }

  test("schema evolution: a widened append reads back with mergeSchema, old rows null-filled") {
    import spark.implicits._
    withTempRoot("graft_evolve") { root =>
      // v1 writer: (id, v); later deployment adds a column (id, v, score)
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.parquet(s"$root/t")
      Seq((3L, "c", 0.5)).toDF("id", "v", "score")
        .write.mode("append").parquet(s"$root/t")
      val merged = spark.read.option("mergeSchema", "true").parquet(s"$root/t")
      assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
      val rows = merged.select($"id", $"v", $"score")
        .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
      assert(rows == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))))
    }
  }
}

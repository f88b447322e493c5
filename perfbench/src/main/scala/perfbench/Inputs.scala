package perfbench

import org.apache.spark.sql.SparkSession

/** The seeded input directory. The program reads only `doc_id` from
  * `documents.parquet` (every file of the corpus is a pure function of
  * it), so the seed picks where the id range starts. The start is a
  * multiple of 4 so the generator's 4-document groups stay aligned;
  * seed 0 gives ids 0 until `docs`, the id column of the sf0.1 table. */
object Inputs {
  def offset(seed: Long): Long = 4L * Math.floorMod(seed * 7919L, 250000L)

  def write(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    val start = offset(seed)
    spark.range(start, start + docs).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

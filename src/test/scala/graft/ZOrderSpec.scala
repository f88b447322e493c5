package graft

import graft.SparkTestSession.withTempRoot
import graft.operators.ZOrder
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def pts = spark.read.parquet(s"$dir/lineitem.parquet")
    .select(col("l_partkey").cast("long").as("x"),
      col("l_orderkey").cast("long").as("y"),
      col("l_linenumber"), col("l_quantity"))

  private lazy val st = {
    val r = pts.agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  test("interleave is a bijection on the normalized grid (decode recovers both dims)") {
    val bits = ZOrder.DimBits
    val rows = spark.range(0, 1L << bits, 37) // stride keeps it fast
      .select((col("id") % (1L << bits)).as("xn"),
        ((col("id") * 7919) % (1L << bits)).as("yn"))
      .withColumn("z", ZOrder.interleave(col("xn"), col("yn"), bits))
    // decode: x = even bits of z, y = odd bits
    val xBack = (0 until bits).map(i =>
      shiftleft(shiftright(col("z"), 2 * i).bitwiseAND(lit(1L)), i)).reduce(_ bitwiseOR _)
    val yBack = (0 until bits).map(i =>
      shiftleft(shiftright(col("z"), 2 * i + 1).bitwiseAND(lit(1L)), i)).reduce(_ bitwiseOR _)
    val bad = rows.where(xBack =!= col("xn") || yBack =!= col("yn")).count()
    assert(bad == 0)
  }

  test("z layout prunes on BOTH dims; linear layout cannot serve the second dim") {
    val (xmn, xmx, ymn, ymx) = st
    val shift = ZOrder.DimBits - ZOrder.PrefixBits
    val z = ZOrder.withZFile(pts, col("x"), col("y"), xmn, xmx, ymn, ymx)
    val lin = pts.withColumn("zfile",
      shiftright(ZOrder.normalize(col("x"), lit(xmn), lit(xmx)), shift))
    val yBox = Some((ymn + (ymx - ymn) * 45 / 100, ymn + (ymx - ymn) * 55 / 100))
    def scanned(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val idx = ZOrder.minMaxIndex(df, "zfile", col("x"), col("y"))
      val n = idx.count()
      val s = ZOrder.overlappingFiles(idx, "zfile", None, yBox).count()
      (s, n)
    }
    val (zScan, zAll) = scanned(z)
    val (lScan, lAll) = scanned(lin)
    // a y-only predicate: the linear (x-sorted) layout scans everything,
    // the z layout prunes most tiles
    assert(lScan == lAll, s"x-sorted layout unexpectedly pruned on y ($lScan/$lAll)")
    assert(zScan * 2 <= zAll, s"z layout pruned too little on y ($zScan/$zAll)")
  }

  test("pruned read ≡ full-scan filter, with planning-time partition pruning in the plan") {
    val (xmn, xmx, ymn, ymx) = st
    withTempRoot("graft_zorder") { root =>
      ZOrder.writeZOrdered(pts, root, col("x"), col("y"), xmn, xmx, ymn, ymx)
      val index = ZOrder.minMaxIndex(
        ZOrder.withZFile(pts, col("x"), col("y"), xmn, xmx, ymn, ymx),
        "zfile", col("x"), col("y"))
      val xr = Some((xmn + (xmx - xmn) * 45 / 100, xmn + (xmx - xmn) * 55 / 100))
      val yr = Some((ymn + (ymx - ymn) * 45 / 100, ymn + (ymx - ymn) * 55 / 100))
      val boxPred = col("x").between(xr.get._1, xr.get._2) &&
        col("y").between(yr.get._1, yr.get._2)

      val pruned = ZOrder.prunedRead(spark, root, index, xr, yr).where(boxPred)
      val full = spark.read.parquet(root).where(boxPred)
      // exactness: pruning by the min/max envelope loses nothing
      assert(pruned.count() == full.count())
      assert(pruned.select(col("x"), col("y"), col("l_linenumber"))
        .except(full.select(col("x"), col("y"), col("l_linenumber"))).isEmpty)

      val s = pruned.queryExecution.explainString(FormattedMode)
      assert(s.contains("PartitionFilters") && s.contains("zfile"),
        s"zfile partition filter missing from scan\n$s")
      // and the prune is real: fewer partition dirs read than exist
      val nAll = index.count()
      val nRead = ZOrder.overlappingFiles(index, "zfile", xr, yr).count()
      assert(nRead < nAll / 4, s"box read $nRead of $nAll partitions — not selective")
    }
  }

  test("KLL tile sidecar: guaranteed min/max prune + in-bounds cardinality per tile") {
    val rows = SparkEntry.queries("q_kll_tile_pruning")(spark, dir).collect()
    assert(rows.nonEmpty)
    // every verdict the oracle re-judges must hold here too
    assert(rows.forall(_.getAs[Boolean]("n_ok")), "sidecar n != tile rows")
    assert(rows.forall(_.getAs[Boolean]("prune_ok")), "a pruned tile had probe rows")
    assert(rows.forall(_.getAs[Boolean]("bounds_ok")), "exact outside [lb, ub]")
    // the probe is y-aligned, so the exact sketch min/max must prune
    // most z-tiles — the sidecar subsumes the min/max index
    val pruned = rows.count(_.getAs[Boolean]("pruned"))
    assert(pruned * 2 >= rows.length,
      s"sidecar pruned only $pruned of ${rows.length} tiles")
    // no hits lost: pruned tiles contribute zero, so scanning only the
    // surviving tiles returns exactly the full filter's rows
    val total = rows.map(_.getAs[Long]("exact")).sum
    val kept = rows.filterNot(_.getAs[Boolean]("pruned"))
      .map(_.getAs[Long]("exact")).sum
    assert(total == kept && total > 0)
  }

  test("budgeted tile scan: skips low-yield files, covers the certified fraction") {
    val rows = SparkEntry.queries("q_tile_scan_budget")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    // the asymmetric probe makes the partially-covered strip's tiles
    // low-yield — the plan must actually skip files the min/max
    // envelope would read
    assert(r.getAs[Boolean]("skips_files"),
      s"budget plan read all ${r.getAs[Long]("n_unpruned")} unpruned tiles")
    assert(r.getAs[Boolean]("coverage_ok"),
      s"coverage ${r.getAs[Double]("coverage")} below certified minimum " +
        s"${r.getAs[Double]("coverage_min")}")
    assert(r.getAs[Long]("exact_chosen") > 0 &&
      r.getAs[Long]("exact_chosen") <= r.getAs[Long]("exact_total"))
  }

  test("theta tile sidecar: distinct keys of the probed file subset, exact at small scale") {
    val rows = SparkEntry.queries("q_theta_tile_distinct")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Boolean]("files_ok"), "merged shard count != unpruned tile count")
    assert(r.getAs[Boolean]("bounds_ok"))
    // below 2^lgK distinct keys the theta merge is exact
    assert(r.getAs[Double]("est") == r.getAs[Long]("exact").toDouble)
  }

  test("sketch-driven range layout: balanced buckets, probe reads only covering buckets") {
    val rows = SparkEntry.queries("q_range_layout")(spark, dir).collect()
    assert(rows.length >= 2, "layout produced fewer than 2 buckets")
    assert(rows.forall(_.getAs[Boolean]("balance_ok")),
      "a bucket's share drifted beyond the sketch rank-error tolerance")
    assert(rows.forall(_.getAs[Boolean]("probe_ok")),
      "probe rows found outside the covering buckets")
    // the probe must NOT need every bucket — pruning is real
    val read = rows.count(_.getAs[Boolean]("read_for_probe"))
    assert(read < rows.length, s"probe read all $read buckets")
    assert(rows.filter(_.getAs[Boolean]("read_for_probe"))
      .map(_.getAs[Long]("probe_rows")).sum > 0)
  }

  test("range-layout read prunes bucket partitions at planning time") {
    // the same bucket-partitioned shape q_range_layout writes: lock the
    // physical evidence that a bucket-range predicate becomes a
    // PartitionFilter (directory prune), not a row filter on every file
    withTempRoot("graft_range_plan") { root =>
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", pmod(col("doc_id"), lit(4)))
        .write.mode("overwrite").partitionBy("bucket").parquet(root)
      val q = spark.read.parquet(root)
        .where(col("bucket") >= 1 && col("bucket") <= 2)
      val plan = q.queryExecution.explainString(FormattedMode)
      assert(plan.contains("PartitionFilters") &&
        plan.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("bucket")),
        s"bucket range not applied at partition level\n$plan")
      def partitionsRead(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.executedPlan.collectLeaves()
          .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount.toLong }.sum
      assert(partitionsRead(q) < partitionsRead(spark.read.parquet(root)))
    }
  }

  test("bloom sidecar prunes files for a point lookup; read ≡ plain filter") {
    // layout on (partkey, suppkey); bloom sidecar on the NON-layout
    // high-cardinality l_orderkey — an order's ~4 lines land in few of
    // the 64 tiles, so the bloom prunes most files
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"), col("l_orderkey"))
    val r = li.agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
    val zfiled = ZOrder.withZFile(li, col("x"), col("y"),
      r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)).persist()
    val idx = ZOrder.bloomIndex(zfiled, "zfile", "l_orderkey", expectedPerFile = 512L)
    val nAll = idx.count()
    val kept = ZOrder.bloomPrunedFiles(idx, "zfile", 42L)
    assert(kept.length * 2 < nAll, s"bloom pruned too little (${kept.length}/$nAll)")
    // no false negatives: every row with the key lives in a kept file
    val missed = zfiled.where(col("l_orderkey") === 42L &&
      !col("zfile").isin(kept: _*)).count()
    assert(missed == 0, "bloom dropped a file containing the key")
    // and the pruned result is exactly the plain filter
    val pruned = zfiled.where(col("zfile").isin(kept: _*) && col("l_orderkey") === 42L)
    assert(pruned.count() == li.where(col("l_orderkey") === 42L).count())
    zfiled.unpersist()
  }

  test("appendZOrdered clamps out-of-range rows into boundary tiles; pruned read stays exact") {
    import spark.implicits._
    val (xmn, xmx, ymn, ymx) = st
    withTempRoot("graft_zappend") { root =>
      ZOrder.writeZOrdered(pts, root, col("x"), col("y"), xmn, xmx, ymn, ymx)
      // a late batch with keys beyond the original envelope
      val late = Seq((xmx + 100L, ymx + 500L, 99, 1.0), (xmn - 5L, ymn, 98, 2.0))
        .toDF("x", "y", "l_linenumber", "l_quantity")
      ZOrder.appendZOrdered(late, root, col("x"), col("y"), xmn, xmx, ymn, ymx)

      val all = spark.read.parquet(root)
      assert(all.count() == pts.count() + 2)
      // the index is recomputed from ACTUAL row min/max, so it still
      // covers the clamped rows' true values and pruning loses nothing
      val index = ZOrder.minMaxIndex(all, "zfile", col("x"), col("y"))
      val xr = Some((xmx - 10L, xmx + 200L)) // touches the appended range
      val pruned = ZOrder.prunedRead(spark, root, index, xr, None)
        .where(col("x") >= xr.get._1 && col("x") <= xr.get._2)
      val full = all.where(col("x") >= xr.get._1 && col("x") <= xr.get._2)
      assert(pruned.count() == full.count() && full.count() >= 1)
      assert(pruned.select(col("x"), col("y")).except(full.select(col("x"), col("y"))).isEmpty)
    }
  }
}

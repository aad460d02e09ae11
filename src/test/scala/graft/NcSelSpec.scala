package graft

import graft.sources.netcdf.{NcIO, NcSel, NetCDF3}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-based coordinate selection ([[NcSel]]) + the compaction
  * maintenance hooks: unit-level pins for the session-verified
  * behaviors the oracle queries exercise at sf scale. */
class NcSelSpec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF3Source"

  private def writeSorted(dir: String, parts: Int): Unit = {
    import spark.implicits._
    // coord 0,10,20,...,990 spread over range-bucketed sorted parts
    NcIO.write(
      (0 until 100).map(i => (i * 10L, i.toDouble)).toDF("coord", "payload")
        .repartitionByRange(parts, col("coord")).sortWithinPartitions("coord"),
      dir)
  }

  test("range() selects exactly the in-range records") {
    val dir = "/tmp/graft_nc_spec/sel_range"
    writeSorted(dir, 4)
    val got = NcSel.range(spark, dir, "coord", 200.0, 300.0)
      .select("coord").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (200L until 300L by 10L).toSeq)
  }

  test("nearest() finds the true nearest even when the target merely " +
      "falls inside a file's range (containment is not distance 0)") {
    val dir = "/tmp/graft_nc_spec/sel_nearest"
    writeSorted(dir, 4)
    // 203 is inside a file's [min,max] but no record equals it; the
    // guaranteed-distance window must still include coord=200
    val r = NcSel.nearest(spark, dir, "coord", 203.0).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("coord") == 200L)
    assert(r.head.getAs[Double]("dist") == 3.0)
    // beyond the corpus maximum: nearest is the last coord
    val top = NcSel.nearest(spark, dir, "coord", 1.0e9).collect().head
    assert(top.getAs[Long]("coord") == 990L)
    // exact hit
    assert(NcSel.nearest(spark, dir, "coord", 500.0).collect().head
      .getAs[Double]("dist") == 0.0)
  }

  test("nearest() tie breaks toward the smaller coordinate") {
    val dir = "/tmp/graft_nc_spec/sel_tie"
    writeSorted(dir, 2)
    val r = NcSel.nearest(spark, dir, "coord", 205.0).collect().head
    assert(r.getAs[Long]("coord") == 200L, "equidistant 200/210 must pick 200")
  }

  test("nearest2d finds the true 2-D nearest with a pruned scan + bounded min_by") {
    import spark.implicits._
    val dir = "/tmp/graft_ncsel/grid2d"
    // 40×25 curvilinear grid, range-bucketed on the cell index so each
    // part file covers a tight lat band
    val cells = (0 until 1000).map { c =>
      val y = c / 25; val x = c % 25
      (c.toLong, y.toLong, x.toLong,
        y + (x * 7 % 13) / 100.0, x + (y * 11 % 17) / 100.0, c * 1.5)
    }.toDF("cell", "y", "x", "lat", "lon", "val")
    NcIO.write(
      cells.repartitionByRange(5, col("cell")).sortWithinPartitions("cell").drop("cell"),
      dir)
    val got = NcSel.nearest2d(spark, dir, "lat", "lon", Seq((20.3, 11.8), (0.0, 0.0)))
      .orderBy("tid").collect()
    // brute-force truth
    val truth = Seq((20.3, 11.8), (0.0, 0.0)).map { case (tla, tlo) =>
      cells.collect().map { r =>
        val d2 = (r.getDouble(3) - tla) * (r.getDouble(3) - tla) +
          (r.getDouble(4) - tlo) * (r.getDouble(4) - tlo)
        (d2, r.getLong(0))
      }.minBy(identity)
    }
    got.zip(truth).foreach { case (row, (d2, cell)) =>
      assert(row.getAs[Long]("record") == cell, row)
      assert(math.abs(row.getAs[Double]("dist2") - d2) == 0.0, row)
    }
    // plan: one scan, a partial-agg'd min_by, no sort/window/cartesian
    val df = NcSel.nearest2d(spark, dir, "lat", "lon", Seq((20.3, 11.8)))
    val plan = df.queryExecution.executedPlan.toString
    assert("BatchScan".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_min_by") || plan.contains("partial_"), plan)
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // a tight target's envelope prunes part files via the lat zone maps
    val tight = NcSel.nearest2d(spark, dir, "lat", "lon", Seq((20.3, 11.8)))
    val all = spark.read.format(SRC).load(dir)
    assert(tight.rdd.getNumPartitions < all.rdd.getNumPartitions,
      s"${tight.rdd.getNumPartitions} !< ${all.rdd.getNumPartitions}")
  }

  test("compactIfNeeded fires only above the file threshold and keeps content") {
    val dir = "/tmp/graft_nc_spec/compact_hook"
    writeSorted(dir, 6) // 6 part files
    assert(!NcIO.compactIfNeeded(spark, NetCDF3, dir, maxFiles = 8, parts = 2))
    assert(NcIO.compactIfNeeded(spark, NetCDF3, dir, maxFiles = 4, parts = 2))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(_.getPath.getName.endsWith(".nc"))
    assert(n == 2, s"expected 2 compacted parts, got $n")
    // record order and content survive the in-place swap
    val got = spark.read.format(SRC).load(dir)
      .orderBy("record").select("coord").collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 1000L by 10L).toSeq)
  }

  test("maxFilesPerTrigger admission control yields one epoch per source file") {
    val src = "/tmp/graft_nc_spec/adm_src"
    val out = "/tmp/graft_nc_spec/adm_out"
    val ckpt = "/tmp/graft_nc_spec/adm_ckpt"
    Seq(src, out, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    writeSorted(src, 3)
    val q = spark.readStream.format(SRC)
      .option("maxfilespertrigger", "1").load(src)
      .drop("record")
      .writeStream.format(SRC)
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName).filter(_.endsWith(".nc"))
      .flatMap(n => "part-e(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .distinct.sorted
    assert(epochs.length == 3, s"expected 3 rate-limited epochs, got ${epochs.toSeq}")
    // and the data still round-trips losslessly
    val total = spark.read.format(SRC).load(out).count()
    assert(total == 100L)
  }
}

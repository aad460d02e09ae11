package graft

import graft.sources.netcdf.{Hdf5IO, NcIO, NcSel, Nc4Sel}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-based coordinate selection on the netCDF-4/HDF5 container
  * ([[Nc4Sel]]): the same [[graft.sources.netcdf.ValueSel]] algorithms
  * the classic side pins in [[NcSelSpec]], re-pinned over genuine HDF5
  * bytes — plus cross-container agreement (identical rows written to
  * both containers must select identically, the xarray contract). */
class Nc4SelSpec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF4Source"

  private def writeSorted(dir: String, parts: Int): Unit = {
    import spark.implicits._
    // coord 0,10,20,...,990 spread over range-bucketed sorted parts
    Hdf5IO.write(
      (0 until 100).map(i => (i * 10L, i.toDouble)).toDF("coord", "payload")
        .repartitionByRange(parts, col("coord")).sortWithinPartitions("coord"),
      dir)
  }

  test("range() selects exactly the in-range records from HDF5 parts") {
    val dir = "/tmp/graft_nc4sel/range"
    writeSorted(dir, 4)
    val got = Nc4Sel.range(spark, dir, "coord", 200.0, 300.0)
      .select("coord").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (200L until 300L by 10L).toSeq)
  }

  test("nearest() finds the true nearest when the target merely falls " +
      "inside a file's actual_range (containment is not distance 0)") {
    val dir = "/tmp/graft_nc4sel/nearest"
    writeSorted(dir, 4)
    val r = Nc4Sel.nearest(spark, dir, "coord", 203.0).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("coord") == 200L)
    assert(r.head.getAs[Double]("dist") == 3.0)
    // beyond the corpus maximum: nearest is the last coord
    val top = Nc4Sel.nearest(spark, dir, "coord", 1.0e9).collect().head
    assert(top.getAs[Long]("coord") == 990L)
    // exact hit
    assert(Nc4Sel.nearest(spark, dir, "coord", 500.0).collect().head
      .getAs[Double]("dist") == 0.0)
  }

  test("interpAll: exact hit degenerates, mid-gap blends, edges clamp") {
    val dir = "/tmp/graft_nc4sel/interp"
    writeSorted(dir, 4)
    // payload(coord) = coord/10, so linear interpolation is exact
    val rows = Nc4Sel.interpAll(spark, dir, "coord", "payload",
      Seq(-50.0, 500.0, 203.0, 5000.0))
      .collect().map(r => r.getAs[Double]("target") -> r).toMap
    assert(rows(-50.0).getAs[Double]("ival") == 0.0)   // clamp low → first payload
    assert(rows(500.0).getAs[Double]("ival") == 50.0)  // exact hit
    assert(rows(203.0).getAs[Double]("ival") == 20.3)  // blend between 20 and 21
    assert(rows(5000.0).getAs[Double]("ival") == 99.0) // clamp high → last payload
  }

  test("interpAll windows prune HDF5 part files via actual_range zone maps") {
    val dir = "/tmp/graft_nc4sel/interp_prune"
    writeSorted(dir, 5)
    val tight = Nc4Sel.interpAll(spark, dir, "coord", "payload", Seq(203.0))
    val all = spark.read.format(SRC).load(dir)
    assert(tight.rdd.getNumPartitions < all.rdd.getNumPartitions,
      s"${tight.rdd.getNumPartitions} !< ${all.rdd.getNumPartitions}")
  }

  test("nearest2d finds the true 2-D nearest over HDF5 with a pruned scan") {
    import spark.implicits._
    val dir = "/tmp/graft_nc4sel/grid2d"
    // 40×25 curvilinear grid, range-bucketed on the cell index so each
    // part file covers a tight lat band
    val cells = (0 until 1000).map { c =>
      val y = c / 25; val x = c % 25
      (c.toLong, y.toLong, x.toLong,
        y + (x * 7 % 13) / 100.0, x + (y * 11 % 17) / 100.0, c * 1.5)
    }.toDF("cell", "y", "x", "lat", "lon", "val")
    Hdf5IO.write(
      cells.repartitionByRange(5, col("cell")).sortWithinPartitions("cell").drop("cell"),
      dir)
    val got = Nc4Sel.nearest2d(spark, dir, "lat", "lon", Seq((20.3, 11.8), (0.0, 0.0)))
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
    val df = Nc4Sel.nearest2d(spark, dir, "lat", "lon", Seq((20.3, 11.8)))
    val plan = df.queryExecution.executedPlan.toString
    assert("BatchScan".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_min_by") || plan.contains("partial_"), plan)
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // a tight target's envelope prunes part files via the lat zone maps
    val tight = Nc4Sel.nearest2d(spark, dir, "lat", "lon", Seq((20.3, 11.8)))
    val all = spark.read.format(SRC).load(dir)
    assert(tight.rdd.getNumPartitions < all.rdd.getNumPartitions,
      s"${tight.rdd.getNumPartitions} !< ${all.rdd.getNumPartitions}")
  }

  test("cross-container agreement: identical rows select identically " +
      "through netcdf3 and netCDF-4") {
    import spark.implicits._
    val d3 = "/tmp/graft_nc4sel/xc_nc3"
    val d4 = "/tmp/graft_nc4sel/xc_nc4"
    val df = (0 until 100).map(i => (i * 10L, i.toDouble)).toDF("coord", "payload")
      .repartitionByRange(4, col("coord")).sortWithinPartitions("coord")
    NcIO.write(df, d3)
    Hdf5IO.write(df, d4)
    val targets = Seq(-3.0, 203.0, 500.0, 777.5, 2.0e6)
    val a = NcSel.interpAll(spark, d3, "coord", "payload", targets)
      .orderBy("target").collect().map(_.toSeq)
    val b = Nc4Sel.interpAll(spark, d4, "coord", "payload", targets)
      .orderBy("target").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    val na = NcSel.nearestAll(spark, d3, "coord", targets)
      .select("target", "coord", "payload", "dist").orderBy("target")
      .collect().map(_.toSeq)
    val nb = Nc4Sel.nearestAll(spark, d4, "coord", targets)
      .select("target", "coord", "payload", "dist").orderBy("target")
      .collect().map(_.toSeq)
    assert(na.toSeq == nb.toSeq)
  }

  test("maxFilesPerTrigger admission control yields one epoch per source file") {
    val src = "/tmp/graft_nc4sel/adm_src"
    val out = "/tmp/graft_nc4sel/adm_out"
    val ckpt = "/tmp/graft_nc4sel/adm_ckpt"
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
      .map(_.getPath.getName).filter(_.endsWith(".nc4"))
      .flatMap(n => "part-e(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .distinct.sorted
    assert(epochs.length == 3, s"expected 3 rate-limited epochs, got ${epochs.toSeq}")
    val back = spark.read.format(SRC).load(out)
    assert(back.count() == 100L)
    assert(back.agg(sum("coord")).head().getLong(0) == (0L until 1000L by 10L).sum)
  }
}

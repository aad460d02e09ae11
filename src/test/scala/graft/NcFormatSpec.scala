package graft

import graft.sources.netcdf.{NcFormat, NcIO}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Codec edge cases beyond the happy path NcSpec covers. */
class NcFormatSpec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF3Source"
  private def fs = new Path("/tmp").getFileSystem(new Configuration())

  test("all numeric types roundtrip (CDF-5 via long column)") {
    val dir = "/tmp/graft_nc_fmt/types"
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("s", ShortType), StructField("b", ByteType)))
    val rows = (0 until 1000).map(k => Row(
      k + 0.5, (k * 2).toFloat, k, k.toLong * 1000000007L,
      (k % 30000).toShort, (k % 100).toByte))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    NcIO.write(df, dir)
    // CDF-5 expected (long column present)
    val meta = NcFormat.readMeta(fs,
      graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir)).head)
    assert(meta.version == 5)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 1000)
    assert(back.schema("l").dataType == LongType)
    assert(back.schema("s").dataType == ShortType)
    assert(back.schema("b").dataType == ByteType)
    val exp = df.agg(sum("d"), sum("l"), sum(col("s").cast("long")), sum(col("b").cast("long"))).head()
    val got = back.agg(sum("d"), sum("l"), sum(col("s").cast("long")), sum(col("b").cast("long"))).head()
    assert(exp == got)
  }

  test("no-long schema writes CDF-2") {
    val dir = "/tmp/graft_nc_fmt/cdf2"
    NcIO.write(spark.range(10).select(col("id").cast("double").as("x")), dir)
    val files = graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir))
    val metas = files.map(NcFormat.readMeta(fs, _))
    assert(metas.forall(_.version == 2))
    assert(metas.map(_.numRecs).sum == 10)
  }

  test("empty partitions land no file; the written records read back") {
    val dir = "/tmp/graft_nc_fmt/empty"
    val df = spark.range(5).select(col("id").cast("double").as("x")).repartition(8)
    NcIO.write(df, dir)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 5)
    val files = graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir))
    assert(files.forall(NcFormat.readMeta(fs, _).numRecs > 0), "a landed file has 0 records")
  }

  test("single small record var uses unpadded slabs (spec special case)") {
    val dir = "/tmp/graft_nc_fmt/shorts"
    val schema = StructType(Seq(StructField("s", ShortType)))
    val rows = (0 until 101).map(k => Row(k.toShort))
    NcIO.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), dir)
    val p = graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir)).head
    val meta = NcFormat.readMeta(fs, p)
    assert(meta.recSize == 2) // no inter-record padding with 1 record var
    val back = spark.read.format(SRC).load(dir)
    assert(back.agg(sum(col("s").cast("long"))).head().getLong(0) == (0 until 101).sum)
  }

  test("zone maps prune part files on pushed value filters") {
    val dir = "/tmp/graft_nc_fmt/zonemap"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    // range partitioning gives part files with near-disjoint quantity ranges
    NcIO.write(li.repartitionByRange(4, col("l_quantity")), dir)
    val back = spark.read.format(SRC).load(dir)
    val fullParts = back.rdd.getNumPartitions
    val filtered = back.filter(col("l_quantity") > 45.0)
    assert(filtered.rdd.getNumPartitions < fullParts,
      s"expected zone-map pruning below $fullParts partitions")
    // pruning must stay correct: same rows as the parquet source
    val expected = li.filter(col("l_quantity") > 45.0).count()
    assert(filtered.count() == expected)
    // a filter beyond the global max prunes everything
    assert(back.filter(col("l_quantity") > 1e6).rdd.getNumPartitions == 0)
  }

  test("sorted range-bucketed write: point filter reads at most one covering file") {
    val dir = "/tmp/graft_nc_fmt/sorted_skip"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    // sort-on-ingest: 8 part files with fully DISJOINT key ranges
    NcIO.write(li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey"), dir)
    val back = spark.read.format(SRC).load(dir)
    assert(back.rdd.getNumPartitions >= 8)
    val k = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2
    val filtered = back.filter(col("l_orderkey") === k)
    // disjoint zone maps: a point filter is covered by exactly one file
    // (a second only if k sits on a range-partition boundary)
    assert(filtered.rdd.getNumPartitions <= 2,
      s"expected <=2 of ${back.rdd.getNumPartitions} partitions after skip")
    assert(filtered.count() == li.filter(col("l_orderkey") === k).count())
  }

  test("actual_range attributes roundtrip through the header") {
    val dir = "/tmp/graft_nc_fmt/ranges"
    NcIO.write(
      spark.range(10, 110).select(col("id").cast("double").as("x"), col("id").as("l")),
      dir)
    val files = graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir))
    val ranges = files.map(NcFormat.readMeta(fs, _))
      .flatMap(_.recordVars.filter(_.name == "x").flatMap(_.range))
    assert(ranges.nonEmpty)
    assert(ranges.map(_._1).min == 10.0)
    assert(ranges.map(_._2).max == 109.0)
  }

  test("user attributes (global + per-variable) roundtrip through the header") {
    val dir = "/tmp/graft_nc_fmt/attrs"
    NcIO.write(
      spark.range(20).select(col("id").cast("double").as("x")).repartition(2),
      dir,
      gatts = Seq("title" -> "unit test", "history" -> "written by NcFormatSpec"),
      vatts = Map("x" -> Seq("units" -> "m/s", "long_name" -> "speed")))
    val files = graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir))
    val metas = files.map(NcFormat.readMeta(fs, _))
    metas.foreach { m =>
      assert(m.gatts.map(a => a.name -> a.text) ==
        Seq("title" -> "unit test", "history" -> "written by NcFormatSpec"))
      val xAtts = m.recordVars.find(_.name == "x").get.atts
      assert(xAtts.filter(_.ncType == NcFormat.NC_CHAR).map(a => a.name -> a.text) ==
        Seq("units" -> "m/s", "long_name" -> "speed"))
      // user attrs coexist with the automatic zone-map attr
      assert(xAtts.exists(_.name == "actual_range"))
    }
    // data unaffected by the extra header bytes
    val back = spark.read.format(SRC).load(dir)
    assert(back.agg(sum("x")).head().getDouble(0) == (0 until 20).sum.toDouble)
  }

  test("fixed (non-record) variables coexist with record data") {
    val dir = "/tmp/graft_nc_fmt/fixed"
    val levels = Array(0.5, 1.5, 2.5)
    NcIO.write(
      spark.range(100).select(col("id").cast("double").as("x"), col("id").as("l"))
        .repartition(2),
      dir, fixedVars = Seq("levels" -> levels))
    val files = graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir))
    files.map(NcFormat.readMeta(fs, _)).foreach { m =>
      val fv = m.fixedVars.find(_.name == "levels").get
      assert(!fv.isRecord)
      assert(m.dims(fv.dimIds.head).length == 3)
    }
    val got = NcIO.readFixedVar(spark, dir, "levels")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(got.toSeq == levels.toSeq)
    // record data is laid out after the fixed slabs and still reads back
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 100)
    assert(back.agg(sum("l")).head().getLong(0) == (0 until 100).map(_.toLong).sum)
  }

  test("gzip part files roundtrip through the forward-only path") {
    val dir = "/tmp/graft_nc_fmt/gz"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    NcIO.write(li.repartition(3), dir, compress = true)
    val files = graft.sources.netcdf.NetCDF3.listFiles(fs, new Path(dir))
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".nc.gz")))
    val back = spark.read.format(SRC).load(dir)
    assert(back.rdd.getNumPartitions == 3, "gz files must not be split")
    assert(back.count() == li.count())
    assert(back.agg(sum("l_orderkey")).head().getLong(0)
      == li.agg(sum("l_orderkey")).head().getLong(0))
    // record-range pushdown still slices exactly (sequential skip)
    assert(back.filter(col("record") >= 10 && col("record") < 500).count() == 490)
    // zone maps prune whole compressed files without decompressing data
    assert(back.filter(col("l_quantity") > 1e6).rdd.getNumPartitions == 0)
  }

  test("micro-batch streaming ingests gzip part files") {
    val dir = "/tmp/graft_nc_fmt/gz_stream"
    NcIO.write(
      spark.range(300).select(col("id").cast("double").as("x")).repartition(2),
      dir, compress = true)
    val q = spark.readStream.format(SRC).load(dir)
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_gz_stream").start()
    try q.processAllAvailable() finally q.stop()
    val row = spark.table("graft_gz_stream").head()
    assert(row.getLong(0) == 300)
    assert(row.getDouble(1) == (0 until 300).sum.toDouble)
  }

  test("record column is globally consecutive across part files") {
    val dir = "/tmp/graft_nc_fmt/multi"
    NcIO.write(spark.range(1000).select(col("id").cast("double").as("x")).repartition(7), dir)
    val back = spark.read.format(SRC).load(dir)
    val recs = back.select("record")
    assert(recs.distinct().count() == 1000)
    assert(recs.agg(min("record"), max("record")).head() == Row(0L, 999L))
  }
}

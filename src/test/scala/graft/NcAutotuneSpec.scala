package graft

import graft.sources.netcdf.{ChunkedScan, Hdf5Format, NcFormat, NcIO}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** recordsPerPartition autotuner: without the manual option, the scan
  * derives split granularity from file metadata — ≈3× cores partitions
  * for a big corpus, clamped to whole chunks (floor) and to
  * `spark.sql.files.maxPartitionBytes` (ceiling). */
class NcAutotuneSpec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF3Source"
  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  test("pure sizing math") {
    // big corpus, roomy ceiling: lands on ≈ total/(3*par), chunk-rounded
    val p = ChunkedScan.autotunePerPart(
      totalRecs = 6000, recSize = 24, chunkBytes = 2048,
      maxPartBytes = 128L << 20, parallelism = 4)
    assert(p % (2048 / 24) == 0, s"perPart $p not chunk-aligned")
    assert(p >= 6000 / 12 && p < 6000 / 12 + 2048 / 24)
    // tiny corpus: floor at one chunk
    assert(ChunkedScan.autotunePerPart(100, 24, 2048, 128L << 20, 4) == 2048 / 24)
    // ceiling binds on a huge corpus
    assert(ChunkedScan.autotunePerPart(Long.MaxValue / 32, 24, 2048,
      4096, 4) == 4096 / 24)
  }

  test("big corpus splits to ≈3× cores partitions without the option") {
    val dir = "/tmp/graft_nc_spec/autotune_big"
    NcIO.write(li.repartition(1), dir)
    val n = spark.read.format(SRC).option("chunkBytes", "2048").load(dir)
      .rdd.getNumPartitions
    val par = spark.sparkContext.defaultParallelism
    assert(n >= 2 * par && n <= 5 * par, s"expected ≈3×$par partitions, got $n")
  }

  test("tiny corpus yields few partitions; option still overrides") {
    val dir = "/tmp/graft_nc_spec/autotune_small"
    NcIO.write(li.limit(100).repartition(1), dir)
    val n = spark.read.format(SRC).option("chunkBytes", "2048").load(dir)
      .rdd.getNumPartitions
    assert(n <= 2, s"tiny corpus should not over-split, got $n")
    val m = spark.read.format(SRC).option("chunkBytes", "2048")
      .option("recordsPerPartition", "10").load(dir).rdd.getNumPartitions
    assert(m == 10, s"manual option must win, got $m")
  }

  test("maxPartitionBytes caps the split size") {
    val dir = "/tmp/graft_nc_spec/autotune_cap"
    NcIO.write(li.repartition(1), dir)
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val n = spark.read.format(SRC).option("chunkBytes", "2048").load(dir)
        .rdd.getNumPartitions
      // recSize = 24B → ≤170 records/partition → ≥35 partitions at sf0.001
      assert(n >= 30, s"cap should force many partitions, got $n")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  /** The scan's planned partitions as (file name, localStart, localEnd,
    * fileOffset), read off the physical plan through the public DSv2
    * API so the pin holds whatever the partition class is called. */
  private def planned(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long)] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().toSeq
    }.flatten.map { ip =>
      val p = ip.asInstanceOf[Product]
      (new org.apache.hadoop.fs.Path(p.productElement(0).toString).getName,
        p.productElement(1).asInstanceOf[Long], p.productElement(2).asInstanceOf[Long],
        p.productElement(3).asInstanceOf[Long])
    }

  /** 300 records in three 100-record part files; coord == record. */
  private def threeParts = spark.range(0, 300, 1, 3)
    .select(col("id").as("coord"), (col("id") * 0.5).as("payload"))

  private val byRecord = col("record") >= 30 && col("record") < 250
  private val byValue = col("coord") >= 150 // file 0's actual_range is [0, 99]

  /** Planned partitions of `src` over `dir` for `filter`, with and
    * without the `recordsPerPartition` option. */
  private def plan(src: String, dir: String, filter: org.apache.spark.sql.Column,
      rpp: Option[String]) = {
    val r = spark.read.format(src).option("chunkBytes", "2048")
    planned(rpp.fold(r)(n => r.option("recordsPerPartition", n)).load(dir).filter(filter))
  }

  /** Expected partitions: (file index, localStart, localEnd) per entry,
    * 100 records per file. */
  private def expect(ext: String, parts: (Int, Long, Long)*) =
    parts.map { case (i, s, e) => (s"part-0000$i.$ext", s, e, i * 100L) }

  /** recordsPerPartition = 40 is geometry-free, so both formats plan the
    * same ranges: the record bound clips the first and last file, the
    * value filter prunes file 0 by its zone map. */
  private def pinManual(src: String, dir: String, ext: String): Unit = {
    assert(plan(src, dir, byRecord, Some("40")) == expect(ext,
      (0, 30, 70), (0, 70, 100), (1, 0, 40), (1, 40, 80), (1, 80, 100),
      (2, 0, 40), (2, 40, 50)))
    assert(plan(src, dir, byValue, Some("40")) == expect(ext,
      (1, 0, 40), (1, 40, 80), (1, 80, 100), (2, 0, 40), (2, 40, 80), (2, 80, 100)))
  }

  test("netcdf3 plans exact partitions under record bounds and zone maps") {
    val dir = "/tmp/graft_nc_spec/autotune_pin3"
    NcIO.write(threeParts, dir)
    pinManual("netcdf3", dir, "nc")
    // autotuned: 16-byte records in 2048-byte chunks = 128 records per
    // chunk; 300 / (3 x 4 cores) = 25 records round up to one chunk,
    // more than a whole file
    assert(plan("netcdf3", dir, byRecord, None) ==
      expect("nc", (0, 30, 100), (1, 0, 100), (2, 0, 50)))
    assert(plan("netcdf3", dir, byValue, None) ==
      expect("nc", (1, 0, 100), (2, 0, 100)))
  }

  test("netcdf4 plans exact partitions under record bounds and zone maps") {
    val dir = "/tmp/graft_nc_spec/autotune_pin4"
    threeParts.write.format("netcdf4").mode("overwrite")
      .option("chunkrecs", "16").save(dir)
    pinManual("netcdf4", dir, "nc4")
    // autotuned: 16 records per HDF5 chunk (the chunkBytes option does
    // not apply). The record bound leaves 70 + 100 + 50 = 220 records;
    // 220 / (3 x 4 cores) = 18 records round up to two chunks = 32, and
    // each partition ends on the chunk grid: file 0's clipped start at
    // record 30 ends its first partition at the chunk boundary 48
    assert(plan("netcdf4", dir, byRecord, None) == expect("nc4",
      (0, 30, 48), (0, 48, 80), (0, 80, 100),
      (1, 0, 32), (1, 32, 64), (1, 64, 96), (1, 96, 100),
      (2, 0, 32), (2, 32, 50)))
    // the zone map leaves files 1 and 2: 200 / 12 = 16 records, one chunk
    assert(plan("netcdf4", dir, byValue, None) == expect("nc4",
      (1, 0, 16), (1, 16, 32), (1, 32, 48), (1, 48, 64), (1, 64, 80), (1, 80, 96),
      (1, 96, 100),
      (2, 0, 16), (2, 16, 32), (2, 32, 48), (2, 48, 64), (2, 64, 80), (2, 80, 96),
      (2, 96, 100)))
  }

  /** `threeParts` stored in 16-record chunks: HDF5 chunks for netcdf4,
    * deflated `.ncz` blocks of 256 bytes (16-byte records) for netcdf3. */
  private def writeGrid(fmt: String, dir: String): Unit = {
    val w = threeParts.write.format(fmt).mode("overwrite")
    (if (fmt == "netcdf4") w.option("chunkrecs", "16")
      else w.option("compressChunks", "true").option("chunkBytes", "256")).save(dir)
  }

  /** Records per stored chunk of the first part file, from its header. */
  private def storedChunkRecs(fmt: String, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("part-"))
      .minBy(_.getName)
    if (fmt == "netcdf4") Hdf5Format.readMeta(fs, first).vars.map(_.chunkRecs.toLong).max
    else NcFormat.readNczAny(fs, first).left.toOption.get.recordsPerBlock
  }

  private def grid(fmt: String, dir: String) =
    spark.read.format(fmt).option("chunkBytes", "256").load(dir)

  for (fmt <- Seq("netcdf3", "netcdf4")) {
    test(s"$fmt: autotuned partitions never decode one stored chunk twice") {
      val dir = s"/tmp/graft_nc_spec/grid_$fmt"
      writeGrid(fmt, dir)
      val chunk = storedChunkRecs(fmt, dir)
      assert(chunk == 16L)
      for ((lo, hi) <- Seq((30L, 250L), (37L, 283L), (5L, 299L), (120L, 170L), (90L, 118L))) {
        val parts = planned(grid(fmt, dir).filter(col("record") >= lo && col("record") < hi))
        val shared = parts
          .flatMap { case (f, s, e, _) => (s / chunk to (e - 1) / chunk).map(f -> _) }
          .groupBy(identity).collect { case (c, n) if n.size > 1 => c }
        assert(shared.isEmpty, s"[$lo, $hi): chunks $shared in two of $parts")
        assert(parts.map { case (_, s, e, _) => e - s }.sum == hi - lo, parts.toString)
      }
    }

    test(s"$fmt: a slice across a chunk and a file boundary equals a filtered full read") {
      val dir = s"/tmp/graft_nc_spec/grid_$fmt"
      writeGrid(fmt, dir)
      // chunk boundary at record 96, file boundary at 100, chunk
      // boundary at 116 (file 1's record 16)
      val (lo, hi) = (90L, 118L)
      val sliced = grid(fmt, dir).filter(col("record") >= lo && col("record") < hi)
      assert(planned(sliced).map { case (f, s, e, _) => (f.take(10), s, e) } ==
        Seq(("part-00000", 90L, 96L), ("part-00000", 96L, 100L),
          ("part-00001", 0L, 16L), ("part-00001", 16L, 18L)))
      def bits(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
      val got = sliced.select("record", "coord", "payload").collect().map(bits)
      val want = grid(fmt, dir).select("record", "coord", "payload").collect().map(bits)
        .filter { case (rec, _, _) => rec >= lo && rec < hi }
      assert(got.map(_._1).distinct.length == got.length, "a record came back twice")
      assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
      assert(got.length == hi - lo)
    }
  }
}

package graft

import java.io.{DataOutputStream, File, FileOutputStream}
import java.nio.file.{Files, Paths}

import graft.sources.netcdf.{NcFormat, NcIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Chunk-compressed (.ncz) part files: splittable compression —
  * deflated record blocks behind an uncompressed classic header and a
  * block-index footer, so compression costs neither read parallelism
  * nor record-range/zone-map pruning. */
class NczSpec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF3Source"
  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  test("ncz roundtrip preserves every value") {
    val dir = "/tmp/graft_nc_spec/ncz_roundtrip"
    NcIO.write(li.repartition(3), dir, compressChunks = true)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == li.count())
    // decimal sums: associative, so partition-split differences between
    // the parquet and ncz scans cannot perturb the comparison
    def sums(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum("l_orderkey"),
      sum(col("l_quantity").cast("decimal(20,2)")),
      sum(col("l_extendedprice").cast("decimal(20,2)"))).head()
    assert(sums(li) == sums(back))
  }

  test("ncz is smaller than the plain encoding") {
    val plain = "/tmp/graft_nc_spec/ncz_size_plain"
    val ncz = "/tmp/graft_nc_spec/ncz_size_comp"
    NcIO.write(li.repartition(1), plain)
    NcIO.write(li.repartition(1), ncz, compressChunks = true)
    val fs = new Path(plain).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(d: String) = fs.listStatus(new Path(d)).map(_.getLen).sum
    assert(bytes(ncz) < bytes(plain) * 3 / 4,
      s"ncz=${bytes(ncz)} plain=${bytes(plain)}")
  }

  test("ncz files stay splittable: one file plans many partitions") {
    val dir = "/tmp/graft_nc_spec/ncz_split"
    NcIO.write(li.repartition(1), dir, chunkBytes = 4096, compressChunks = true)
    val n = spark.read.format(SRC).option("chunkBytes", "4096").load(dir)
      .rdd.getNumPartitions
    assert(n > 4, s"expected a multi-partition scan over one .ncz file, got $n")
  }

  test("record-range pushdown returns the exact slice from compressed blocks") {
    val dir = "/tmp/graft_nc_spec/ncz_slice"
    NcIO.write(li.repartition(1).sortWithinPartitions("l_orderkey"), dir,
      chunkBytes = 4096, compressChunks = true)
    val back = spark.read.format(SRC).option("chunkBytes", "4096").load(dir)
    val sliced = back.filter(col("record") >= 100L && col("record") < 2100L)
    assert(sliced.count() == 2000)
    assert(sliced.agg(min("record"), max("record")).head() ==
      org.apache.spark.sql.Row(100L, 2099L))
    // and the values of the slice are the right ones, not just the count
    val expect = li.repartition(1).sortWithinPartitions("l_orderkey")
      .limit(2100).orderBy(desc("l_orderkey")).limit(2000)
      .agg(sum("l_orderkey")).head()
    assert(sliced.agg(sum("l_orderkey")).head() == expect)
  }

  test("zone maps still prune whole ncz files") {
    val dir = "/tmp/graft_nc_spec/ncz_zone"
    NcIO.write(
      li.repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey"),
      dir, compressChunks = true)
    val back = spark.read.format(SRC).load(dir)
    // an out-of-range filter plans zero partitions
    val none = back.filter(col("l_orderkey") > 100000000L)
    assert(none.rdd.getNumPartitions == 0 || none.count() == 0)
    val some = back.filter(col("l_orderkey") <= 10L)
    assert(some.count() == li.filter(col("l_orderkey") <= 10L).count())
  }

  test("dsv2 write path produces ncz via option") {
    val dir = "/tmp/graft_nc_spec/ncz_dsv2"
    li.limit(200).repartition(1).write.format(SRC)
      .option("compressChunks", "true").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    assert(names.exists(_.endsWith(".ncz")), names.mkString(","))
    assert(spark.read.format(SRC).load(dir).count() == 200)
  }

  test("string and array columns roundtrip through ncz") {
    val dir = "/tmp/graft_nc_spec/ncz_mixed"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    NcIO.write(emb.repartition(2), dir, compressChunks = true)
    val back = spark.read.format(SRC).load(dir)
    val s1 = emb.select(sum(expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    val s2 = back.select(sum(expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    assert(back.count() == emb.count() && s1 == s2)
  }

  test("incompressible blocks are stored raw (negative index len) and roundtrip") {
    import graft.sources.netcdf.NcFormat
    val dir = "/tmp/graft_nc_spec/ncz_stored"
    // high-entropy payload: ONLY md5-derived longs, full 64 bits each,
    // under per-column string namespaces — numeric salts (id + k)
    // would make column B of row i EQUAL column A of row i+k, feeding
    // LZ77 enough repeats to halve the block (verified: 2.2x)
    def h(ns: String) =
      s"shiftleft(CAST(CONV(SUBSTRING(md5(concat('$ns:', CAST(id AS STRING))), 1, 15), 16, 10) AS BIGINT), 4)" +
        s" | CAST(CONV(SUBSTRING(md5(concat('$ns:', CAST(id AS STRING))), 16, 1), 16, 10) AS BIGINT)"
    val noisy = spark.range(0, 5000).selectExpr(
      s"${h("a")} AS h1", s"${h("b")} AS h2", s"${h("c")} AS h3")
    NcIO.write(noisy.repartition(1), dir, compressChunks = true)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".ncz")).get
    val idx = NcFormat.readNczIndex(fs, part)
    assert(idx.blocks.exists(_._2 < 0),
      "expected at least one stored (negative-length) block for high-entropy data")
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 5000)
    def s(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("h1").cast("decimal(38,0)")), sum(col("h2").cast("decimal(38,0)")),
        sum(col("h3").cast("decimal(38,0)"))).head()
    assert(s(noisy) == s(back))
    // and compressible data still deflates (both paths coexist)
    val dir2 = "/tmp/graft_nc_spec/ncz_mixed_codec"
    NcIO.write(li.repartition(1), dir2, compressChunks = true)
    val part2 = fs.listStatus(new Path(dir2)).map(_.getPath)
      .find(_.getName.endsWith(".ncz")).get
    assert(NcFormat.readNczIndex(fs, part2).blocks.exists(_._2 > 0),
      "compressible lineitem blocks should still deflate")
  }

  // ------------------------------------------------------------------
  // GRF3 (shuffle4+deflate-4 blocks) and the legacy GRFZ layout
  // ------------------------------------------------------------------

  private def fsOf(d: String) = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def partOf(d: String, ext: String): Path =
    fsOf(d).listStatus(new Path(d)).map(_.getPath).find(_.getName.endsWith(ext)).get

  /** The GRFZ (.ncz v1) encoding of a plain `.nc` file, as the writer
    * produced it before GRF3: the same header, then `chunkBytes /
    * recSize` whole records per block, each deflated unshuffled by a
    * default `java.util.zip.Deflater` — or stored raw (negative length)
    * when that does not shrink it, or when `storeLast` forces the tail
    * block raw — then the v1 footer. */
  private def legacyNcz(plain: Path, out: File, chunkBytes: Int, storeLast: Boolean): Unit = {
    val meta = NcFormat.readMeta(fsOf(plain.toString), plain)
    val bytes = Files.readAllBytes(Paths.get(plain.toUri.getPath))
    val dataStart = meta.recordVars.map(_.begin).min.toInt
    val recSize = meta.recSize.toInt
    val rpb = math.max(1, chunkBytes / recSize)
    val o = new DataOutputStream(new FileOutputStream(out))
    try {
      o.write(bytes, 0, dataStart)
      var pos = dataStart.toLong
      val index = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
      var r = 0
      while (r < meta.numRecs) {
        val n = math.min(rpb.toLong, meta.numRecs - r).toInt
        val raw = java.util.Arrays.copyOfRange(bytes, dataStart + r * recSize,
          dataStart + (r + n) * recSize)
        val d = new java.util.zip.Deflater()
        d.setInput(raw); d.finish()
        val comp = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](1 << 16)
        while (!d.finished()) comp.write(tmp, 0, d.deflate(tmp))
        d.end()
        val last = r + n == meta.numRecs
        if (comp.size() < raw.length && !(storeLast && last)) {
          o.write(comp.toByteArray); index += ((pos, comp.size(), n)); pos += comp.size()
        } else {
          o.write(raw); index += ((pos, -raw.length, n)); pos += raw.length
        }
        r += n
      }
      o.writeInt(index.size)
      o.writeLong(rpb.toLong)
      index.foreach { case (off, clen, k) => o.writeLong(off); o.writeInt(clen); o.writeInt(k) }
      o.writeLong(pos)
      o.writeInt(NcFormat.NCZ_MAGIC)
    } finally o.close()
  }

  private def mixed = spark.range(0, 3000).selectExpr("id",
    "CAST(id * 0.37 AS DOUBLE) AS d", "CAST(sin(id) AS FLOAT) AS f",
    "CAST(id % 7 AS INT) AS i", "CAST(id % 5 - 2 AS SHORT) AS h",
    "array(CAST(id AS FLOAT), CAST(id / 3 AS FLOAT), CAST(-id AS FLOAT)) AS a",
    "concat('s', CAST(id AS STRING)) AS s")

  /** Every value of a netcdf3 read, floats and doubles as raw bits. */
  private def bits(d: String): Seq[Seq[Any]] =
    spark.read.format("netcdf3").load(d).orderBy("record").collect().toSeq.map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case x: Float => java.lang.Float.floatToRawIntBits(x)
      case xs: scala.collection.Seq[_] => xs.map {
        case x: Float => java.lang.Float.floatToRawIntBits(x)
        case x => x
      }
      case x => x
    })

  test("a shuffled block wider than the reader's inflate window, with a sub-word tail, reads back") {
    import org.apache.spark.sql.types._
    // one short column: 2-byte records, so 100001 records make a
    // 200002-byte block — four 64 KiB inflate pieces and a 2-byte tail
    val n = 100001
    val path = "/tmp/graft_nc_spec/ncz_wide_block.ncz"
    val w = new NcFormat.Writer(path, StructType(Seq(StructField("s", ShortType))),
      chunkBytes = 1 << 20, compressChunks = true)
    (0 until n).foreach(r => w.writeRow(_ => ((r * 7919) % 65536 - 32768).toShort))
    w.close()
    val p = new Path(path)
    val fs = fsOf(path)
    val idx = NcFormat.readNczAny(fs, p).left.toOption.get
    assert(idx.codec == NcFormat.CODEC_SHUFFLE4_DEFLATE && idx.blocks.length == 1 &&
      idx.blocks(0)._2 > 0)
    val rd = new NcFormat.RangeReader(fs, p, NcFormat.readMeta(fs, p), 0L, n.toLong, Seq("s"))
    try {
      assert(rd.loadChunk() == n)
      (0 until n).foreach(r => assert(rd.getShortAt(0, r) == ((r * 7919) % 65536 - 32768).toShort,
        s"record $r"))
    } finally rd.close()
  }

  test("GRFZ files written before the shuffle codec read back bit-exact") {
    val plain = "/tmp/graft_nc_spec/grfz_plain"
    val legacy = "/tmp/graft_nc_spec/grfz_legacy"
    NcIO.write(mixed.repartition(1), plain, chunkBytes = 4096)
    new File(legacy).mkdirs()
    new File(legacy).listFiles().foreach(_.delete())
    legacyNcz(partOf(plain, ".nc"), new File(legacy, "part-00000.ncz"), 4096, storeLast = true)
    val idx = NcFormat.readNczAny(fsOf(legacy), partOf(legacy, ".ncz")).left.toOption.get
    assert(idx.codec == NcFormat.CODEC_DEFLATE && idx.blocks.length > 3)
    assert(idx.blocks.init.forall(_._2 > 0) && idx.blocks.last._2 < 0)
    val back = bits(legacy)
    assert(back.size == 3000)
    assert(back == bits(plain))
    // and a record-range slice seeks into the legacy blocks
    assert(spark.read.format("netcdf3").load(legacy)
      .filter(col("record") >= 1234L && col("record") < 1300L)
      .agg(sum("id")).head().getLong(0) == (1234L until 1300L).sum)
  }

  test("the default .ncz footer carries codec 3 and stores no more than GRFZ") {
    val plain = "/tmp/graft_nc_spec/grf3_plain"
    val ncz = "/tmp/graft_nc_spec/grf3_ncz"
    val legacy = "/tmp/graft_nc_spec/grf3_legacy"
    // the gridded float variable the codec is for: a 16x16 field of
    // quantised values (a slow ramp plus bounded noise, in 1/64 steps)
    // with a time and a station per record, 5000 records (two blocks)
    val rows = spark.range(0, 5000, 1, 1).selectExpr(
      "transform(sequence(0, 255), j -> CAST((16 * ((CAST(id DIV 64 AS INT) + j DIV 16 + j % 16) % 256)" +
        " + pmod(hash(id, j), 256) - 128) / 64.0 AS FLOAT)) AS field",
      "CAST(id AS DOUBLE) * 0.25D AS time", "CAST(pmod(hash(id), 1000) AS INT) AS station")
    NcIO.write(rows, plain)
    NcIO.write(rows, ncz, compressChunks = true)
    new File(legacy).mkdirs()
    new File(legacy).listFiles().foreach(_.delete())
    legacyNcz(partOf(plain, ".nc"), new File(legacy, "part-00000.ncz"), 4 << 20,
      storeLast = false)
    val part = partOf(ncz, ".ncz")
    val idx = NcFormat.readNczAny(fsOf(ncz), part).left.toOption.get
    assert(idx.codec == NcFormat.CODEC_SHUFFLE4_DEFLATE && idx.blocks.length == 2)
    val fs = fsOf(ncz)
    val stored = fs.getFileStatus(part).getLen
    val grfz = fs.getFileStatus(partOf(legacy, ".ncz")).getLen
    assert(stored <= grfz, s"GRF3 $stored bytes > GRFZ $grfz bytes")
    assert(bits(ncz) == bits(plain))
  }

  test("an unknown codec byte raises an IOException naming file, variable, block and codec") {
    val dir = "/tmp/graft_nc_spec/ncz_bad_codec"
    NcIO.write(li.limit(500).repartition(1), dir, compressChunks = true,
      varCodecs = Map("l_orderkey" -> "deflate"))
    val part = partOf(dir, ".ncz")
    // v2 footer: nVars: int, then var 0's recordsPerBlock: long, codec: byte
    val raf = new java.io.RandomAccessFile(part.toUri.getPath, "rw")
    try {
      raf.seek(raf.length() - 12)
      val footerStart = raf.readLong()
      raf.seek(footerStart + 4 + 8)
      assert(raf.readByte() == NcFormat.CODEC_DEFLATE)
      raf.seek(footerStart + 4 + 8)
      raf.writeByte(9)
    } finally raf.close()
    val fs = fsOf(dir)
    val meta = NcFormat.readMeta(fs, part)
    val rd = new NcFormat.RangeReader(fs, part, meta, 0L, meta.numRecs, Seq("l_orderkey"))
    val e = try intercept[java.io.IOException](rd.loadChunk()) finally rd.close()
    Seq(part.toString, "variable l_orderkey", "block 0", "codec 9").foreach(w =>
      assert(e.getMessage.contains(w), e.getMessage))
    // the same error surfaces through a scan
    val se = intercept[Exception](spark.read.format("netcdf3").load(dir).agg(sum("l_orderkey")).collect())
    assert(Iterator.iterate[Throwable](se)(_.getCause).takeWhile(_ != null)
      .exists(x => x.isInstanceOf[java.io.IOException] && x.getMessage.contains("codec 9")))
  }

  test("an aborted write closes its spool before deleting it") {
    import graft.sources.netcdf.{NetCDF3, SerializableHadoopConf}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val base = s"abort_probe_${System.nanoTime()}"
    val w = NetCDF3.dataWriter(StructType(Seq(StructField("x", DoubleType))),
      "/tmp/graft_nc_spec/abort", base, Map("compresschunks" -> "true"),
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    (0 until 100).foreach(i => w.write(InternalRow(i.toDouble)))
    // descriptors of this JVM that point at the spool (a deleted file
    // still shows, with a " (deleted)" suffix)
    def spoolFds: Seq[String] = Option(new File("/proc/self/fd").listFiles()).toSeq.flatten
      .flatMap(f => scala.util.Try(Files.readSymbolicLink(f.toPath).toString).toOption)
      .filter(_.contains(base))
    assert(spoolFds.nonEmpty, "the spool should be open while writing")
    w.abort()
    w.close()
    assert(spoolFds.isEmpty, spoolFds.mkString(", "))
  }
}

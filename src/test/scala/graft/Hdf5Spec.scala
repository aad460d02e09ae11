package graft

import graft.sources.netcdf.{ChunkCodec, ChunkIndex, ChunkIndexSpec, Hdf5Format, Hdf5IO, NetCDF4,
  RecordRangePartition}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The HDF5/netCDF-4 subset: both superblock generations roundtrip,
  * chunk B-trees prune by record range, projection prunes at the
  * stored-chunk level, deflate behaves per chunk, and the lookup3
  * checksum matches the published reference vector. */
class Hdf5Spec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF4Source"
  private def fs = new Path("/tmp").getFileSystem(new Configuration())

  private def mixedDf(n: Int) = {
    val schema = StructType(Seq(
      StructField("lk", LongType), StructField("iv", IntegerType),
      StructField("dv", DoubleType), StructField("fv", FloatType),
      StructField("sv", StringType), StructField("emb", ArrayType(FloatType, false))))
    val rows = (0 until n).map(k => Row(
      k.toLong * 1000000007L, k, k + 0.25, (k * 2).toFloat,
      s"doc-$k", Array.fill(8)(k.toFloat / 3f).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("lookup3 matches the published reference vector") {
    // from Bob Jenkins' lookup3.c self-test: hashlittle("Four score and
    // seven years ago", 30, 0) = 0x17770551
    val v = Hdf5Format.lookup3("Four score and seven years ago".getBytes("ASCII"))
    assert(v == 0x17770551, f"got 0x$v%08x")
    assert(Hdf5Format.lookup3(Array.emptyByteArray) == 0xdeadbeef)
  }

  for (ver <- Seq(0, 2)) {
    test(s"mixed-type roundtrip through superblock v$ver") {
      val dir = s"/tmp/graft_h5/round$ver"
      val df = mixedDf(3000)
      Hdf5IO.write(df, dir, chunkRecs = 256, deflate = true, h5ver = ver,
        arrayLens = Map("emb" -> 8))
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 3000)
      assert(back.schema("lk").dataType == LongType)
      assert(back.schema("iv").dataType == IntegerType)
      assert(back.schema("sv").dataType == StringType)
      assert(back.schema("emb").dataType == ArrayType(FloatType, containsNull = false))
      val exp = df.agg(sum("lk"), sum("iv"), sum("dv"), sum("fv")).head()
      val got = back.agg(sum("lk"), sum("iv"), sum("dv"), sum("fv")).head()
      assert(exp == got)
      // strings + arrays content-exact
      val s0 = back.filter(col("sv") === "doc-42").select("lk", "emb").head()
      assert(s0.getLong(0) == 42L * 1000000007L)
      assert(s0.getSeq[Float](1) == Seq.fill(8)(14f))
    }
  }

  test("user ergonomics: short-name format and single-FILE load both work") {
    // how every user first points the engine at a wild file:
    // spark.read.format("netcdf4").load("/path/file.nc") — short name
    // via META-INF/services, path a FILE rather than a directory
    val dir = "/tmp/graft_h5/single"
    Hdf5IO.write(
      spark.range(500).select(col("id").cast(DoubleType).as("x")).coalesce(1),
      dir, chunkRecs = 64, deflate = true)
    val fsl = fs
    val file = NetCDF4.listFiles(fsl, new Path(dir)).head
    val back = spark.read.format("netcdf4").load(file.toString)
    assert(back.count() == 500)
    assert(back.agg(sum("x")).head().getDouble(0) == (0 until 500).map(_.toDouble).sum)
    assert(back.schema.fieldNames.contains("record"))
    // the netcdf3 short name resolves through the same ServiceLoader path
    val cls3 = org.apache.spark.sql.execution.datasources.DataSource
      .lookupDataSource("netcdf3", spark.sessionState.conf)
    assert(cls3.getName == "graft.sources.netcdf.NetCDF3Source")
  }

  test("record-range pushdown prunes partitions and chunk reads") {
    val dir = "/tmp/graft_h5/prune"
    Hdf5IO.write(
      spark.range(100000).select(col("id").cast(DoubleType).as("x"),
        (col("id") * 2).cast(DoubleType).as("y")).coalesce(1),
      dir, chunkRecs = 1000, deflate = true)
    val all = spark.read.format(SRC).load(dir)
    // no variable selected: count() and the virtual record column alone
    // still step through every record of the range
    assert(all.count() == 100000L)
    assert(all.select("record").agg(sum("record")).head().getLong(0) == (0L until 100000L).sum)
    val recOnly = all.filter(col("record") >= 4500L && col("record") < 7250L).select("record")
    assert(recOnly.collect().map(_.getLong(0)).sorted.toSeq == (4500L until 7250L))
    val sliced = all.filter(col("record") >= 50000L && col("record") < 51000L)
      .select("record", "x")
    assert(sliced.count() == 1000)
    assert(sliced.agg(sum("x")).head().getDouble(0) == (50000L until 51000L).map(_.toDouble).sum)
    // plan shows the pushed record range and the pruned variable list
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("records=[50000,51000)"), plan)
    assert(plan.contains("vars=[record,x]") && !plan.contains("y"), plan)
    // partition count: 1000 records of a 100k-file → far fewer splits
    val allParts = all.rdd.getNumPartitions
    val slicedParts = sliced.rdd.getNumPartitions
    assert(slicedParts < allParts, s"$slicedParts !< $allParts")
  }

  test("projection reads only the selected variable's stored chunks") {
    val dir = "/tmp/graft_h5/proj"
    Hdf5IO.write(
      spark.range(10000).select(col("id").cast(DoubleType).as("a"),
        (col("id") + 1).cast(DoubleType).as("b")).coalesce(1),
      dir, chunkRecs = 500, deflate = true)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    val va = meta.vars.find(_.name == "a").get
    val vb = meta.vars.find(_.name == "b").get
    // a VarReader over a record window fetches only covering chunks
    val ra = new Hdf5Format.VarReader(fs, f, va, 0L, 1000L)
    val raFull = new Hdf5Format.VarReader(fs, f, va, 0L, 10000L)
    assert(ra.plannedStoredBytes < raFull.plannedStoredBytes)
    ra.close(); raFull.close()
    // per-variable chunk trees: b's chunks are disjoint byte ranges
    // from a's, so projecting a never touches b's stored bytes
    val aRanges = va.chunks.map(c => (c.addr, c.addr + c.storedSize)).toSet
    val bRanges = vb.chunks.map(c => (c.addr, c.addr + c.storedSize)).toSet
    assert(aRanges.intersect(bRanges).isEmpty)
    assert(va.chunks.nonEmpty && vb.chunks.nonEmpty)
  }

  test("incompressible chunks store raw with the filter masked out") {
    val dir = "/tmp/graft_h5/mask"
    // xxhash64 longs are full-entropy 8-byte values: deflate cannot
    // shrink a chunk of them below its raw size
    Hdf5IO.write(
      spark.range(4000).select(xxhash64(col("id")).as("noise")).coalesce(1),
      dir, chunkRecs = 512, deflate = true)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    val v = meta.vars.head
    assert(v.deflate)
    assert(v.chunks.exists(_.filterMask == 1), "expected raw-stored chunks")
    // and the values still roundtrip exactly
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 4000)
  }

  test("shuffle+deflate pipeline roundtrips exactly (both superblock generations)") {
    // the netCDF4 library's default: createVariable(zlib=True, shuffle=True)
    for (ver <- Seq(0, 2)) {
      val dir = s"/tmp/graft_h5/shuffle$ver"
      val df = mixedDf(3000)
      Hdf5IO.write(df, dir, chunkRecs = 256, deflate = true, h5ver = ver,
        arrayLens = Map("emb" -> 8), shuffle = true)
      val f = NetCDF4.listFiles(fs, new Path(dir)).head
      val meta = Hdf5Format.readMeta(fs, f)
      assert(meta.vars.forall(v => v.shuffle && v.deflate))
      val back = spark.read.format(SRC).load(dir)
      val exp = df.agg(sum("lk"), sum("iv"), sum("dv"), sum("fv")).head()
      val got = back.agg(sum("lk"), sum("iv"), sum("dv"), sum("fv")).head()
      assert(exp == got)
      val s0 = back.filter(col("sv") === "doc-42").select("lk", "emb").head()
      assert(s0.getLong(0) == 42L * 1000000007L)
      assert(s0.getSeq[Float](1) == Seq.fill(8)(14f))
    }
  }

  test("shuffle transpose is an exact inverse pair and helps compression") {
    val src = (0 until 512 * 8).map(i => (i % 251).toByte).toArray
    val shuf = new Array[Byte](src.length)
    ChunkCodec.shuffle(src, src.length, 8, shuf, 0, src.length)
    assert(!java.util.Arrays.equals(shuf, src))
    val back = new Array[Byte](src.length)
    ChunkCodec.unshuffle(shuf, 0, src.length, back, src.length, 8)
    assert(java.util.Arrays.equals(back, src))
    // incompressible-as-longs data (counter in the LOW byte) becomes
    // runs after the transpose — the reason the filter exists
    val dir = "/tmp/graft_h5/shuffle_gain"
    val dirPlain = "/tmp/graft_h5/shuffle_plain"
    val df = spark.range(20000).select((col("id") * 1000003L).as("v")).coalesce(1)
    Hdf5IO.write(df, dir, chunkRecs = 2048, deflate = true, shuffle = true)
    Hdf5IO.write(df, dirPlain, chunkRecs = 2048, deflate = true)
    def storedBytes(d: String): Long = {
      val f = NetCDF4.listFiles(fs, new Path(d)).head
      Hdf5Format.readMeta(fs, f).vars.flatMap(_.chunks).map(_.storedSize.toLong).sum
    }
    assert(storedBytes(dir) < storedBytes(dirPlain),
      s"${storedBytes(dir)} !< ${storedBytes(dirPlain)}")
  }

  test("multi-file union assigns contiguous global record offsets") {
    val dir = "/tmp/graft_h5/multi"
    Hdf5IO.write(
      spark.range(5000).select(col("id").cast(DoubleType).as("x")).repartition(4),
      dir, chunkRecs = 300)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 5000)
    val recs = back.agg(count(lit(1)), countDistinct(col("record")),
      min("record"), max("record")).head()
    assert(recs.getLong(0) == 5000 && recs.getLong(1) == 5000)
    assert(recs.getLong(2) == 0L && recs.getLong(3) == 4999L)
    assert(back.agg(sum("x")).head().getDouble(0) == (0L until 5000L).map(_.toDouble).sum)
  }

  test("value filters prune part files via automatic actual_range zone maps") {
    val dir = "/tmp/graft_h5/zskip"
    Hdf5IO.write(
      spark.range(80000).select(col("id").cast(DoubleType).as("k"),
        (col("id") * 3).cast(DoubleType).as("p"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      dir, chunkRecs = 1000)
    val all = spark.read.format(SRC).load(dir)
    assert(all.rdd.getNumPartitions >= 8)
    val sliced = all.filter(col("k") >= 30000.0 && col("k") < 31000.0)
    assert(sliced.count() == 1000)
    // disjoint per-file ranges: the slice covers at most 2 of 8 files
    // (counted as the files its planned partitions read: how finely the
    // surviving records split is the autotuner's business)
    def files(df: org.apache.spark.sql.DataFrame) = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().toSeq
    }.flatten.map(_.asInstanceOf[RecordRangePartition].file).distinct
    assert(files(all).size == 8)
    val touched = files(sliced).size
    assert(touched <= 2, s"zone maps did not prune: $touched of 8 files")
    // a filter outside every file's range plans zero partitions
    val none = all.filter(col("k") >= 1.0e9)
    assert(none.rdd.getNumPartitions == 0 || none.count() == 0)
    assert(none.count() == 0)
    // long variables widen endpoints outward (conservative above 2^53)
    val meta = Hdf5Format.readMeta(fs, NetCDF4.listFiles(fs, new Path(dir)).head)
    assert(meta.vars.forall(_.range.isDefined))
  }

  test("'/'-pathed variables land in real HDF5 subgroups and group-scope the schema") {
    val dir = "/tmp/graft_h5/groups"
    Hdf5IO.write(
      spark.range(2000).select(
        col("id").cast(DoubleType).as("a/x"),
        (col("id") * 2).cast(DoubleType).as("a/y"),
        (col("id") + 7).cast(DoubleType).as("b/z"),
        col("id").cast(DoubleType).as("plain")).coalesce(1),
      dir, chunkRecs = 500)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    assert(meta.vars.map(_.name).sorted == Seq("a/x", "a/y", "b/z", "plain"))
    // group scoping: only group a's variables (+ record) in the schema
    val ga = spark.read.format(SRC).option("group", "a").load(dir)
    assert(ga.columns.toSet == Set("record", "a/x", "a/y"), ga.columns.mkString(","))
    assert(ga.agg(sum("a/x")).head().getDouble(0) == (0L until 2000L).map(_.toDouble).sum)
    // full read still sees everything, values intact across groups
    val all = spark.read.format(SRC).load(dir)
    assert(all.agg(sum("b/z")).head().getDouble(0) == (0L until 2000L).map(i => (i + 7).toDouble).sum)
  }

  test("v1 object headers with continuation blocks parse (wild-file path)") {
    // hand-assemble what the HDF5 library emits when a header outgrows
    // its first block: prefix + [dataspace msg][continuation msg] with
    // the datatype message living in a separate continuation block
    import java.io.ByteArrayOutputStream
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Int): Unit = { u16(v); u16(v >> 16) }
    def u64(v: Long): Unit = { u32(v.toInt); u32((v >> 32).toInt) }
    // continuation target block at offset 64: one datatype message
    val contAddr = 80L
    val contLen = 8 + 16 // msg header + fixed-point datatype padded
    // header at 0: v1 prefix, 2 messages, block size = dataspace(8+24) + continuation(8+16)
    u8(1); u8(0); u16(3); u32(1); u32(32 + 24); u32(0) // ver, nmsgs=3, refcount, hdrsize, pad
    // dataspace msg: rank-1 dims [5], maxdims
    u16(0x0001); u16(24); u32(0)
    u8(1); u8(1); u8(1); u8(0); u32(0); u64(5L); u64(5L)
    // continuation msg
    u16(0x0010); u16(16); u32(0)
    u64(contAddr); u64(contLen.toLong)
    while (out.size() < contAddr) u8(0)
    // continuation block: datatype message (int64 LE signed)
    u16(0x0003); u16(16); u32(0)
    u8(0x10); u8(0x08); u8(0); u8(0); u32(8); u16(0); u16(64); u32(0)
    val p = new Path("/tmp/graft_h5/cont_hdr.bin")
    val os = fs.create(p, true)
    os.write(out.toByteArray); os.close()
    val msgs = Hdf5Format.readMessagesAt(fs, p, 0L)
    val types = msgs.map(_._1)
    assert(types.contains(0x0001) && types.contains(0x0003), types.toString)
    assert(!types.contains(0x0010), "continuation should be followed, not surfaced")
    val ds = msgs.find(_._1 == 0x0001).get._2
    assert((ds(1) & 0xff) == 1) // rank 1 survived
  }

  test("root attributes carry netCDF-4 properties; var attrs roundtrip") {
    val dir = "/tmp/graft_h5/attrs"
    Hdf5IO.write(spark.range(100).select(col("id").cast(DoubleType).as("x")).coalesce(1), dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    val nc = meta.rootAttrs.find(_.name == "_NCProperties")
    assert(nc.exists(_.text.exists(_.startsWith("version=2,netcdf="))))
  }

  test("DSv2 write surface roundtrips mixed types with shuffle+deflate") {
    val dir = "/tmp/graft_h5/dsv2_write"
    val df = mixedDf(3000)
    df.write.format(SRC).mode("overwrite")
      .option("chunkrecs", "256")
      .option("shuffle", "true")
      .option("arraylens", "emb=8")
      .save(dir)
    // 2 input partitions → 2 part files, each a real filtered HDF5 file
    val files = NetCDF4.listFiles(fs, new Path(dir))
    assert(files.size == 2, files.map(_.getName).toString)
    val meta = Hdf5Format.readMeta(fs, files.head)
    assert(meta.vars.forall(v => v.deflate && v.shuffle))
    val back = spark.read.format(SRC).load(dir)
    val exp = df.agg(sum("lk"), sum("iv"), sum("dv"), sum("fv")).head()
    val got = back.agg(sum("lk"), sum("iv"), sum("dv"), sum("fv")).head()
    assert(exp == got)
    val s0 = back.filter(col("sv") === "doc-42").select("lk", "emb").head()
    assert(s0.getLong(0) == 42L * 1000000007L)
    assert(s0.getSeq[Float](1) == Seq.fill(8)(14f))

    // bitfields of every width read zero-extended (a stored 0x80 byte is
    // 128), and opaque elements as their exact bytes, zeros included
    val bitsDir = "/tmp/graft_h5/dsv2_write_bits"
    val bitsSchema = StructType(Seq(StructField("b1", LongType), StructField("b2", LongType),
      StructField("b4", LongType), StructField("b8", LongType), StructField("op", BinaryType)))
    def bitsRow(k: Int) = Row(0x80L | (k % 0x80), 0x8000L | k, 0x80000000L | k,
      0x8000000000000000L | k, Array[Byte](0x80.toByte, (k % 251).toByte, 0, -1, 0))
    spark.createDataFrame(spark.sparkContext.parallelize((0 until 700).map(bitsRow), 2), bitsSchema)
      .write.format(SRC).mode("overwrite")
      .option("chunkrecs", "128").option("shuffle", "true")
      .option("bitfield.b1", "1").option("bitfield.b2", "2")
      .option("bitfield.b4", "4").option("bitfield.b8", "8")
      .option("opaque.op", "5:flags")
      .save(bitsDir)
    val bits = spark.read.format(SRC).load(bitsDir)
    assert(bits.schema.map(_.dataType) ==
      Seq(LongType, LongType, LongType, LongType, LongType, BinaryType), bits.schema.toString)
    val rows = bits.collect().sortBy(_.getLong(0))
    assert(rows.length == 700)
    rows.zipWithIndex.foreach { case (r, k) =>
      val want = bitsRow(k)
      (0 until 4).foreach(j => assert(r.getLong(j + 1) == want.getLong(j), s"record $k col $j"))
      assert(r.getAs[Array[Byte]](5).toSeq == want.getAs[Array[Byte]](4).toSeq, s"record $k op")
    }
    assert(rows(0).getLong(1) == 128L && rows(0).getLong(2) == 0x8000L &&
      rows(0).getLong(3) == 0x80000000L)
  }

  test("DSv2 append mode accumulates part files; overwrite truncates") {
    val dir = "/tmp/graft_h5/dsv2_append"
    val a = spark.range(0, 500).select(col("id").cast(DoubleType).as("x")).coalesce(1)
    val b = spark.range(500, 800).select(col("id").cast(DoubleType).as("x")).coalesce(1)
    a.write.format(SRC).mode("overwrite").save(dir)
    b.write.format(SRC).mode("append").option("partprefix", "b")
      .option("h5ver", "2").save(dir)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 800)
    assert(back.agg(sum("x")).head().getDouble(0) == (0 until 800).map(_.toDouble).sum)
    // overwrite truncates the mixed-generation dir back to one job's parts
    a.write.format(SRC).mode("overwrite").save(dir)
    assert(spark.read.format(SRC).load(dir).count() == 500)
  }

  for (ver <- Seq(0, 2)) {
    test(s"vlen strings roundtrip through the global heap (superblock v$ver)") {
      val dir = s"/tmp/graft_h5/vlen$ver"
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("txt", StringType)))
      // mixed lengths: empty, short, multi-KB (forces several GCOL
      // collections at the 64 KiB close threshold), plus non-ASCII
      val rows = (0 until 400).map { k =>
        val s = k % 7 match {
          case 0 => ""
          case 1 => "héllo wörld " + k
          case _ => ("x" * (k * 37 % 4000)) + s"#$k"
        }
        Row(k.toLong, s)
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      df.write.format(SRC).mode("overwrite")
        .option("vlenstrings", "true")
        .option("chunkrecs", "64")
        .option("h5ver", ver.toString)
        .option("shuffle", "true")
        .save(dir)
      val back = spark.read.format(SRC).load(dir)
      assert(back.schema("txt").dataType == StringType)
      assert(back.count() == 400)
      // content-exact: join back to the source by doc_id, all equal
      val joined = back.select(col("doc_id"), col("txt").as("got"))
        .join(df.select(col("doc_id"), col("txt").as("exp")), "doc_id")
      assert(joined.filter(col("got") =!= col("exp")).count() == 0)
      assert(back.filter(col("txt") === "").count() == df.filter(col("txt") === "").count())
    }
  }

  test("vlen fixture writer and record pushdown compose") {
    val dir = "/tmp/graft_h5/vlen_fix"
    Hdf5IO.write(
      spark.range(1000).select(col("id"),
        concat(lit("doc-"), col("id")).as("s")).coalesce(1),
      dir, chunkRecs = 100, vlenStrings = true)
    val got = spark.read.format(SRC).load(dir)
      .filter(col("record") >= 500L && col("record") < 510L)
      .select("s").collect().map(_.getString(0)).sorted
    assert(got.toSeq == (500 until 510).map(i => s"doc-$i").sorted)
  }

  test("compound (class 6) struct columns roundtrip; v3 member framing parses") {
    val dir = "/tmp/graft_h5/compound"
    val df = spark.range(2000).select(
      struct(col("id").as("k"),
        (col("id") * 2).cast(IntegerType).as("i"),
        (col("id") + 0.5).as("d"),
        concat(lit("s"), col("id")).as("s")).as("rec_c"),
      col("id").cast(DoubleType).as("x"))
    df.coalesce(2).write.format(SRC).mode("overwrite")
      .option("chunkrecs", "256").save(dir)
    val back = spark.read.format(SRC).load(dir)
    assert(back.schema("rec_c").dataType.isInstanceOf[StructType])
    val exp = df.agg(sum("rec_c.k"), sum("rec_c.i"), sum("rec_c.d"), sum("x")).head()
    val got = back.agg(sum("rec_c.k"), sum("rec_c.i"), sum("rec_c.d"), sum("x")).head()
    assert(exp == got)
    val r42 = back.filter(col("rec_c.k") === 42L).select("rec_c.s").head()
    assert(r42.getString(0) == "s42")
    // nested-schema pruning hands the scan a member subset in another
    // order than the file's (k, i, d, s); each maps back by name
    val pruned = back.select(col("record"), col("rec_c.s"), col("rec_c.k"))
    val readStruct = pruned.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.readSchema()
    }.get("rec_c").dataType.asInstanceOf[StructType]
    assert(readStruct.fieldNames.toSet == Set("s", "k"), readStruct.toString)
    val got2 = pruned.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got2.sortBy(_._1).toSeq == (0L until 2000L).map(k => (k, s"s$k", k)))

    // hand-built v3 message (HDF5 1.8+ writer framing): unpadded
    // names, minimal-byte offsets — 12-byte element {i64 a; f4 b}
    val m = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = m.write(v & 0xff)
    def u32(v: Int): Unit = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
    u8(0x36); u8(2); u8(0); u8(0); u32(12) // v3 compound, 2 members, size 12
    "a".getBytes.foreach(b => u8(b)); u8(0); u8(0) // name "a"\0, offset 0 (1 byte: size 12 < 256)
    u8(0x10); u8(0x08); u8(0); u8(0); u32(8); u8(0); u8(0); u8(64); u8(0) // i64
    "b".getBytes.foreach(b => u8(b)); u8(0); u8(8) // name "b"\0, offset 8
    u8(0x11); u8(0x20); u8(0x1f); u8(0); u32(4) // f4 prefix
    u8(0); u8(0); u8(32); u8(0); u8(23); u8(8); u8(0); u8(23); u32(127) // f4 props
    val ms = Hdf5Format.parseCompoundMessage(m.toByteArray)
    assert(ms == Seq(("a", Hdf5Format.KLong, 0), ("b", Hdf5Format.KFloat, 8)), ms.toString)
  }

  test("dense root groups (fractal heap + v2 B-tree) roundtrip many variables") {
    val dir = "/tmp/graft_h5/dense"
    // 12 variables — past the library's compact-link threshold, the
    // shape that forces dense storage in wild files
    val cols = (0 until 12).map(k => (col("id") * (k + 1)).cast(DoubleType).as(s"v$k"))
    val df = spark.range(5000).select(cols: _*)
    df.coalesce(2).write.format(SRC).mode("overwrite")
      .option("densegroups", "true").option("h5ver", "2")
      .option("chunkrecs", "512").save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    assert(meta.vars.map(_.name).toSet == (0 until 12).map(k => s"v$k").toSet)
    val back = spark.read.format(SRC).load(dir)
    assert(back.columns.count(_.startsWith("v")) == 12)
    val exp = df.agg(sum("v0"), sum("v5"), sum("v11")).head()
    val got = back.agg(sum("v0"), sum("v5"), sum("v11")).head()
    assert(exp == got)
    // record pushdown still composes with dense-group metadata
    assert(back.filter(org.apache.spark.sql.functions.col("record") < 100L).count() == 100)
  }

  test("fixed-array chunk index (layout v4) roundtrips and prunes by record range") {
    val dir = "/tmp/graft_h5/fixedarr"
    val df = spark.range(10000).select(col("id").as("k"),
      (col("id") + 0.5).cast(DoubleType).as("x"))
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "fixedarray")
      .option("chunkrecs", "1000").option("shuffle", "true").save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    assert(meta.vars.forall(_.chunks.length == 10), meta.vars.map(_.chunks.length).toString)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 10000)
    val exp = df.agg(sum("k"), sum("x")).head()
    val got = back.agg(sum("k"), sum("x")).head()
    assert(exp == got)
    // record-range pushdown composes with the v4 index
    val win = back.filter(col("record") >= 2500L && col("record") < 3500L)
    assert(win.count() == 1000)
    assert(win.agg(sum("k")).head().getLong(0) == (2500L until 3500L).sum)
  }

  test("v2 B-tree chunk index (layout v4 type 5) roundtrips filtered and unfiltered") {
    for ((deflate, tag) <- Seq((true, "f"), (false, "raw"))) {
      val dir = s"/tmp/graft_h5/btree2_$tag"
      val df = spark.range(5000).select(col("id").as("k"),
        (col("id") * 3).cast(DoubleType).as("x"))
      df.coalesce(1).write.format(SRC).mode("overwrite")
        .option("h5ver", "2").option("chunkindex", "btree2")
        .option("chunkrecs", "600").option("deflate", deflate.toString).save(dir)
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 5000)
      assert(back.agg(sum("k"), sum("x")).head() == df.agg(sum("k"), sum("x")).head())
      val win = back.filter(col("record") >= 1200L && col("record") < 1300L)
      assert(win.agg(sum("k")).head().getLong(0) == (1200L until 1300L).sum)
    }
  }

  test("v2 B-tree depth-1 split and paged fixed array handle many chunks") {
    // 250 chunks exceed one 2048-byte leaf (84 records at recSize 24)
    // → honest depth-1 BTIN split with separators in the root
    val d1 = "/tmp/graft_h5/btree2_deep"
    val df = spark.range(5000).select(col("id").as("k"),
      (col("id") * 7).cast(DoubleType).as("x"))
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "btree2")
      .option("chunkrecs", "20").save(d1)
    val m1 = Hdf5Format.readMeta(fs, NetCDF4.listFiles(fs, new Path(d1)).head)
    assert(m1.vars.forall(_.chunks.length == 250), m1.vars.map(_.chunks.length).toString)
    assert(m1.vars.forall(v => v.chunks.map(_.startRec).toSeq ==
      (0 until 250).map(_ * 20L)), "depth-1 record order")
    val b1 = spark.read.format(SRC).load(d1)
    assert(b1.agg(sum("k"), sum("x")).head() == df.agg(sum("k"), sum("x")).head())
    assert(b1.filter(col("record") >= 4000L && col("record") < 4100L)
      .agg(sum("k")).head().getLong(0) == (4000L until 4100L).sum)
    // 5000 chunks exceed the 2^12 fixed-array page → paged FADB with
    // a bitmap and per-page checksums
    val d2 = "/tmp/graft_h5/fixedarr_paged"
    val df2 = spark.range(10000).select(col("id").as("k"))
    df2.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "fixedarray")
      .option("chunkrecs", "2").option("shuffle", "true").save(d2)
    val m2 = Hdf5Format.readMeta(fs, NetCDF4.listFiles(fs, new Path(d2)).head)
    assert(m2.vars.forall(_.chunks.length == 5000), m2.vars.map(_.chunks.length).toString)
    val b2 = spark.read.format(SRC).load(d2)
    assert(b2.count() == 10000)
    assert(b2.agg(sum("k")).head() == df2.agg(sum("k")).head())
    assert(b2.filter(col("record") >= 9000L && col("record") < 9100L)
      .agg(sum("k")).head().getLong(0) == (9000L until 9100L).sum)
  }

  test("extensible-array chunk index (layout v4 type 4) walks all three levels") {
    for ((deflate, tag) <- Seq((true, "f"), (false, "raw"))) {
      val dir = s"/tmp/graft_h5/extarr_$tag"
      // 6000 records / 20-record chunks = 300 chunks: past the inline
      // elements (4) AND the directly-addressed data blocks (240), so
      // the walk must traverse an EASB secondary block to finish
      val df = spark.range(6000).select(col("id").as("k"),
        (col("id") * 2.5).cast(DoubleType).as("x"))
      df.coalesce(1).write.format(SRC).mode("overwrite")
        .option("h5ver", "2").option("chunkindex", "extarray")
        .option("chunkrecs", "20").option("deflate", deflate.toString)
        .option("shuffle", deflate.toString).save(dir)
      val f = NetCDF4.listFiles(fs, new Path(dir)).head
      val meta = Hdf5Format.readMeta(fs, f)
      assert(meta.vars.forall(_.chunks.length == 300),
        meta.vars.map(_.chunks.length).toString)
      assert(meta.vars.forall(v => v.chunks.map(_.startRec).toSeq ==
        (0 until 300).map(_ * 20L)), "chunk start records must be gapless and ordered")
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 6000)
      assert(back.agg(sum("k"), sum("x")).head() == df.agg(sum("k"), sum("x")).head())
      // record-range pushdown composes with the EA index
      val win = back.filter(col("record") >= 4900L && col("record") < 5100L)
      assert(win.agg(sum("k")).head().getLong(0) == (4900L until 5100L).sum)
    }
    // tiny variable: every element fits inline in the index block
    val d2 = "/tmp/graft_h5/extarr_inline"
    val df2 = spark.range(50).select(col("id").as("k"))
    df2.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "extarray")
      .option("chunkrecs", "16").save(d2)
    val b2 = spark.read.format(SRC).load(d2)
    assert(b2.count() == 50)
    assert(b2.agg(sum("k")).head() == df2.agg(sum("k")).head())
    // PAGED data blocks: 6-bit pages (64 elements) keep the direct
    // region unpaged but page every secondary-block data block from
    // superblock 5 on — 1500 chunks reach superblock 6, so the walk
    // crosses bitmaps and per-page checksums in two paged superblocks
    val d3 = "/tmp/graft_h5/extarr_paged"
    val df3 = spark.range(6000).select(col("id").as("k"),
      (col("id") * 1.25).as("x"))
    df3.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "extarray")
      .option("chunkrecs", "4").option("eapagebits", "6")
      .option("shuffle", "true").save(d3)
    val m3 = Hdf5Format.readMeta(fs, NetCDF4.listFiles(fs, new Path(d3)).head)
    assert(m3.vars.forall(_.chunks.length == 1500), m3.vars.map(_.chunks.length).toString)
    assert(m3.vars.forall(v => v.chunks.map(_.startRec).toSeq ==
      (0 until 1500).map(_ * 4L)), "paged walk must be gapless and ordered")
    val b3 = spark.read.format(SRC).load(d3)
    assert(b3.count() == 6000)
    assert(b3.agg(sum("k"), sum("x")).head() == df3.agg(sum("k"), sum("x")).head())
    assert(b3.filter(col("record") >= 5000L && col("record") < 5200L)
      .agg(sum("k")).head().getLong(0) == (5000L until 5200L).sum)
  }

  test("vlen sequences (ragged arrays) roundtrip through the global heap") {
    for (h5ver <- Seq(0, 2)) {
      val dir = s"/tmp/graft_h5/vlenseq_$h5ver"
      // ragged doubles (1..7 elements, empty every 11th) + ragged longs
      val df = spark.range(500).select(col("id").as("k"),
        expr("""CASE WHEN id % 11 = 0 THEN CAST(array() AS array<double>)
                ELSE transform(sequence(0, CAST(id % 7 AS INT)), i -> CAST(id * 10 + i AS DOUBLE)) END""").as("xs"),
        expr("transform(sequence(0, CAST(id % 5 AS INT)), i -> id + i)").as("ls"))
      df.coalesce(2).write.format(SRC).mode("overwrite")
        .option("vlenseqs", "true").option("h5ver", h5ver.toString)
        .option("chunkrecs", "64").option("shuffle", "true").save(dir)
      val f = NetCDF4.listFiles(fs, new Path(dir)).head
      val meta = Hdf5Format.readMeta(fs, f)
      assert(meta.vars.find(_.name == "xs").get.kind ==
        Hdf5Format.KVlenSeq(Hdf5Format.KDouble), "xs kind")
      assert(meta.vars.find(_.name == "ls").get.kind ==
        Hdf5Format.KVlenSeq(Hdf5Format.KLong), "ls kind")
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 500)
      val probes = Seq(sum(expr("size(xs)")), sum(expr("size(ls)")),
        sum(expr("aggregate(xs, CAST(0 AS DOUBLE), (a, x) -> a + x)")),
        sum(expr("aggregate(ls, CAST(0 AS BIGINT), (a, x) -> a + x)")),
        sum(expr("element_at(ls, 1)")),
        count(when(expr("size(xs) = 0"), 1)))
      val exp = df.agg(probes.head, probes.tail: _*).head()
      val got = back.agg(probes.head, probes.tail: _*).head()
      assert(exp == got, s"h5ver=$h5ver: $exp vs $got")
      // record pushdown composes with vlen refs
      val win = back.filter(col("record") >= 100L && col("record") < 120L)
      assert(win.count() == 20)
    }
  }

  test("committed (shared) datatypes resolve through named-type objects") {
    val dir = "/tmp/graft_h5/committed"
    val df = spark.range(400).select(col("id").as("k"),
      (col("id") % 3 + 1).cast(IntegerType).as("cat"),
      expr("transform(sequence(0, CAST(id % 4 AS INT)), i -> CAST(id + i AS DOUBLE))").as("xs"))
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("vlenseqs", "true")
      .option("committypes", "true")
      .option("enum.cat", "A=1,B=2,C=3")
      .save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    // the shared stubs resolved into the real kinds
    assert(meta.vars.find(_.name == "cat").get.kind ==
      Hdf5Format.KEnum(Hdf5Format.KInt, Seq("A" -> 1L, "B" -> 2L, "C" -> 3L)))
    assert(meta.vars.find(_.name == "xs").get.kind ==
      Hdf5Format.KVlenSeq(Hdf5Format.KDouble))
    // the named-type objects themselves do not surface as variables
    assert(meta.vars.map(_.name).toSet == Set("k", "cat", "xs"))
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 400)
    val exp = df.agg(sum("k"), sum("cat"), sum(expr("size(xs)")),
      sum(expr("aggregate(xs, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    val got = back.agg(sum("k"), sum("cat"), sum(expr("size(xs)")),
      sum(expr("aggregate(xs, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    assert(exp == got, s"$exp vs $got")
  }


  test("writer splits v2 B-trees to depth 2 and the roundtrip holds") {
    // unfiltered rank-1 type-10 records: maxRec(0)=127, cum(1)=10495 —
    // 12000 single-record chunks force an honest depth-2 tree (the
    // writer previously refused past depth 1)
    val dir = "/tmp/graft_h5/btree2_deep"
    spark.range(12000).select(col("id").cast(DoubleType).as("x")).coalesce(1)
      .write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "btree2")
      .option("chunkrecs", "1").save(dir)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 12000)
    assert(back.agg(sum("x")).head().getDouble(0) == (0L until 12000L).map(_.toDouble).sum)
    // record pushdown still prunes through the deep walk
    val slice = back.filter(col("record") >= 11990L).select("x").collect().map(_.getDouble(0))
    assert(slice.sorted.toSeq == (11990 until 12000).map(_.toDouble))
  }

  test("v2 B-tree depth-2 walk resolves (hand-assembled wild fixture)") {
    // nodeSize 64, recSize 16 (type 10, rank 1) → maxRec(0)=3 (w 1),
    // depth-1 ptr = 8+1 → maxRec(1)=1, cum(1)=7 (w 1), depth-2 ptr =
    // 8+1+1. Tree: root(1 rec) → two depth-1 BTINs(1 rec) → leaves
    // [2,1] and [2,3] records; in-order scaled offsets 0..10 with
    // chunk addresses 1000+scaled.
    val bb = java.nio.ByteBuffer.allocate(400).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def at(pos: Int): java.nio.ByteBuffer = { bb.position(pos); bb }
    def rec(b: java.nio.ByteBuffer, scaled: Long): java.nio.ByteBuffer =
      b.putLong(1000L + scaled).putLong(scaled)
    // BTHD @0
    at(0).put("BTHD".getBytes).put(0.toByte).put(10.toByte)
      .putInt(64).putShort(16).putShort(2).putShort(0)
      .putLong(40L).putShort(1)
    // root BTIN @40: rec(4), children (90, n=1, tot=3), (140, n=1, tot=7)
    rec(at(40).put("BTIN".getBytes).put(0.toByte).put(10.toByte), 4L)
      .putLong(90L).put(1.toByte).put(3.toByte)
      .putLong(140L).put(1.toByte).put(7.toByte)
    // depth-1 BTIN @90: rec(2), leaf children (190, 2), (240, 1)
    rec(at(90).put("BTIN".getBytes).put(0.toByte).put(10.toByte), 2L)
      .putLong(190L).put(2.toByte).putLong(240L).put(1.toByte)
    // depth-1 BTIN @140: rec(7), leaf children (270, 2), (320, 3)
    rec(at(140).put("BTIN".getBytes).put(0.toByte).put(10.toByte), 7L)
      .putLong(270L).put(2.toByte).putLong(320L).put(3.toByte)
    rec(rec(at(190).put("BTLF".getBytes).put(0.toByte).put(10.toByte), 0L), 1L)
    rec(at(240).put("BTLF".getBytes).put(0.toByte).put(10.toByte), 3L)
    rec(rec(at(270).put("BTLF".getBytes).put(0.toByte).put(10.toByte), 5L), 6L)
    rec(rec(rec(at(320).put("BTLF".getBytes).put(0.toByte).put(10.toByte), 8L), 9L), 10L)
    // every node carries its real lookup3 checksum (the reader verifies)
    Seq((0, 34), (40, 42), (90, 40), (140, 40),
      (190, 38), (240, 22), (270, 38), (320, 54)).foreach { case (pos, used) =>
      at(pos + used).putInt(
        Hdf5Format.lookup3(java.util.Arrays.copyOfRange(bb.array(), pos, pos + used)))
    }
    val p = new Path("/tmp/graft_h5/btree2_d2.bin")
    val out = fs.create(p, true)
    try out.write(bb.array()) finally out.close()
    val shape = ChunkIndex.Shape(Hdf5Format.TileGeom(Nil, Nil), chunkRecs = 10, nChunks = 11,
      filtered = false, chunkBytes = 16, where = "btree2_d2.bin")
    val chunks = ChunkIndex.toChunks(
      ChunkIndexSpec.decodeFile(fs, p, ChunkIndex.BtreeV2, 0L, shape), shape, Long.MaxValue)
    assert(chunks.length == 11, s"${chunks.length} chunks")
    assert(chunks.map(_.startRec).toSeq == (0L to 10L).map(_ * 10),
      chunks.map(_.startRec).mkString(","))
    assert(chunks.map(_.addr).toSeq == (0L to 10L).map(1000L + _),
      chunks.map(_.addr).mkString(","))
  }

  test("nested fractal-heap indirect blocks resolve (hand-assembled wild fixture)") {
    // Doubling table: width 2, start 512, maxDirect 512 → row 2
    // (size 1024) holds CHILD INDIRECT blocks; a child covering 1024
    // has ntz(1024) − ntz(512·2) + 1 = 1 row of two 512-byte direct
    // blocks. Object at heap offset 2660 = root row 2, col 0 child
    // (span [2048, 3072)) → child-relative 612 → child's SECOND
    // direct block, in-block offset 100.
    val bb = java.nio.ByteBuffer.allocate(512).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def at(pos: Int): java.nio.ByteBuffer = { bb.position(pos); bb }
    // FRHP @0: sig ver idLen(7) filterLen(0) flags maxManaged(4096)
    at(0).put("FRHP".getBytes).put(0.toByte).putShort(7).putShort(0).put(0.toByte)
      .putInt(4096)
    // 96 bytes of huge/tiny/free-space bookkeeping left zero @14..109
    at(110).putShort(2)            // table width
      .putLong(512L).putLong(512L) // start / max-direct block size
      .putShort(32)                // max heap size bits → offSize 4
      .putShort(1)                 // starting rows
      .putLong(150L)               // root block address → FHIB
      .putShort(3)                 // current rows
    // root FHIB @150: 3 rows × 2 cols; only row2 col0 allocated
    val U = -1L // undefined address
    at(150).put("FHIB".getBytes).put(0.toByte).putLong(0L).putInt(0)
      .putLong(U).putLong(U).putLong(U).putLong(U) // rows 0-1 (direct, empty)
      .putLong(220L).putLong(U)                    // row 2: child FHIB, UNDEF
    // child FHIB @220: 1 row × 2 cols of direct blocks
    at(220).put("FHIB".getBytes).put(0.toByte).putLong(0L).putInt(0)
      .putLong(260L).putLong(300L)
    // direct blocks @260 / @300 (headers only matter for realism)
    at(260).put("FHDB".getBytes).put(0.toByte).putLong(0L).putInt(0)
    at(300).put("FHDB".getBytes).put(0.toByte).putLong(0L).putInt(512)
    at(300 + 100).put("NESTEDOK".getBytes)
    val p = new Path("/tmp/graft_h5/nested_heap.bin")
    val out = fs.create(p, true)
    try out.write(bb.array()) finally out.close()
    // managed heap id: flags 0, offset 2660 (4 LE bytes), length 8 (2)
    val id = java.nio.ByteBuffer.allocate(7).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(0.toByte).putInt(2660).putShort(8).array()
    val got = new String(Hdf5Format.heapObjectAt(fs, p, 0L, id), "ASCII")
    assert(got == "NESTEDOK", s"resolved '$got'")
  }

  test("dimension scales: DIMENSION_LIST resolves to names; phony dims hide") {
    val dir = "/tmp/graft_h5/dimscales"
    val df = spark.range(100).select(col("id").cast(DoubleType).as("time"),
      (col("id") * 2).as("k"),
      expr("transform(sequence(0, 11), i -> CAST(id * 12 + i AS DOUBLE))").as("grid"))
    df.coalesce(1).sortWithinPartitions("time")
      .write.format(SRC).mode("overwrite")
      .option("h5ver", "2")
      .option("traildims.grid", "3,4")
      .option("dimnames.time", "time")
      .option("dimnames.k", "time")
      .option("dimnames.grid", "time,lat,lon")
      .save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    // phony dims (lat, lon) are hidden; time/k/grid surface
    assert(meta.vars.map(_.name).toSet == Set("time", "k", "grid"))
    def attr(v: String, a: String): Option[String] =
      meta.vars.find(_.name == v).get.attrs.find(_.name == a).flatMap(_.text)
    // 'time' is a coordinate variable — a scale itself, no dim list
    assert(attr("time", "CLASS").contains("DIMENSION_SCALE"))
    assert(attr("time", "_dims").isEmpty)
    // data variables resolve their scale references to names
    assert(attr("k", "_dims").contains("time"), s"${attr("k", "_dims")}")
    assert(attr("grid", "_dims").contains("time,lat,lon"), s"${attr("grid", "_dims")}")
    // data still roundtrips alongside the scale metadata
    val back = spark.read.format(SRC).load(dir)
    assert(back.agg(sum("k"), sum(expr(
      "aggregate(grid, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head() ==
      df.agg(sum("k"), sum(expr(
        "aggregate(grid, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head())
  }

  test("sparse variables: all-fill chunks stay unallocated; gaps read as the fill") {
    // 1000 recs, chunkRecs=100: v is -5 (the defined fill) on blocks
    // 2..7 → 6 of 10 chunks unallocated; w has fill UNDEFINED and
    // zeros on the same blocks → gaps read as zeros
    val df = spark.range(1000).select(col("id").as("k"),
      expr("CAST(CASE WHEN id >= 200 AND id < 800 THEN -5 ELSE id END AS DOUBLE)").as("v"),
      expr("CAST(CASE WHEN id >= 200 AND id < 800 THEN 0 ELSE id + 1 END AS DOUBLE)").as("w"))
    for (idx <- Seq("btree1", "fixedarray", "btree2")) {
      val dir = s"/tmp/graft_h5/sparse_$idx"
      df.coalesce(1).sortWithinPartitions("k")
        .write.format(SRC).mode("overwrite")
        .option("h5ver", "2").option("chunkrecs", "100")
        .option("chunkindex", idx)
        .option("shuffle", "true")
        .option("sparse", "true")
        .option("fillvalue.v", "-5")
        .save(dir)
      val f = NetCDF4.listFiles(fs, new Path(dir)).head
      val meta = Hdf5Format.readMeta(fs, f)
      val (mv, mw) = (meta.vars.find(_.name == "v").get, meta.vars.find(_.name == "w").get)
      assert(mv.chunks.length == 4, s"$idx: v has ${mv.chunks.length} chunks")
      assert(mw.chunks.length == 4, s"$idx: w has ${mw.chunks.length} chunks")
      // k is dense (no fill run) — all 10 chunks allocated
      assert(meta.vars.find(_.name == "k").get.chunks.length == 10)
      assert(java.nio.ByteBuffer.wrap(mv.fill)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble == -5.0)
      assert(mw.fill.isEmpty)
      val back = spark.read.format(SRC).load(dir)
      val exp = df.agg(sum("k"), sum("v"), sum("w")).head()
      val got = back.agg(sum("k"), sum("v"), sum("w")).head()
      assert(exp == got, s"$idx: $exp vs $got")
      // probes inside and at the edges of the unallocated span
      val probe = back.filter(col("k").isin(199, 200, 500, 799, 800))
        .orderBy("k").select("v", "w").collect().map(r => (r.getDouble(0), r.getDouble(1)))
      assert(probe.toSeq == Seq((199.0, 200.0), (-5.0, 0.0), (-5.0, 0.0),
        (-5.0, 0.0), (800.0, 801.0)), s"$idx: ${probe.toSeq}")
    }
  }

  test("rank-3/rank-4 variables tile across trailing dims and roundtrip") {
    // (rec, 6, 8) chunked (4, 3, 5): partial in BOTH trailing dims —
    // edge tiles in each — through the full filter pipeline
    val dir = "/tmp/graft_h5/rank3"
    val df = spark.range(50).select(col("id").as("k"),
      expr("transform(sequence(0, 47), i -> CAST(id * 100 + i AS DOUBLE))").as("v"))
    df.coalesce(1).sortWithinPartitions("k")
      .write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkrecs", "4")
      .option("shuffle", "true").option("fletcher", "true")
      .option("traildims.v", "6,8").option("trailchunks.v", "3,5")
      .save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    val mv = meta.vars.find(_.name == "v").get
    assert(mv.kind == Hdf5Format.KDoubleArr(48))
    assert(mv.geom == Hdf5Format.TileGeom(Seq(6, 8), Seq(3, 5)), mv.geom)
    // 2 tiles x 2 tiles per row block, 13 row blocks
    assert(mv.chunks.length == 13 * 4, s"${mv.chunks.length} chunks")
    val back = spark.read.format(SRC).load(dir)
    val exp = df.agg(sum("k"),
      sum(expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    val got = back.agg(sum("k"),
      sum(expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    assert(exp == got, s"$exp vs $got")
    // per-element probes: flattened k = (j1, j2) row-major, incl. edge
    // tiles (j1 >= 3, j2 >= 5) and the final partial row block
    val probe = back.filter(col("k") === 49)
      .select(expr("v[0]"), expr("v[22]"), expr("v[29]"), expr("v[47]")).head()
    assert(probe == org.apache.spark.sql.Row(4900.0, 4922.0, 4929.0, 4947.0), s"$probe")

    // rank-4 (rec, 2, 3, 4) via the v2 B-tree index, partial middle dim
    val dir4 = "/tmp/graft_h5/rank4"
    val df4 = spark.range(40).select(col("id").as("k"),
      expr("transform(sequence(0, 23), i -> CAST(id * 1000 + i * 7 AS DOUBLE))").as("w"))
    df4.coalesce(1).sortWithinPartitions("k")
      .write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkrecs", "8")
      .option("chunkindex", "btree2")
      .option("traildims.w", "2,3,4").option("trailchunks.w", "2,2,4")
      .save(dir4)
    val back4 = spark.read.format(SRC).load(dir4)
    val exp4 = df4.agg(sum(expr("aggregate(w, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    val got4 = back4.agg(sum(expr("aggregate(w, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    assert(exp4 == got4, s"$exp4 vs $got4")
    val probe4 = back4.filter(col("k") === 39)
      .select(expr("w[0]"), expr("w[11]"), expr("w[23]")).head()
    assert(probe4 == org.apache.spark.sql.Row(39000.0, 39077.0, 39161.0), s"$probe4")
  }



  test("corrupted and truncated files fail loudly, never silently") {
    val dir = "/tmp/graft_h5/corrupt"
    spark.range(4000).select(col("id").as("k"), (col("id") * 1.5).as("v"))
      .coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("fletcher", "true")
      .option("shuffle", "true").option("chunkrecs", "1024")
      .save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val good = spark.read.format(SRC).load(dir).agg(sum("v")).head().getDouble(0)
    val bytes = {
      val in = fs.open(f)
      val len = fs.getFileStatus(f).getLen.toInt
      val b = new Array[Byte](len)
      try in.readFully(0, b) finally in.close()
      b
    }
    // flip one byte inside the first stored chunk of v → the
    // fletcher32 word (leading the pipeline, covering the raw chunk)
    // must catch it regardless of what the inflate stage does
    val meta = Hdf5Format.readMeta(fs, f)
    val c = meta.vars.find(_.name == "v").get.chunks.head
    val corrupt = bytes.clone()
    corrupt(c.addr.toInt + c.storedSize / 2) =
      (corrupt(c.addr.toInt + c.storedSize / 2) ^ 0x5a).toByte
    val cDir = new Path("/tmp/graft_h5/corrupt_bad")
    fs.mkdirs(cDir)
    val out = fs.create(new Path(cDir, f.getName), true)
    try out.write(corrupt) finally out.close()
    val e1 = intercept[Exception] {
      spark.read.format(SRC).load(cDir.toString).agg(sum("v")).head()
    }
    assert(e1.toString.nonEmpty)
    assert(good == spark.read.format(SRC).load(dir).agg(sum("v")).head().getDouble(0))
    // truncation mid-data: loud failure, not garbage rows
    val tDir = new Path("/tmp/graft_h5/corrupt_trunc")
    fs.mkdirs(tDir)
    val out2 = fs.create(new Path(tDir, f.getName), true)
    try out2.write(bytes, 0, bytes.length / 2) finally out2.close()
    intercept[Exception] {
      spark.read.format(SRC).load(tDir.toString).agg(sum("v")).head()
    }
  }

  test("zstd filter (32015) roundtrips and composes with shuffle+fletcher") {
    val dir = "/tmp/graft_h5/zstd"
    val df = spark.range(5000).select(col("id").as("k"),
      (col("id") % 97 * 0.5).as("v"))
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("zstd", "5")
      .option("shuffle", "true").option("fletcher", "true")
      .option("chunkrecs", "512")
      .save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    // compression genuinely happened: stored bytes < raw bytes
    val mv = meta.vars.find(_.name == "v").get
    val storedBytes = mv.chunks.map(_.storedSize.toLong).sum
    assert(storedBytes < 5000L * 8, s"stored $storedBytes")
    val back = spark.read.format(SRC).load(dir)
    assert(back.agg(sum("k"), sum("v")).head() == df.agg(sum("k"), sum("v")).head())
  }

  test("netCDF-4.9 quantization: BitRound/BitGroom kernels and file roundtrip") {
    import Hdf5Format.{quantDouble, quantFloat, groomKeepBits}
    // hand-computed anchors for the published algorithms:
    // BitRound nsb=4: 1.03125 = 1 + 2^-5 sits exactly halfway between
    // the 4-bit-mantissa neighbors 1.0 and 1.0625 — add-half rounds up
    assert(quantDouble("bitround", 4, 1.03125, 0L) == 1.0625)
    assert(quantDouble("bitround", 4, 1.03124, 0L) == 1.0)
    // mantissa overflow carries into the exponent: just-below-2 rounds to 2
    assert(quantDouble("bitround", 4, 1.99999, 0L) == 2.0)
    assert(quantFloat("bitround", 4, 1.03125f, 0L) == 1.0625f)
    // BitGroom nsd=1 keeps ceil(3.32)+1 = 5 bits; shave floors to the
    // 2^-5 grid, set fills the tail (just under the next grid step)
    assert(groomKeepBits(1) == 5)
    assert(quantDouble("bitgroom", 1, 1.6, 0L) == 1.59375)
    assert(quantDouble("bitgroom", 1, 1.6, 1L) ==
      java.lang.Double.longBitsToDouble(
        java.lang.Double.doubleToRawLongBits(1.625) - 1))
    // zeros and non-finite values pass through untouched
    assert(quantDouble("bitgroom", 1, 0.0, 1L) == 0.0)
    assert(quantDouble("bitround", 4, Double.NaN, 0L).isNaN)
    assert(quantDouble("bitround", 4, Double.PositiveInfinity, 0L).isPosInfinity)
    // sign rides through (shave/round operate on magnitude bits)
    assert(quantDouble("bitgroom", 1, -1.6, 0L) == -1.59375)
    assert(quantDouble("bitround", 4, -1.03125, 0L) == -1.0625)

    // file roundtrip: one part file, write order pinned, so the
    // BitGroom ordinal is exactly the row index
    val dir = "/tmp/graft_h5/quant"
    val df = spark.range(500).select(col("id").as("k"),
      (col("id") * 0.013 + 1.0).as("g"),
      (col("id") * 0.007 + 2.0).as("r"))
    df.coalesce(1).sortWithinPartitions("k")
      .write.format(SRC).mode("overwrite")
      .option("h5ver", "2")
      .option("quantize.g", "bitgroom:3")
      .option("quantize.r", "bitround:12")
      .save(dir)
    val back = spark.read.format(SRC).load(dir)
      .select("k", "g", "r").collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(back.length == 500)
    back.foreach { case (k, g, r) =>
      assert(g == quantDouble("bitgroom", 3, k * 0.013 + 1.0, k),
        s"bitgroom mismatch at row $k")
      assert(r == quantDouble("bitround", 12, k * 0.007 + 2.0, 0L),
        s"bitround mismatch at row $k")
    }
    // the standard marker attributes ride on the variables
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    def attr(v: String, a: String): Option[Double] =
      meta.vars.find(_.name == v).get.attrs.find(_.name == a).map(_.nums.head)
    assert(attr("g", "_QuantizeBitGroomNumberOfSignificantDigits").contains(3.0))
    assert(attr("r", "_QuantizeBitRoundNumberOfSignificantBits").contains(12.0))
  }

  test("big-endian numerics roundtrip; stored bytes are genuinely swapped") {
    val dir = "/tmp/graft_h5/bigend"
    val df = spark.range(2000).select(col("id").as("k"),
      (col("id") * 0.75).as("x"))
    // no filters: the first stored chunk holds raw BE bytes to pin
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("bigendian", "true").option("deflate", "false")
      .option("chunkrecs", "512").save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    val vk = meta.vars.find(_.name == "k").get
    assert(vk.bigEndian, "order bit must parse")
    // raw-byte pin: record 1 of `k` stores 1L big-endian (both-sides-LE
    // bugs self-cancel in a roundtrip; this cannot)
    val in = fs.open(f)
    val raw = new Array[Byte](16)
    in.readFully(vk.chunks.head.addr, raw, 0, 16)
    in.close()
    assert(raw.slice(8, 16).toSeq == Seq[Byte](0, 0, 0, 0, 0, 0, 0, 1),
      raw.slice(8, 16).toSeq.toString)
    val back = spark.read.format(SRC).load(dir)
    assert(back.agg(sum("k"), sum("x")).head() == df.agg(sum("k"), sum("x")).head())
    // BE composes with the filter pipeline and record pushdown
    val d2 = "/tmp/graft_h5/bigend_f"
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("bigendian", "true").option("h5ver", "2")
      .option("shuffle", "true").option("chunkrecs", "256").save(d2)
    val b2 = spark.read.format(SRC).load(d2)
    assert(b2.agg(sum("k"), sum("x")).head() == df.agg(sum("k"), sum("x")).head())
    assert(b2.filter(col("record") >= 700L && col("record") < 800L)
      .agg(sum("k")).head().getLong(0) == (700L until 800L).sum)
  }

  test("enum datatype (class 8) roundtrips codes and the member table") {
    for (h5ver <- Seq(0, 2)) {
      val dir = s"/tmp/graft_h5/enum_$h5ver"
      val df = spark.range(300).select(col("id").as("k"),
        (col("id") % 4 + 1).cast(IntegerType).as("status"))
      df.coalesce(1).write.format(SRC).mode("overwrite")
        .option("h5ver", h5ver.toString)
        .option("enum.status", "NEW=1,OPEN=2,HELD=3,DONE=4")
        .save(dir)
      val meta = Hdf5Format.readMeta(fs, NetCDF4.listFiles(fs, new Path(dir)).head)
      val v = meta.vars.find(_.name == "status").get
      assert(v.kind == Hdf5Format.KEnum(Hdf5Format.KInt,
        Seq("NEW" -> 1L, "OPEN" -> 2L, "HELD" -> 3L, "DONE" -> 4L)), v.kind.toString)
      assert(v.attrs.exists(a => a.name == "_enum_members" &&
        a.text.contains("NEW=1,OPEN=2,HELD=3,DONE=4")), v.attrs.map(_.name).toString)
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 300)
      assert(back.agg(sum("k"), sum("status")).head() ==
        df.agg(sum("k"), sum("status")).head(), s"h5ver=$h5ver")
    }
  }

  test("compact layout (class 0) serves data straight from the header") {
    for (h5ver <- Seq(0, 2)) {
      val dir = s"/tmp/graft_h5/compact_$h5ver"
      val df = spark.range(200).select(col("id").as("k"),
        (col("id") * 0.5).as("x"),
        concat(lit("name-"), col("id")).as("s"))
      df.coalesce(1).write.format(SRC).mode("overwrite")
        .option("layout", "compact").option("h5ver", h5ver.toString)
        .option("stringwidth", "16").save(dir)
      val f = NetCDF4.listFiles(fs, new Path(dir)).head
      val meta = Hdf5Format.readMeta(fs, f)
      assert(meta.vars.forall(_.compactData.nonEmpty), s"h5ver=$h5ver: inline data missing")
      assert(meta.vars.forall(_.chunks.isEmpty))
      assert(meta.vars.find(_.name == "k").get.compactData.length == 200 * 8)
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 200)
      val exp = df.agg(sum("k"), sum("x"), min("s"), max("s")).head()
      val got = back.agg(sum("k"), sum("x"), min("s"), max("s")).head()
      assert(exp == got, s"h5ver=$h5ver: $exp vs $got")
    }
    // the 60 KB contract bound fails loudly, not with a corrupt file
    val e = intercept[Exception] {
      spark.range(10000).select(col("id").as("k"))
        .coalesce(1).write.format(SRC).mode("overwrite")
        .option("layout", "compact").save("/tmp/graft_h5/compact_big")
    }
    assert(e.getMessage != null)
  }

  test("contiguous layout (class 1) roundtrips and slabs bound memory") {
    for (h5ver <- Seq(0, 2)) {
      val dir = s"/tmp/graft_h5/contig_$h5ver"
      val df = spark.range(9000).select(col("id").as("k"),
        (col("id") * 0.25).as("x"),
        expr("transform(sequence(0, 5), i -> CAST(id * 6 + i AS DOUBLE))").as("vec"))
      df.coalesce(1).write.format(SRC).mode("overwrite")
        .option("layout", "contiguous").option("h5ver", h5ver.toString)
        .option("chunkrecs", "1024").save(dir)
      val f = NetCDF4.listFiles(fs, new Path(dir)).head
      val meta = Hdf5Format.readMeta(fs, f)
      assert(meta.vars.forall(v => v.contiguousAddr != -1L),
        s"h5ver=$h5ver: contiguous address missing")
      assert(meta.vars.forall(_.chunks.isEmpty))
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 9000)
      val exp = df.agg(sum("k"), sum("x"), sum(expr("vec[5]"))).head()
      val got = back.agg(sum("k"), sum("x"), sum(expr("vec[5]"))).head()
      assert(exp == got, s"h5ver=$h5ver: $exp vs $got")
      // record-range pushdown composes with the synthetic slabs
      val win = back.filter(col("record") >= 5000L && col("record") < 5200L)
      assert(win.agg(sum("k")).head().getLong(0) == (5000L until 5200L).sum)
    }
    // slabs are 4 MiB per variable, so variables of different row sizes
    // cut their slabs at different records: a 256-float field every 4096
    // records, a double scalar every 524288, an int scalar every 1048576
    def contiguous(name: String, n: Long, cols: Column*) = {
      val dir = s"/tmp/graft_h5/contig_$name"
      spark.range(n).select(cols: _*).coalesce(1).write.format(SRC).mode("overwrite")
        .option("layout", "contiguous").option("chunkrecs", "1024").save(dir)
      spark.read.format(SRC).load(dir)
    }
    val wide = contiguous("wide", 9000L, col("id").as("k"),
      expr("transform(sequence(0, 255), i -> CAST(id * 256 + i AS FLOAT))").as("field"),
      (col("id") * 0.5).as("time"))
    def checkWide(df: DataFrame, lo: Long, hi: Long): Unit = {
      val rows = df.select("record", "field", "time").collect().sortBy(_.getLong(0))
      assert(rows.map(_.getLong(0)).toSeq == (lo until hi))
      rows.foreach { r =>
        val rec = r.getLong(0)
        assert(r.getSeq[Float](1) == (0 until 256).map(i => (rec * 256 + i).toFloat), s"field $rec")
        assert(r.getDouble(2) == rec * 0.5, s"time $rec")
      }
    }
    checkWide(wide, 0L, 9000L)
    checkWide(wide.filter(col("record") >= 4000L && col("record") < 8300L), 4000L, 8300L)
    val tall = contiguous("tall", 530000L, (col("id") * 0.5).as("time"),
      col("id").cast(IntegerType).as("station"))
    val cross = tall.filter(col("record") >= 524000L && col("record") < 525000L)
      .select("record", "time", "station").collect().sortBy(_.getLong(0))
    assert(cross.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ==
      (524000L until 525000L).map(k => (k, k * 0.5, k.toInt)))
    assert(tall.agg(count(lit(1)), sum("time"), sum("station")).head() ==
      Row(530000L, (0L until 530000L).map(_ * 0.5).sum, (0L until 530000L).sum))
  }

  test("partial-width 2-D chunking (netCDF4 default layout) assembles rows across tiles") {
    // width-10 rows with 4-wide tiles → 3 col tiles (the last an
    // 2-wide edge tile, stored zero-padded per the chunked-storage
    // contract); every chunk index type that admits several chunks
    // must carry the column offsets correctly
    for ((idx, deflate) <- Seq(("btree1", true), ("fixedarray", false),
        ("extarray", true), ("btree2", true), ("implicit", false))) {
      val dir = s"/tmp/graft_h5/tiled_$idx"
      val df = spark.range(3000).select(col("id").as("k"),
        expr("transform(sequence(0, 9), i -> CAST(id * 10 + i AS DOUBLE))").as("vec"))
      val w0 = df.coalesce(1).write.format(SRC).mode("overwrite")
        .option("chunkrecs", "256").option("chunkcols", "4")
        .option("deflate", deflate.toString).option("shuffle", deflate.toString)
      (if (idx == "btree1") w0 else w0.option("h5ver", "2").option("chunkindex", idx))
        .save(dir)
      val f = NetCDF4.listFiles(fs, new Path(dir)).head
      val meta = Hdf5Format.readMeta(fs, f)
      val v = meta.vars.find(_.name == "vec").get
      assert(v.geom == Hdf5Format.TileGeom(Seq(10), Seq(4)), s"$idx: geom ${v.geom}")
      // ceil(3000/256)=12 row blocks × 3 col tiles = 36 chunks
      assert(v.chunks.length == 36, s"$idx: ${v.chunks.length} chunks")
      assert(v.chunks.map(c => (c.startRec, c.startCol)).toSet ==
        (for (i <- 0 until 12; j <- 0 until 3) yield (i * 256L, j * 4)).toSet,
        s"$idx: tile offsets")
      val back = spark.read.format(SRC).load(dir)
      assert(back.count() == 3000)
      // element probes: interior tile, tile boundary, and the edge tile
      val probes = Seq("vec[0]", "vec[3]", "vec[4]", "vec[7]", "vec[8]", "vec[9]")
      val exp = df.agg(sum(expr(probes.head)), probes.tail.map(p => sum(expr(p))): _*).head()
      val got = back.agg(sum(expr(probes.head)), probes.tail.map(p => sum(expr(p))): _*).head()
      assert(exp == got, s"$idx: $exp vs $got")
      // record pushdown composes with tiling
      val win = back.filter(col("record") >= 1000L && col("record") < 1100L)
      val expWin = df.filter(col("k") >= 1000L && col("k") < 1100L)
        .agg(sum(expr("vec[9]"))).head()
      assert(win.agg(sum(expr("vec[9]"))).head() == expWin, s"$idx: windowed")
    }
  }

  test("single-chunk and implicit chunk indexes (layout v4 types 1/2) roundtrip") {
    // single chunk, filtered: the layout message carries size + mask
    val d1 = "/tmp/graft_h5/single"
    val df = spark.range(3000).select(col("id").as("k"),
      (col("id") * 1.5).as("x"))
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "single")
      .option("chunkrecs", "4096").option("shuffle", "true").save(d1)
    val b1 = spark.read.format(SRC).load(d1)
    assert(b1.count() == 3000)
    assert(b1.agg(sum("k"), sum("x")).head() == df.agg(sum("k"), sum("x")).head())
    // implicit: unfiltered contiguous chunk run, no index structure
    val d2 = "/tmp/graft_h5/implicit"
    df.coalesce(1).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("chunkindex", "implicit")
      .option("chunkrecs", "500").option("deflate", "false").save(d2)
    val b2 = spark.read.format(SRC).load(d2)
    assert(b2.count() == 3000)
    assert(b2.agg(sum("k"), sum("x")).head() == df.agg(sum("k"), sum("x")).head())
    val win = b2.filter(col("record") >= 700L && col("record") < 800L)
    assert(win.agg(sum("k")).head().getLong(0) == (700L until 800L).sum)
    // the implicit + filter combination is rejected at the writer
    val e = intercept[Exception] {
      df.coalesce(1).write.format(SRC).mode("overwrite")
        .option("h5ver", "2").option("chunkindex", "implicit").save("/tmp/graft_h5/implbad")
    }
    assert(e.getMessage != null)
  }

  test("denseattrs DSv2 option stores zone maps densely and pruning still works") {
    val dir = "/tmp/graft_h5/dsv2_denseattrs"
    spark.range(1000).select(col("id").cast(DoubleType).as("x"))
      .coalesce(4).write.format(SRC).mode("overwrite")
      .option("h5ver", "2").option("denseattrs", "true").save(dir)
    val f = NetCDF4.listFiles(fs, new Path(dir)).head
    val meta = Hdf5Format.readMeta(fs, f)
    // actual_range rode through the dense-attribute path
    assert(meta.vars.head.range.isDefined, meta.vars.head.attrs.toString)
    // and zone-map file pruning still reads it (4 files, disjoint ranges
    // only by luck of round-robin — so just assert values, not pruning)
    val back = spark.read.format(SRC).load(dir)
    assert(back.agg(sum("x")).head().getDouble(0) == (0 until 1000).map(_.toDouble).sum)
  }

  test("compact4 folds appended parts into ONE file, record order preserved") {
    val dir = "/tmp/graft_h5/compact4"
    // two deterministic single-part appends: records 0-99 then 100-149
    spark.range(100).select(col("id").cast(DoubleType).as("x")).coalesce(1)
      .write.format(SRC).mode("overwrite").save(dir)
    spark.range(100, 150).select(col("id").cast(DoubleType).as("x")).coalesce(1)
      .write.format(SRC).mode("append").option("partprefix", "b").save(dir)
    assert(graft.sources.netcdf.NcIO.compactIfNeeded(spark, NetCDF4, dir, maxFiles = 1, parts = 1))
    val files = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.endsWith(".nc4"))
    assert(files.length == 1, files.mkString(","))
    // the single growing file presents the identical record sequence
    val back = spark.read.format(SRC).load(dir).orderBy("record")
      .select("x").collect().map(_.getDouble(0))
    assert(back.toSeq == (0 until 150).map(_.toDouble))
    // idempotent: under the threshold, the hook is a no-op
    assert(!graft.sources.netcdf.NcIO.compactIfNeeded(spark, NetCDF4, dir, maxFiles = 1, parts = 1))
  }

  test("multifile4 re-bases records across dirs from header counts only") {
    val dirA = "/tmp/graft_h5/mf4a"
    val dirB = "/tmp/graft_h5/mf4b"
    spark.range(100).select(col("id").cast(DoubleType).as("x")).coalesce(1)
      .write.format(SRC).mode("overwrite").save(dirA)
    spark.range(100, 160).select(col("id").cast(DoubleType).as("x")).coalesce(1)
      .write.format(SRC).mode("overwrite").option("h5ver", "2").save(dirB)
    val u = graft.sources.netcdf.NcIO.multifile(spark, NetCDF4, Seq(dirA, dirB))
    assert(u.count() == 160)
    // dirB's records re-base to 100..159; every (record, x) pair lines up
    val rows = u.orderBy("record").select("record", "x").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(rows.toSeq == (0 until 160).map(i => i.toLong -> i.toDouble))
    // record pushdown still prunes through the re-based projection
    assert(u.filter(col("record") >= 150L).count() == 10)
  }

  test("writer rejects nulls and the reserved record column") {
    val dir = "/tmp/graft_h5/dsv2_reject"
    val withNull = spark.range(10)
      .select(when(col("id") < 5, col("id")).cast(DoubleType).as("x"))
    val e = intercept[Exception] {
      withNull.coalesce(1).write.format(SRC).mode("overwrite").save(dir)
    }
    assert(e.getMessage != null)
    val reserved = spark.range(10).select(col("id").as("record"))
    val e2 = intercept[Exception] {
      reserved.write.format(SRC).mode("overwrite").save(dir)
    }
    assert(e2.getMessage.contains("record"))
  }

  test("Hdf5IO.write lands a part file only for each non-empty partition") {
    val dir = "/tmp/graft_h5/typed_empty_parts"
    Hdf5IO.write(spark.range(5).select(col("id").cast("double").as("x")).repartition(8), dir)
    val recs = NetCDF4.listFiles(fs, new Path(dir))
      .map(f => NetCDF4.numRecs(NetCDF4.readMeta(fs, f)))
    assert(recs.nonEmpty && recs.forall(_ > 0), s"records per landed file: $recs")
    assert(recs.sum == 5)
    val back = spark.read.format(SRC).load(dir).select("x").collect().map(_.getDouble(0))
    assert(back.sorted.toSeq == (0 until 5).map(_.toDouble))
  }

  test("Hdf5IO.write takes a declared length for an array column whose name holds commas") {
    val dir = "/tmp/graft_h5/typed_array_name"
    // unaliased, the array column is named "array(CAST(id AS DOUBLE), 1.0)"
    val df = spark.range(4).select(array(col("id").cast("double"), lit(1.0)))
    val name = df.columns.head
    Hdf5IO.write(df.repartition(2), dir, arrayLens = Map(name -> 2))
    val back = spark.read.format(SRC).load(dir)
    assert(back.columns.toSeq == Seq("record", name))
    assert(back.select(col(s"`$name`")(0)).collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(0.0, 1.0, 2.0, 3.0))
  }

  test("B-tree v1 writer refuses 65,536 chunks, naming the variable, instead of wrapping") {
    val schema = StructType(Seq(StructField("n", LongType, nullable = false)))
    def write(recs: Int): Array[Byte] = {
      val w = new Hdf5Format.Hdf5Writer(schema, chunkRecs = 1)
      (0 until recs).foreach(r => w.putLongAt(0, r.toLong))
      w.finish()
    }
    // 65,535 chunks, the most one node's u16 entry count holds: exact
    val p = new Path("/tmp/graft_h5/btree1_65535.nc4")
    val out = fs.create(p, true)
    try out.write(write(65535)) finally out.close()
    val v = Hdf5Format.readMeta(fs, p).vars.head
    assert(v.chunks.length == 65535)
    val rd = new Hdf5Format.VarReader(fs, p, v, 0L, 65535L)
    try (0 until 65535).foreach(r => assert(rd.getLong(r) == r, s"record $r"))
    finally rd.close()
    // one more chunk used to wrap the count to 0: every value read as fill
    val e = intercept[IllegalArgumentException](write(65536))
    assert(e.getMessage.contains("variable n") && e.getMessage.contains("65536") &&
      e.getMessage.contains("chunkindex=extarray|btree2"), e.getMessage)
  }

  test("a bad chunkindex fails before any task runs, naming the option, even for an empty write") {
    val dir = "/tmp/graft_h5/bad_chunkindex"
    // an unknown kind, and a layout-v4 kind under the default h5ver=0
    for ((idx, named) <- Seq("btree3" -> "chunkindex", "fixedarray" -> "h5ver=2");
         n <- Seq(10L, 0L)) {
      val e = intercept[IllegalArgumentException] {
        spark.range(n).write.format(SRC).mode("overwrite").option("chunkindex", idx).save(dir)
      }
      assert(e.getMessage.contains(named) && e.getMessage.contains(idx), e.getMessage)
    }
  }
}

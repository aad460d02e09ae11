package graft

import java.io.{File, IOException, RandomAccessFile}
import java.nio.file.Files
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicReference

import graft.sources.netcdf.{ChunkCodec, Hdf5Format, NcFormat}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The chunk codec both containers share: byte-exact output on every
  * encode path, and typed, bounded failures on hostile chunk streams. */
class ChunkCodecSpec extends AnyFunSuite {
  private val fs: FileSystem = FileSystem.getLocal(new Configuration())
  private val dir = new File("/tmp/graft_codec_spec")
  dir.mkdirs()

  // ---- fixed inputs: a perfbench-shaped gridded field, a time axis,
  // a station id and one column of random longs (a chunk of it does
  // not deflate, so the store-raw escape is on the pinned path) ----
  private val n = 300
  private def field(r: Int): Array[Float] =
    Array.tabulate(16)(k => math.round(40 * math.sin(r * 0.05 + k * 0.3)).toFloat / 4f)
  private def time(r: Int): Double = r * 0.25
  private def station(r: Int): Int = r % 37
  private val noise: Array[Long] = { val rnd = new scala.util.Random(11); Array.fill(n)(rnd.nextLong()) }

  private val h5Schema = StructType(Seq(
    StructField("field", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("station", IntegerType, nullable = false),
    StructField("noise", LongType, nullable = false)))

  private def h5(make: => Hdf5Format.Hdf5Writer): Array[Byte] = {
    val w = make
    var r = 0
    while (r < n) {
      w.putFloatArrAt(0, field(r)); w.putDoubleAt(1, time(r))
      w.putIntAt(2, station(r)); w.putLongAt(3, noise(r))
      r += 1
    }
    w.finish()
  }

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  private def save(name: String, bytes: Array[Byte]): Path = {
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    new Path(f.getPath)
  }

  /** Read every value of an HDF5 file written by [[h5]] back through
    * `VarReader` and compare it with the inputs (`fieldOf` gives the
    * expected field values). */
  private def checkH5(p: Path, fieldOf: Int => Array[Float] = field): Unit = {
    val meta = Hdf5Format.readMeta(fs, p)
    meta.vars.foreach { v =>
      val rd = new Hdf5Format.VarReader(fs, p, v, 0L, n.toLong)
      try (0 until n).foreach { r =>
        v.name match {
          case "field" =>
            val f = fieldOf(r)
            f.indices.foreach(k => assert(rd.getFloatElem(r, k) == f(k), s"$p field($r, $k)"))
          case "time" => assert(rd.getDouble(r) == time(r), s"$p time($r)")
          case "station" => assert(rd.getInt(r) == station(r), s"$p station($r)")
          case "noise" => assert(rd.getLong(r) == noise(r), s"$p noise($r)")
        }
      } finally rd.close()
    }
  }

  // SHA-256 of each file below, recorded from the writers before the
  // two containers shared one codec (the h5_tiled_* files: before the
  // writer and the readers shared one tile geometry; the sparse, paged
  // and depth-2 index files: before each chunk index was encoded and
  // decoded in one place); any drift means the bytes changed
  private val golden = Map(
    "h5_deflate" -> "d1abc55700e2a681aa367c00d23f1266e171b2871532b8f9376825d7e2da3a7d",
    "h5_shuffle_fletcher_deflate" -> "728c9f658c58e3b42981f16c8586f6029d2fb8f299faf82e5212c4afb604eb8d",
    "h5_zstd" -> "d74cbffae49f2cc31cfa48b39f504be1679662945ecc4364c338a0e901667936",
    "h5_zstd_shuffle_fletcher" -> "79c3cadf682b6fa3cc928e68b4f1e60e13b1b348a02586278bbcf92026e075c0",
    "h5_tiled_rank3" -> "4d19b223c6acc7c62e8bf474679132f4fca3ed5644c4a0909557651e6ba14ce5",
    "h5_sparse_fill" -> "9e0dc41eb47774ca94d03328fc930cd2d0155cc22393118cfb08a9367f06c1d8",
    "h5_tiled_rank2" -> "dd892d26f2075f413e6918fc4e207d4463f53ac2f21ee200a333167618f8e6e9",
    "h5_tiled_rank3_fixedarray" -> "95b6f6f982f1bfec4cd653b915b51315a38c241d6d39510e936ef1a79dfc9d8b",
    "h5_tiled_rank3_extarray" -> "9571684c983f8836032543fcf3d7249b53c81e873bbde97b8051395762e21b1c",
    "h5_tiled_rank3_btree2" -> "42313700735b21a4a2e142db09ec9e547de453d1586682d848c41361aa3a317e",
    "h5_tiled_rank3_implicit" -> "10a51656c6c312494019281c7517d07c823a1ecdfb0d87e05eb61befee83272e",
    "h5_sparse_fixedarray" -> "823a51b309cc64235576143659d1e5a57446567a183a55acbdb7f053b8650cf8",
    "h5_sparse_extarray" -> "51594dfd58aa91029bc7c4ddd258b0e92f638fcae609fff188f13533356ac3e9",
    "h5_sparse_btree2" -> "a513ab56f82492ca7ebdb88a4441db08054e94d59e30b4e5fd5860359b670a95",
    "h5_paged_fixedarray" -> "576bc2e00164da45dc8c04125792343e81dbd93f4c9d8c039e471494e48fdf22",
    "h5_paged_extarray" -> "b4782d3d3b38fba8914af969621873c8d063bf83c7401844a0211eab892631d7",
    "h5_btree2_depth2" -> "d1fb1f4d51086dc461f05e8ec9e07f0bbb93c9d3eb19cb5cf320169f34a924c3",
    "ncz_grf3" -> "7596121ff724823cac3d6533ccbc932928bccd65659cf043664fd0367ef92196",
    "ncz_grf3_stored" -> "c15bda4d9bd37cd41b65712809133260c9b441e51df0e9ca9e417aa5ab4580a5",
    "ncz_v2_store_deflate_zstd" -> "212aa34210a3f7ea6419df6ddc29a682db1930066e758bf66d08764fa27aa1a1")

  test("golden bytes: every HDF5 chunk-codec path writes the recorded file") {
    def w(deflate: Boolean = true, shuffle: Boolean = false, fletcher: Boolean = false,
        zstd: Int = 0) = new Hdf5Format.Hdf5Writer(h5Schema, chunkRecs = 64, deflate = deflate,
      arrayLens = Map("field" -> 16), shuffle = shuffle, fletcher = fletcher, zstdLevel = zstd)
    val files = Seq(
      "h5_deflate" -> h5(w()),
      "h5_shuffle_fletcher_deflate" -> h5(w(shuffle = true, fletcher = true)),
      "h5_zstd" -> h5(w(deflate = false, zstd = 3)),
      "h5_zstd_shuffle_fletcher" -> h5(w(deflate = false, shuffle = true, fletcher = true, zstd = 3)),
      "h5_tiled_rank3" -> h5(new Hdf5Format.Hdf5Writer(h5Schema, chunkRecs = 32,
        arrayLens = Map("field" -> 16), shuffle = true, fletcher = true,
        trailDims = Map("field" -> Seq(4, 4)), trailChunks = Map("field" -> Seq(3, 2)))))
    files.foreach { case (name, bytes) =>
      checkH5(save(s"$name.nc4", bytes))
      assert(sha(bytes) == golden(name), name)
    }
    // sparse: chunks 1 and 2 hold only the fill value and stay unallocated
    val sparseSchema = StructType(Seq(StructField("sp", DoubleType, nullable = false)))
    val sw = new Hdf5Format.Hdf5Writer(sparseSchema, chunkRecs = 64, shuffle = true,
      fillValues = Map("sp" -> -999.0), sparse = true)
    def sp(r: Int): Double = if (r >= 64 && r < 192) -999.0 else r * 1.5
    (0 until n).foreach(r => sw.putDoubleAt(0, sp(r)))
    val sparse = sw.finish()
    val p = save("h5_sparse_fill.nc4", sparse)
    val v = Hdf5Format.readMeta(fs, p).vars.head
    assert(v.chunks.length == 3)
    val rd = new Hdf5Format.VarReader(fs, p, v, 0L, n.toLong)
    try (0 until n).foreach(r => assert(rd.getDouble(r) == sp(r), s"sp($r)"))
    finally rd.close()
    assert(sha(sparse) == golden("h5_sparse_fill"), "h5_sparse_fill")
  }

  test("golden bytes: every chunk index writes a tiled variable as recorded") {
    // the tile grid feeds every index encoder: a rank-2 partial-width
    // field (four 4-wide column tiles) through the B-tree v1, and the
    // rank-3 (4,4)/(3,2) field (four tiles, three of them edge tiles)
    // through each layout-v4 index that admits several chunks
    def rank3(index: String, filtered: Boolean = true) = new Hdf5Format.Hdf5Writer(h5Schema,
      chunkRecs = 32, deflate = filtered, h5ver = 2, chunkIndex = index,
      arrayLens = Map("field" -> 16), shuffle = filtered, fletcher = filtered,
      trailDims = Map("field" -> Seq(4, 4)), trailChunks = Map("field" -> Seq(3, 2)))
    val files = Seq(
      "h5_tiled_rank2" -> h5(new Hdf5Format.Hdf5Writer(h5Schema, chunkRecs = 32,
        arrayLens = Map("field" -> 16), shuffle = true, fletcher = true, chunkCols = 4)),
      "h5_tiled_rank3_fixedarray" -> h5(rank3("fixedarray")),
      "h5_tiled_rank3_extarray" -> h5(rank3("extarray")),
      "h5_tiled_rank3_btree2" -> h5(rank3("btree2")),
      "h5_tiled_rank3_implicit" -> h5(rank3("implicit", filtered = false)))
    files.foreach { case (name, bytes) =>
      checkH5(save(s"$name.nc4", bytes))
      assert(sha(bytes) == golden(name), name)
    }
  }

  test("golden bytes: sparse, paged and deep chunk indexes write as recorded") {
    // the field alone, tiled, through the index shapes the goldens above
    // leave out: unallocated chunks in each gap-capable index, a fixed
    // array past its 4096-entry page, an extensible array whose
    // secondary-block data blocks page at 64 entries, and a v2 B-tree
    // past the 1183 records one depth-1 tree holds for its record size
    val fieldOnly = StructType(h5Schema.fields.take(1))
    def fieldFile(value: Int => Array[Float])(make: => Hdf5Format.Hdf5Writer): Array[Byte] = {
      val w = make
      (0 until n).foreach(r => w.putFloatArrAt(0, value(r)))
      w.finish()
    }
    def index(name: String, chunkRecs: Int, dims: Seq[Int], chunk: Seq[Int],
        filtered: Boolean = true, sparse: Boolean = false, eaPageBits: Int = 13) =
      new Hdf5Format.Hdf5Writer(fieldOnly, chunkRecs = chunkRecs, deflate = filtered,
        h5ver = 2, chunkIndex = name, arrayLens = Map("field" -> 16), shuffle = filtered,
        fletcher = filtered, trailDims = Map("field" -> dims), trailChunks = Map("field" -> chunk),
        fillValues = if (sparse) Map("field" -> -999.0) else Map.empty, sparse = sparse,
        eaPageBits = eaPageBits)
    // rows 64-191 hold only the fill value, and so does tile 1 (the top
    // right 2x2 of the 4x4 field) of every later row: whole row blocks
    // and single tiles stay unallocated
    def sparseField(r: Int): Array[Float] =
      if (r >= 64 && r < 192) Array.fill(16)(-999f)
      else field(r).zipWithIndex.map { case (x, k) =>
        if (r >= 192 && k / 4 < 2 && k % 4 >= 2) -999f else x }
    val sparse = Seq("fixedarray", "extarray", "btree2").map { idx =>
      s"h5_sparse_$idx" -> fieldFile(sparseField)(
        index(idx, 32, Seq(4, 4), Seq(2, 2), sparse = true))
    }
    sparse.foreach { case (name, bytes) =>
      val p = save(s"$name.nc4", bytes)
      checkH5(p, sparseField)
      // 10 row blocks of 4 tiles; 16 chunks in the fill rows, 3 more per
      // row block from row 192 on, except the last, whose zero padding
      // is not the fill
      assert(Hdf5Format.readMeta(fs, p).vars.head.chunks.length == 40 - 16 - 3, name)
    }
    val shapes = Seq(
      "h5_paged_fixedarray" -> fieldFile(field)(
        index("fixedarray", 1, Seq(4, 4), Seq(1, 1), filtered = false)),
      "h5_paged_extarray" -> fieldFile(field)(
        index("extarray", 1, Seq(4, 4), Seq(2, 2), eaPageBits = 6)),
      "h5_btree2_depth2" -> fieldFile(field)(
        index("btree2", 3, Seq(2, 2, 2, 2), Seq(1, 1, 1, 1))))
    shapes.foreach { case (name, bytes) => checkH5(save(s"$name.nc4", bytes)) }
    // the v2 B-tree header's depth (u16 after signature, version, type,
    // node size and record size)
    val bt2 = shapes.last._2
    val bthd = bt2.indices.indexWhere(i => i + 4 <= bt2.length &&
      bt2(i) == 'B' && bt2(i + 1) == 'T' && bt2(i + 2) == 'H' && bt2(i + 3) == 'D')
    assert(bthd > 0 && (bt2(bthd + 12) & 0xff) == 2, "the v2 B-tree should be depth 2")
    (sparse ++ shapes).foreach { case (name, bytes) => assert(sha(bytes) == golden(name), name) }
  }

  private val ncSchema = StructType(Seq(
    StructField("field", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("noise", LongType, nullable = false)))

  private def ncz(name: String, schema: StructType)(make: String => NcFormat.Writer)(
      row: Int => Int => Any): Path = {
    val f = new File(dir, s"$name.ncz")
    val w = make(f.getPath)
    (0 until n).foreach(r => w.writeRow(row(r)))
    w.close()
    assert(sha(Files.readAllBytes(f.toPath)) == golden(name), name)
    new Path(f.getPath)
  }

  test("golden bytes: every .ncz block-codec path writes the recorded file") {
    val full: Int => Int => Any = r => {
      case 0 => field(r)
      case 1 => time(r)
      case 2 => noise(r)
    }
    val grf3 = ncz("ncz_grf3", ncSchema)(new NcFormat.Writer(_, ncSchema, 4096,
      Map("field" -> 16), compressChunks = true))(full)
    // random longs alone: every block is stored raw under GRF3
    val noiseOnly = StructType(Seq(StructField("noise", LongType, nullable = false)))
    val stored = ncz("ncz_grf3_stored", noiseOnly)(new NcFormat.Writer(_, noiseOnly, 1024,
      compressChunks = true))(r => _ => noise(r))
    assert(NcFormat.readNczAny(fs, stored).left.toOption.get.blocks.forall(_._2 < 0))
    val v2 = ncz("ncz_v2_store_deflate_zstd", ncSchema)(new NcFormat.Writer(_, ncSchema, 4096,
      Map("field" -> 16), compressChunks = true,
      varCodecs = Map("field" -> "deflate", "time" -> "zstd", "noise" -> "store")))(full)
    Seq(grf3, v2).foreach { p =>
      val rd = new NcFormat.RangeReader(fs, p, NcFormat.readMeta(fs, p), 0L, n.toLong,
        Seq("field", "time", "noise"))
      try {
        var base = 0
        while (rd.hasNext) {
          val k = rd.loadChunk()
          (0 until k).foreach { i =>
            val r = base + i
            field(r).indices.foreach(j => assert(rd.getFloatElem(0, i, j) == field(r)(j)))
            assert(rd.getDoubleAt(1, i) == time(r) && rd.getLongAt(2, i) == noise(r), s"$p $r")
          }
          base += k
        }
        assert(base == n)
      } finally rd.close()
    }
  }

  test("one shuffle at element sizes 1/2/4/8, any tail, through every decoder") {
    // known answers: planes of whole elements, then the verbatim tail
    val ten = Array.tabulate[Byte](10)(_.toByte)
    val four = new Array[Byte](10)
    ChunkCodec.shuffle(ten, 10, 4, four, 0, 10)
    assert(four.toSeq == Seq[Byte](0, 4, 1, 5, 2, 6, 3, 7, 8, 9))
    val two = new Array[Byte](5)
    ChunkCodec.shuffle(ten, 5, 2, two, 0, 5)
    assert(two.toSeq == Seq[Byte](0, 2, 1, 3, 4))
    val codec = new ChunkCodec
    try {
      val rnd = new scala.util.Random(7)
      for (es <- Seq(1, 2, 4, 8); n <- Seq(0, 1, 3, 4, 5, 15, 16, 17, 19, 64, 67, 4099, 200003)) {
        // low-entropy input, so deflate and zstd shrink it
        val src = Array.tabulate(n)(i => (if (i % es == 0) rnd.nextInt(4) else i / 1000).toByte)
        val k = n / es
        val expect = Array.tabulate(n)(p => if (p < k * es) src((p % k) * es + p / k) else src(p))
        val shuf = new Array[Byte](n)
        ChunkCodec.shuffle(src, n, es, shuf, 0, n)
        assert(shuf.sameElements(expect), s"shuffle es $es len $n")
        // and a window at a time, as the shuffled deflate feeds it
        val win = new Array[Byte](n)
        (0 until n by 1000).foreach { from =>
          val piece = new Array[Byte](math.min(1000, n - from))
          ChunkCodec.shuffle(src, n, es, piece, from, piece.length)
          System.arraycopy(piece, 0, win, from, piece.length)
        }
        assert(win.sameElements(expect), s"windowed shuffle es $es len $n")
        val back = new Array[Byte](n)
        ChunkCodec.unshuffle(shuf, 0, n, back, n, es)
        assert(back.sameElements(src), s"unshuffle es $es len $n")
        val d = codec.deflate(src, n, 4, es)
        // the windowed shuffle+deflate writes exactly what a one-shot
        // deflate of the whole shuffled chunk writes
        val whole = new java.util.zip.Deflater(4)
        whole.setInput(shuf); whole.finish()
        val ref = new Array[Byte](n + 1024)
        var rn = 0
        while (!whole.finished()) rn += whole.deflate(ref, rn, ref.length - rn)
        whole.end()
        assert(if (rn < n) d == rn && codec.out.take(d).sameElements(ref.take(rn)) else d == -1,
          s"deflate es $es len $n")
        if (d >= 0) {
          val inflated = new Array[Byte](n)
          codec.inflate(codec.out, d, inflated, n, es, "test")
          assert(inflated.sameElements(src), s"inflate es $es len $n")
        }
        val z = codec.zstd(src, n, 3, es, "test")
        if (z >= 0) {
          val unz = new Array[Byte](n)
          codec.unzstd(codec.out, z, unz, n, es, "test")
          assert(unz.sameElements(src), s"unzstd es $es len $n")
        }
        if (n >= 4099) assert(d >= 0 && z >= 0, s"es $es len $n should compress")
      }
    } finally codec.end()
  }

  // ---- hostile chunk streams ----

  /** Run `body` on a daemon thread and wait at most 30 s, so a reader
    * that spins fails the test instead of hanging the suite. */
  private def bounded[T](what: String)(body: => T): Either[Throwable, T] = {
    val result = new AtomicReference[Either[Throwable, T]]()
    val t = new Thread(() => result.set(try Right(body) catch { case e: Throwable => Left(e) }), what)
    t.setDaemon(true)
    t.start()
    t.join(30000)
    val r = result.get
    if (r == null) fail(s"$what did not finish within 30 s")
    r
  }

  private def patch(p: Path, off: Long, bytes: Array[Byte]): Unit = {
    val raf = new RandomAccessFile(p.toUri.getPath, "rw")
    try { raf.seek(off); raf.write(bytes) } finally raf.close()
  }

  /** A zlib header asking for a preset dictionary (FDICT set; 0x78BB
    * passes the header check), which no chunk of either container has. */
  private val fdict = Array(0x78.toByte, 0xBB.toByte)

  private val intSchema = StructType(Seq(StructField("v", IntegerType, nullable = false)))
  private def intVal(r: Int): Int = (r * 7) % 1000

  /** A deflate-only `.nc4` with one int variable of two 256-record chunks. */
  private def twoChunkNc4(name: String): (Path, Hdf5Format.H5Var) = {
    val w = new Hdf5Format.Hdf5Writer(intSchema, chunkRecs = 256)
    (0 until 512).foreach(r => w.putIntAt(0, intVal(r)))
    val p = save(name, w.finish())
    val v = Hdf5Format.readMeta(fs, p).vars.head
    assert(v.chunks.length == 2 && v.chunks.forall(_.filterMask == 0))
    (p, v)
  }

  private def readAllH5(p: Path, v: Hdf5Format.H5Var): Unit = {
    val rd = new Hdf5Format.VarReader(fs, p, v, 0L, 512L)
    try (0 until 512).foreach(r => rd.getInt(r)) finally rd.close()
  }

  test("netCDF-4: a chunk whose zlib stream wants a preset dictionary fails") {
    val (p, v) = twoChunkNc4("fdict.nc4")
    patch(p, v.chunks(1).addr, fdict)
    bounded("nc4 FDICT read")(readAllH5(p, v)) match {
      case Left(e: IOException) =>
        assert(e.getMessage.contains("fdict.nc4") && e.getMessage.contains("variable v") &&
          e.getMessage.contains("chunk"), e.getMessage)
      case other => fail(s"expected an IOException, got $other")
    }
  }

  test("netCDF-4: a chunk that inflates short fails, not serving the previous chunk") {
    val (p, v) = twoChunkNc4("short.nc4")
    // a valid zlib stream of the first half of chunk 2's raw bytes
    val half = java.nio.ByteBuffer.allocate(128 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (256 until 384).foreach(r => half.putInt(intVal(r)))
    val d = new java.util.zip.Deflater(6)
    d.setInput(half.array()); d.finish()
    val buf = new Array[Byte](4096)
    val k = d.deflate(buf)
    assert(d.finished() && k <= v.chunks(1).storedSize)
    d.end()
    patch(p, v.chunks(1).addr, java.util.Arrays.copyOf(buf, k))
    bounded("nc4 short read")(readAllH5(p, v)) match {
      case Left(e: IOException) =>
        assert(e.getMessage.contains("short.nc4") && e.getMessage.contains("variable v"),
          e.getMessage)
      case other => fail(s"expected an IOException, got $other")
    }
  }

  /** A GRF3 `.ncz` of one int column in two compressed blocks. */
  private def twoBlockNcz(name: String): (Path, NcFormat.NczIndex) = {
    val f = new File(dir, name)
    val w = new NcFormat.Writer(f.getPath, intSchema, 1024, compressChunks = true)
    (0 until 512).foreach(r => w.writeRow(_ => intVal(r)))
    w.close()
    val p = new Path(f.getPath)
    val idx = NcFormat.readNczAny(fs, p).left.toOption.get
    assert(idx.blocks.length == 2 && idx.blocks.forall(_._2 > 0))
    (p, idx)
  }

  private def readAllNcz(p: Path): Unit = {
    val rd = new NcFormat.RangeReader(fs, p, NcFormat.readMeta(fs, p), 0L, 512L, Seq("v"))
    try while (rd.hasNext) rd.loadChunk() finally rd.close()
  }

  test(".ncz: a block whose zlib stream wants a preset dictionary fails, naming it") {
    val (p, idx) = twoBlockNcz("fdict.ncz")
    patch(p, idx.blocks(1)._1, fdict)
    bounded("ncz FDICT read")(readAllNcz(p)) match {
      case Left(e: IOException) =>
        assert(e.getMessage.contains("fdict.ncz") && e.getMessage.contains("block 1"),
          e.getMessage)
      case other => fail(s"expected an IOException, got $other")
    }
  }

  test(".ncz: a block that inflates short is an IOException") {
    val (p, idx) = twoBlockNcz("short.ncz")
    val d = new java.util.zip.Deflater(4)
    d.setInput(new Array[Byte](100)); d.finish()
    val buf = new Array[Byte](256)
    val k = d.deflate(buf)
    assert(d.finished() && k <= idx.blocks(1)._2)
    d.end()
    patch(p, idx.blocks(1)._1, java.util.Arrays.copyOf(buf, k))
    bounded("ncz short read")(readAllNcz(p)) match {
      case Left(e: IOException) =>
        assert(e.getMessage.contains("short.ncz") && e.getMessage.contains("block 1"),
          e.getMessage)
      case other => fail(s"expected an IOException, got $other")
    }
  }
}

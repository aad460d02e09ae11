package graft

import graft.functions.TarCodec
import graft.sources.netcdf.NcFormat
import graft.sources.netcdf.Hdf5Format
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based codec tests (scalacheck): the deterministic matrix
  * sweeps (Hdf5MatrixSpec) pin every FEATURE COMPOSITION; these
  * properties pin the VALUE SPACE — randomized shapes, sizes, and
  * payloads through the same write→read paths, so a bug that only
  * bites at an unanticipated size/content combination (odd chunk
  * tails, zero-length payloads, name-length edges) still has a
  * chance to surface. Failures print the shrunk counterexample. */
class PropertySpec extends AnyFunSuite {

  private def fs = new Path("/tmp").getFileSystem(new Configuration())

  private def run(prop: Prop, min: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, res.status.toString)
  }

  // -----------------------------------------------------------------
  // ustar codec
  // -----------------------------------------------------------------

  private val genEntry: Gen[(String, Array[Byte])] = for {
    nameLen <- Gen.choose(1, 100)
    name <- Gen.listOfN(nameLen, Gen.alphaNumChar).map(_.mkString)
    size <- Gen.frequency(3 -> Gen.choose(0, 40), 2 -> Gen.choose(41, 600),
      1 -> Gen.const(512), 1 -> Gen.const(511), 1 -> Gen.const(513))
    data <- Gen.containerOfN[Array, Byte](size, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield (name, data)

  test("tar pack→members roundtrips names, sizes and payload bytes (property)") {
    run(Prop.forAll(Gen.nonEmptyListOf(genEntry).map(_.take(20))) { entries =>
      val arr = new GenericArrayData(entries.map { case (n, b) =>
        InternalRow(UTF8String.fromString(n), b)
      }.toArray[Any])
      val bytes = TarCodec.pack(arr)
      val ms = TarCodec.members(bytes)
      (0 until ms.numElements()).forall { i =>
        val m = ms.getStruct(i, 3)
        val (n, b) = entries(i)
        val off = m.getLong(1).toInt
        val sz = m.getLong(2).toInt
        m.getUTF8String(0).toString == n && sz == b.length &&
          java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(bytes, off, off + sz), b)
      } && ms.numElements() == entries.length &&
        // archive size law: Σ (512 + ceil512(size)) + 1024
        bytes.length == entries.map { case (_, b) =>
          512 + ((b.length + 511) / 512) * 512
        }.sum + 1024
    })
  }

  test("tar member walk rejects a corrupted header loudly (property)") {
    run(Prop.forAll(Gen.nonEmptyListOf(genEntry).map(_.take(6)),
      Gen.choose(0, 99)) { (entries, pos) =>
      val arr = new GenericArrayData(entries.map { case (n, b) =>
        InternalRow(UTF8String.fromString(n), b)
      }.toArray[Any])
      val bytes = TarCodec.pack(arr)
      val mut = bytes.clone()
      mut(pos) = (mut(pos) ^ 0x55).toByte // flip bits inside header byte `pos`
      try { TarCodec.members(mut); false } // corrupted name/mode/size must not pass
      catch { case _: java.io.IOException | _: IllegalArgumentException => true }
      // name-byte flips change the checksum; every header field is summed
    }, min = 40)
  }

  // names of 101-255 bytes exercise the POSIX prefix split: a
  // directory prefix joined with a basename — the join '/' always
  // lands inside the legal prefix(155)/name(100) windows, and random
  // extra '/' inside the prefix lets the writer pick a different
  // (equally legal) cut without breaking the roundtrip
  private val genPrefixEntry: Gen[(String, Array[Byte])] = for {
    preLen <- Gen.choose(20, 150)
    pre <- Gen.listOfN(preLen,
      Gen.frequency(9 -> Gen.alphaNumChar, 1 -> Gen.const('/'))).map(_.mkString)
    baseLen <- Gen.choose(math.max(1, 100 - preLen), math.min(100, 254 - preLen))
    base <- Gen.listOfN(baseLen, Gen.alphaNumChar).map(_.mkString)
    size <- Gen.choose(0, 80)
    data <- Gen.containerOfN[Array, Byte](size, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield (s"$pre/$base", data)

  test("tar prefix split roundtrips 101-255 byte member paths (property)") {
    run(Prop.forAll(Gen.nonEmptyListOf(genPrefixEntry).map(_.take(8))) { entries =>
      val arr = new GenericArrayData(entries.map { case (n, b) =>
        InternalRow(UTF8String.fromString(n), b)
      }.toArray[Any])
      val bytes = TarCodec.pack(arr)
      val ms = TarCodec.members(bytes)
      ms.numElements() == entries.length &&
        (0 until ms.numElements()).forall { i =>
          val m = ms.getStruct(i, 3)
          val (n, b) = entries(i)
          val hdrOff = m.getLong(1).toInt - 512
          val usedPrefix = n.length > 100
          m.getUTF8String(0).toString == n && m.getLong(2) == b.length &&
            // long names MUST land in the prefix field (byte 345 set),
            // short names must leave it all-zero
            (bytes(hdrOff + 345) != 0) == usedPrefix
        }
    })
  }

  test("tar pack escapes beyond-ustar names via GNU 'L' and roundtrips (property)") {
    // r14 (r13 verdict #8): names with no legal prefix/name cut — or
    // longer than ustar's 255 bytes outright — now emit a GNU
    // type-'L' long-name member instead of rejecting, and the member
    // walk reads the full path back. The 'L' escape costs exactly
    // 512 + ceil512(len+1) extra bytes, which the size law pins.
    def packOne(name: String): Array[Byte] = TarCodec.pack(new GenericArrayData(
      Array[Any](InternalRow(UTF8String.fromString(name), Array[Byte](1)))))
    def roundtrips(name: String): Boolean = {
      val bytes = packOne(name)
      val ms = TarCodec.members(bytes)
      val escapeLen = 512 + ((name.length + 1 + 511) / 512) * 512
      ms.numElements() == 1 &&
        ms.getStruct(0, 3).getUTF8String(0).toString == name &&
        bytes(156) == 'L'.toByte && // first member is the escape
        bytes.length == escapeLen + 512 + 512 + 1024
    }
    run(Prop.forAll(Gen.choose(101, 255)) { n =>
      roundtrips("q" * n) // no '/' anywhere: no legal ustar cut
    }, min = 10)
    run(Prop.forAll(Gen.choose(256, 400)) { n =>
      roundtrips(("a" * 150) + "/" + ("b" * (n - 151))) // > 255 bytes total
    }, min = 10)
    // a '/' only outside the legal window also takes the escape: the
    // sole cut at index 1 would leave a 150-byte name part
    assert(roundtrips("a/" + ("b" * 150)))
  }

  // -----------------------------------------------------------------
  // bounded TopK aggregator (the ANN ranking primitive)
  // -----------------------------------------------------------------

  private val genTopK: Gen[(Int, List[(Double, Long, Double)], List[Int])] = for {
    k <- Gen.choose(1, 8)
    n <- Gen.choose(0, 120)
    // sort keys from a SMALL pool force ties → the id tiebreak is live;
    // occasional NaN exercises the rank-first contract
    keys <- Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(0, 6).map(_.toDouble / 2),
      2 -> Gen.choose(-1e9, 1e9),
      1 -> Gen.const(Double.NaN)))
    splits <- Gen.listOfN(n, Gen.choose(0, 4)) // partition assignment per row
  } yield (k,
    keys.zipWithIndex.map { case (s, i) => (s, i.toLong, s * 2) },
    splits)

  test("TopK aggregator == local sort-take under any partitioning (property)") {
    def rankKey(s: Double) = if (s.isNaN) Double.PositiveInfinity else s
    val ord = Ordering.by[(Double, Long, Double), (Double, Long)] {
      case (s, id, _) => (-rankKey(s), id)
    }
    run(Prop.forAll(genTopK) { case (k, entries, splits) =>
      val agg = new graft.functions.TopK.TopKAggregator(k)
      // partial aggregation: reduce per partition, then merge partials
      // in the (arbitrary) partition order — the distributed shape
      val partials = entries.zip(splits).groupBy(_._2).values
        .map(_.map(_._1).foldLeft(agg.zero)(agg.reduce))
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      val got = agg.finish(merged)
      val want = entries.sorted(ord).take(k)
      got == want
    }, min = 60)
  }

  // -----------------------------------------------------------------
  // classic NetCDF (CDF-2/CDF-5 + .ncz) codec
  // -----------------------------------------------------------------

  private case class NcCase(types: List[DataType], n: Int,
      chunkBytes: Int, ncz: Boolean, rows: List[List[Any]])

  private val genNc: Gen[NcCase] = for {
    ncols <- Gen.choose(1, 3)
    types <- Gen.listOfN(ncols, Gen.oneOf[DataType](
      DoubleType, FloatType, IntegerType, LongType, ShortType))
    n <- Gen.choose(1, 300)
    chunkBytes <- Gen.oneOf(64, 256, 4096)
    ncz <- Gen.oneOf(true, false)
    rows <- Gen.listOfN(n, Gen.sequence[List[Any], Any](types.map {
      case DoubleType => Gen.choose(-1e9, 1e9).map(_.asInstanceOf[Any])
      case FloatType => Gen.choose(-1e6f, 1e6f).map(_.asInstanceOf[Any])
      case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue).map(_.asInstanceOf[Any])
      case LongType => Gen.choose(Long.MinValue, Long.MaxValue).map(_.asInstanceOf[Any])
      case _ => Gen.choose(Short.MinValue, Short.MaxValue).map(_.asInstanceOf[Any])
    }))
  } yield NcCase(types, n, chunkBytes, ncz, rows)

  test("NetCDF write→readMeta→RangeReader roundtrips random shapes exactly (property)") {
    new java.io.File("/tmp/graft_nc_prop").mkdirs()
    var fileNo = 0
    run(Prop.forAll(genNc) { c =>
      fileNo += 1
      val schema = StructType(c.types.zipWithIndex.map { case (t, i) =>
        StructField(s"c$i", t)
      })
      val ext = if (c.ncz) "ncz" else "nc" // .ncz name IS the codec contract
      val path = s"/tmp/graft_nc_prop/case_${fileNo % 8}.$ext"
      val w = new NcFormat.Writer(path, schema,
        chunkBytes = c.chunkBytes, compressChunks = c.ncz)
      c.rows.foreach(r => w.writeRow(i => r(i)))
      w.close()
      if (c.ncz) {
        // misnamed block-compressed file must reject loudly, never
        // decode deflate streams as record bytes
        val misnamed = s"/tmp/graft_nc_prop/misnamed_${fileNo % 8}.nc"
        java.nio.file.Files.copy(java.nio.file.Paths.get(path),
          java.nio.file.Paths.get(misnamed),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        val mp = new Path(misnamed)
        val mm = NcFormat.readMeta(fs, mp)
        val loud =
          try { new NcFormat.RangeReader(fs, mp, mm, 0L, c.n.toLong,
            schema.fieldNames.toSeq); false }
          catch { case _: java.io.IOException => true }
        if (!loud) throw new AssertionError("misnamed .ncz read did not reject")
      }
      val p = new Path(path)
      val meta = NcFormat.readMeta(fs, p)
      // CDF-5 exactly when a 64-bit int column is present
      val versionOk =
        meta.version == (if (c.types.contains(LongType)) 5 else 2)
      val r = new NcFormat.RangeReader(fs, p, meta, 0L, c.n.toLong,
        schema.fieldNames.toSeq)
      try {
        var rec = 0
        var ok = versionOk && meta.numRecs == c.n.toLong
        while (ok && r.hasNext) {
          val k = r.loadChunk()
          var i = 0
          while (ok && i < k) {
            var s = 0
            while (ok && s < c.types.length) {
              ok = r.getValue(s, i) == c.rows(rec)(s)
              s += 1
            }
            i += 1; rec += 1
          }
        }
        ok && rec == c.n
      } finally r.close()
    }, min = 25)
  }

  // -----------------------------------------------------------------
  // HDF5 codec
  // -----------------------------------------------------------------

  private case class H5Case(dtype: String, index: String, stack: String,
      n: Int, chunkRecs: Int, values: List[Any])

  private val genH5: Gen[H5Case] = for {
    dtype <- Gen.oneOf("long", "double", "string")
    index <- Gen.oneOf("btree1", "single", "implicit", "fixedarray",
      "extarray", "btree2")
    stack <- if (index == "implicit") Gen.const("none")
      else Gen.oneOf("none", "deflate", "shuffle+deflate", "fletcher+shuffle+zstd")
    n <- Gen.choose(1, 120)
    cr0 <- Gen.choose(1, 32)
    values <- Gen.listOfN(n, dtype match {
      case "long" => Gen.choose(Long.MinValue, Long.MaxValue)
      case "double" => Gen.choose(-1e6, 1e6)
      case _ => Gen.choose(1, 12).flatMap(l =>
        Gen.listOfN(l, Gen.alphaNumChar).map(_.mkString))
    })
  } yield H5Case(dtype, index, stack,
    n, if (index == "single") math.max(n, 1) else cr0, values.map(_.asInstanceOf[Any]))

  test("HDF5 write→readMeta→VarReader roundtrips random shapes exactly (property)") {
    var fileNo = 0
    run(Prop.forAll(genH5) { c =>
      fileNo += 1
      val schema = StructType(Seq(StructField("v", c.dtype match {
        case "long" => LongType
        case "double" => DoubleType
        case _ => StringType
      })))
      val w = new Hdf5Format.Hdf5Writer(schema,
        chunkRecs = c.chunkRecs,
        deflate = c.stack.contains("deflate"),
        stringWidth = 12,
        h5ver = if (c.index == "btree1") 0 else 2,
        shuffle = c.stack.contains("shuffle"),
        fletcher = c.stack.contains("fletcher"),
        chunkIndex = c.index,
        zstdLevel = if (c.stack.contains("zstd")) 3 else 0)
      c.values.foreach(v => w.writeRow(_ => v))
      val p = new Path(s"/tmp/graft_h5prop/case_${fileNo % 8}.nc4")
      val out = fs.create(p, true)
      try out.write(w.finish()) finally out.close()
      val meta = Hdf5Format.readMeta(fs, p)
      val v = meta.vars.find(_.name == "v").get
      val r = new Hdf5Format.VarReader(fs, p, v, 0L, c.n.toLong)
      try {
        v.numRecs == c.n.toLong && c.values.zipWithIndex.forall { case (e, i) =>
          c.dtype match {
            case "long" => r.getLong(i) == e.asInstanceOf[Long]
            case "double" => r.getDouble(i) == e.asInstanceOf[Double]
            case _ => new String(r.getString(i), "UTF-8") == e.asInstanceOf[String]
          }
        }
      } finally r.close()
    }, min = 25)
  }

  // -----------------------------------------------------------------
  // HDF5 tile geometry: rank-1..3 trailing dims, any chunk extents
  // (edge tiles included), against a brute-force tiling that
  // enumerates tiles and their cells instead of dividing
  // -----------------------------------------------------------------

  private val genTileGeom: Gen[Hdf5Format.TileGeom] = for {
    rank <- Gen.choose(1, 3)
    dims <- Gen.listOfN(rank, Gen.choose(1, 7))
    chunk <- Gen.sequence[List[Int], Int](dims.map(d => Gen.choose(1, d)))
  } yield Hdf5Format.TileGeom(dims, chunk)

  /** Row-major coordinates of every cell of a box (first dim slowest). */
  private def cells(ext: Seq[Int]): Seq[List[Int]] =
    ext.foldRight(Seq(List.empty[Int])) { (e, rest) => for (x <- 0 until e; r <- rest) yield x :: r }

  /** flattened element k → (tile, in-tile offset), by enumeration */
  private def bruteTiling(g: Hdf5Format.TileGeom): Map[Int, (Int, Int)] = {
    val grid = g.dims.zip(g.chunk).map { case (d, c) => (d + c - 1) / c }
    (for {
      (tc, t) <- cells(grid).zipWithIndex
      (ic, off) <- cells(g.chunk).zipWithIndex
      at = tc.zip(ic).zip(g.chunk).map { case ((a, b), c) => a * c + b }
      if at.zip(g.dims).forall { case (x, d) => x < d }
    } yield at.zip(g.dims).foldLeft(0) { case (k, (x, d)) => k * d + x } -> (t, off)).toMap
  }

  test("tile geometry: corner and tile invert, locate matches a brute-force tiling (property)") {
    run(Prop.forAll(genTileGeom) { g =>
      val brute = bruteTiling(g)
      val grid = g.dims.zip(g.chunk).map { case (d, c) => (d + c - 1) / c }
      val starts = cells(grid)
      g.nTiles == starts.length && brute.size == g.rowElems &&
        g.tiled == g.dims.zip(g.chunk).exists { case (d, c) => c < d } &&
        (0 until g.nTiles).forall { t =>
          val corner = g.cornerOfTile(t)
          val s = starts(t).map(_.toLong).toArray
          g.tileOfCorner(corner) == t && brute(corner) == (t, 0) &&
            (0 until g.rank).forall(i => g.tileCoord(t, i) == starts(t)(i)) &&
            g.tileOf(s, scaled = true, "p") == t &&
            g.tileOf(s.zip(g.chunk).map { case (x, c) => x * c }, scaled = false, "p") == t
        } &&
        (0 until g.rowElems).forall { k =>
          val loc = g.locate(k)
          ((loc >>> 32).toInt, loc.toInt) == brute(k)
        }
    }, min = 200)
  }

  test("tile geometry: the writer's gather and the reader's locate return every element (property)") {
    run(Prop.forAll(genTileGeom, Gen.choose(1, 3), Gen.oneOf(1, 4, 8)) { (g, nRecs, esz) =>
      // element (r, k) holds a distinct esz-byte pattern
      val rows = Array.tabulate(nRecs * g.rowElems * esz)(i => (i * 31 + 7).toByte)
      val tiles = Array.tabulate(g.nTiles) { t =>
        val tile = new Array[Byte](nRecs * g.tileRowElems * esz)
        g.gather(rows, nRecs, t, esz, tile)
        tile
      }
      (0 until nRecs).forall { r =>
        (0 until g.rowElems).forall { k =>
          val loc = g.locate(k)
          val at = (r * g.tileRowElems + loc.toInt) * esz
          (0 until esz).forall(b =>
            tiles((loc >>> 32).toInt)(at + b) == rows((r * g.rowElems + k) * esz + b))
        }
      }
    }, min = 200)
  }

  // -----------------------------------------------------------------
  // r15b integer devices: equal-width bucketing + Heaps moment sums
  // -----------------------------------------------------------------

  test("equal-width bucket index partitions [lo, hi] into 1..K, monotone (r15b)") {
    // the shared formula of text_heaps_fit's checkpoints and
    // pipeline_nb_calibration's score bands:
    // k(v) = ((K·(v−lo)) DIV span) + 1, span = hi−lo+1. Spark DIV
    // truncates and DuckDB // floors, but every operand is
    // nonnegative by construction, where the two agree — pinned here
    // by replaying the arithmetic in BigInt (floor == trunc for ≥0).
    val K = 10L
    val genRange = for {
      lo <- Gen.choose(-1000000L, 1000000L)
      w <- Gen.choose(0L, 5000000L)
      v <- Gen.choose(0L, w)
    } yield (lo, lo + w, lo + v)
    run(Prop.forAll(genRange) { case (lo, hi, v) =>
      val span = hi - lo + 1
      val k = (K * (v - lo)) / span + 1 // Long division, trunc
      val kBig = (BigInt(K) * (BigInt(v) - lo) / span + 1).toLong // floor
      k == kBig && k >= 1 && k <= K &&
        // monotone: the next value's bucket never decreases
        (v >= hi || (K * (v + 1 - lo)) / span + 1 >= k)
    }, min = 200)
  }

  test("heaps moment sums stay inside Long at two decades past 100 TB (r15b)") {
    // betaExpr computes kn·sxy − sx·sy and kn·sxx − sx² in BIGINT.
    // The scaladoc claims no overflow for λ values up to ln(1e14
    // grams)·1e6 ≈ 3.3e7 over K = 10 points: replay the exact
    // arithmetic in BigInt next to Long and require equality — a
    // silent 64-bit wrap (the sketch_moments r14 bug class) fails
    // loudly here.
    val genPts = Gen.listOfN(10, for {
      x <- Gen.choose(0L, 33000000L)
      y <- Gen.choose(0L, 33000000L)
    } yield (x, y))
    run(Prop.forAll(genPts) { pts =>
      val kn = pts.size.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map { case (x, y) => x * y }.sum
      val sxx = pts.map { case (x, _) => x * x }.sum
      val numL = kn * sxy - sx * sy
      val denL = kn * sxx - sx * sx
      val numB = BigInt(kn) * pts.map { case (x, y) => BigInt(x) * y }.sum -
        BigInt(sx) * sy
      val denB = BigInt(kn) * pts.map { case (x, _) => BigInt(x) * x }.sum -
        BigInt(sx) * sx
      BigInt(numL) == numB && BigInt(denL) == denB
    }, min = 200)
  }

  test("A-ES cost arithmetic stays inside Long over the full hash/weight space (r16)") {
    // pipeline_sample_weighted computes cost = (−lnq)·10⁶ DIV w with
    // lnq = round(1e6·ln u), u = (h60+1)/2⁶⁰. Claim replayed exactly:
    // over the FULL h60 range (so u down to 2⁻⁶⁰, −lnq up to
    // ~4.16e7) and any weight ≥ 1, the scaled numerator (−lnq)·10⁶
    // ≤ ~4.16e13 never wraps, both factors are nonnegative (trunc ==
    // floor, Spark DIV == DuckDB //), and cost is monotone
    // NON-INCREASING in the weight — heavier docs never rank worse
    // for the same hash draw.
    val genHW = for {
      h60 <- Gen.oneOf(Gen.choose(0L, (1L << 60) - 1), Gen.oneOf(0L, 1L, (1L << 60) - 1))
      w <- Gen.oneOf(Gen.choose(1L, 10000000L), Gen.oneOf(1L, 2L, Long.MaxValue / 1000000))
    } yield (h60, w)
    run(Prop.forAll(genHW) { case (h60, w) =>
      val lnq = Math.round(1e6 * Math.log((h60 + 1).toDouble / 1152921504606846976.0))
      val num = -lnq * 1000000L
      val cost = num / w // Long division, trunc
      val costB = (BigInt(-lnq) * 1000000 / w).toLong // floor (both ≥ 0)
      lnq <= 0L && BigInt(num) == BigInt(-lnq) * 1000000 &&
        cost == costB && cost >= 0L &&
        // weight monotonicity at the integer level
        num / (w + 1) <= cost
    }, min = 200)
  }
}

package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

import graft.sources.netcdf.{Hdf5Format, NcFormat}

/** What one codec's direct calls measured. */
case class CodecResult(layer: String, userBytes: Long, encodeNs: Long, decodeNs: Long,
    allocBytes: Long, chunks: Int, readMetaNs: Seq[Long], mismatch: String)

/** Timed single-thread calls into one codec's public functions, on
  * records of the workload's own shape and seed: encode, decode, and
  * the metadata read, the last on the part file the encode wrote (one
  * part file's worth of records, written with the sink's options). */
object Codec {
  val schema: StructType = StructType(Seq(
    StructField("field", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("station", IntegerType, nullable = false)))

  /** The records [0, n) the codec calls encode, generated up front. */
  final class Block(seed: Long, val shape: Shape, val n: Int) {
    val field: Array[Array[Float]] = Array.tabulate(n)(r => Gen.field(seed, shape, r))
    val time: Array[Double] = Array.tabulate(n)(r => Gen.time(r))
    val station: Array[Int] = Array.tabulate(n)(r => Gen.station(seed, r))
    def userBytes: Long = shape.recordBytes * n
  }

  /** Decoded values, filled by a decode and compared after the timer. */
  private final class Decoded(n: Int, width: Int) {
    val field: Array[Array[Float]] = Array.fill(n)(new Array[Float](width))
    val time = new Array[Double](n)
    val station = new Array[Int](n)
    def diff(b: Block, seed: Long): String = {
      var r = 0
      while (r < b.n) {
        val e = Gen.diff(seed, b.shape, r, field(r), time(r), station(r))
        if (e != null) return e
        r += 1
      }
      null
    }
  }

  private def timeNs(body: => Unit): Long = {
    val t0 = System.nanoTime(); body; System.nanoTime() - t0
  }

  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  /** netCDF-4 with the write path's filters: shuffle, fletcher32, deflate. */
  def hdf5(b: Block, seed: Long, dir: String, spans: Spans,
      parent: Long): CodecResult = {
    val chunkRecs = 4096
    var bytes: Array[Byte] = null
    val a0 = Counters.threadAlloc()
    val s0 = System.nanoTime()
    val enc = timeNs {
      val w = new Hdf5Format.Hdf5Writer(schema, chunkRecs = chunkRecs, deflate = true,
        arrayLens = Map("field" -> b.shape.width), shuffle = true, fletcher = true)
      var r = 0
      while (r < b.n) {
        w.putFloatArrAt(0, b.field(r)); w.putDoubleAt(1, b.time(r)); w.putIntAt(2, b.station(r))
        r += 1
      }
      bytes = w.finish()
    }
    val alloc = Counters.threadAlloc() - a0
    spans.add(parent, "encode", "Hdf5Format", spans.msOfNano(s0), spans.msOfNano(s0 + enc))
    val path = new Path(dir, "codec.nc4")
    val out = fs.create(path, true)
    try out.write(bytes) finally out.close()

    val d = new Decoded(b.n, b.shape.width)
    val s1 = System.nanoTime()
    val dec = timeNs {
      val meta = Hdf5Format.readMeta(fs, path)
      meta.vars.foreach { v =>
        val rd = new Hdf5Format.VarReader(fs, path, v, 0L, b.n.toLong)
        try {
          var r = 0
          v.name match {
            case "field" =>
              while (r < b.n) {
                val f = d.field(r); var k = 0
                while (k < f.length) { f(k) = rd.getFloatElem(r, k); k += 1 }
                r += 1
              }
            case "time" => while (r < b.n) { d.time(r) = rd.getDouble(r); r += 1 }
            case "station" => while (r < b.n) { d.station(r) = rd.getInt(r); r += 1 }
          }
        } finally rd.close()
      }
    }
    spans.add(parent, "decode", "Hdf5Format", spans.msOfNano(s1), spans.msOfNano(s1 + dec))
    val chunks = 3 * ((b.n + chunkRecs - 1) / chunkRecs)
    val metaNs = readMetas(spans, parent, "Hdf5Format") { Hdf5Format.readMeta(fs, path) }
    CodecResult("Hdf5Format", b.userBytes, enc, dec, alloc, chunks, metaNs, d.diff(b, seed))
  }

  /** classic netCDF with per-chunk deflate (.ncz), as the netcdf3 sink writes it. */
  def nc(b: Block, seed: Long, dir: String, spans: Spans,
      parent: Long): CodecResult = {
    val path = new Path(dir, "codec.ncz")
    val a0 = Counters.threadAlloc()
    val s0 = System.nanoTime()
    val enc = timeNs {
      val w = new NcFormat.Writer(path.toUri.getPath, schema, 4 << 20,
        Map("field" -> b.shape.width), compressChunks = true)
      var r = 0
      while (r < b.n) {
        val rr = r
        w.writeRow {
          case 0 => b.field(rr)
          case 1 => b.time(rr)
          case 2 => b.station(rr)
        }
        r += 1
      }
      w.close()
    }
    val alloc = Counters.threadAlloc() - a0
    spans.add(parent, "encode", "NcFormat", spans.msOfNano(s0), spans.msOfNano(s0 + enc))

    val d = new Decoded(b.n, b.shape.width)
    val s1 = System.nanoTime()
    val dec = timeNs {
      val meta = NcFormat.readMeta(fs, path)
      val rd = new NcFormat.RangeReader(fs, path, meta, 0L, b.n.toLong,
        Seq("field", "time", "station"))
      try {
        var base = 0
        while (rd.hasNext) {
          val k = rd.loadChunk()
          var i = 0
          while (i < k) {
            val f = d.field(base + i); var j = 0
            while (j < f.length) { f(j) = rd.getFloatElem(0, i, j); j += 1 }
            d.time(base + i) = rd.getDoubleAt(1, i)
            d.station(base + i) = rd.getIntAt(2, i)
            i += 1
          }
          base += k
        }
      } finally rd.close()
    }
    spans.add(parent, "decode", "NcFormat", spans.msOfNano(s1), spans.msOfNano(s1 + dec))
    val chunks = NcFormat.readNczAny(fs, path) match {
      case Left(idx) => idx.blocks.length
      case Right(idx2) => idx2.vars.map(_.blocks.length).sum
    }
    val metaNs = readMetas(spans, parent, "NcFormat") { NcFormat.readMeta(fs, path) }
    CodecResult("NcFormat", b.userBytes, enc, dec, alloc, chunks, metaNs, d.diff(b, seed))
  }

  private def readMetas(spans: Spans, parent: Long, layer: String)(call: => Any): Seq[Long] =
    (1 to 21).map { _ =>
      val s = System.nanoTime()
      call
      val e = System.nanoTime()
      spans.add(parent, "readMeta", layer, spans.msOfNano(s), spans.msOfNano(e))
      e - s
    }
}

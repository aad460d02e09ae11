package graft.sources.netcdf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types._

private[netcdf] object NcWriteConf {
  /** Parse `arrayLens` option: `col=len,col=len`. */
  def arrayLens(options: Map[String, String]): Map[String, Int] =
    options.get("arraylens").map(_.split(",").filter(_.nonEmpty).map { kv =>
      val Array(c, n) = kv.split("=", 2)
      c.trim -> n.trim.toInt
    }.toMap).getOrElse(Map.empty)
}

private[netcdf] case class NcFileCommitted(name: String, records: Long)
  extends WriterCommitMessage

/** The classic container's per-task writer ([[NetCDF3]]): one part
  * file per non-empty task. Rows spool to a local file through the
  * chunked [[NcFormat.Writer]], which is created on the first row so
  * fixed array lengths absent from the `arrayLens` option can be
  * inferred from live data (the classic format needs dimension sizes
  * in the header, before any record). `commit()` (optionally gzips
  * and) lands the spool as `dir/<baseName>.nc[.gz]` or `.ncz` through
  * [[ChunkedWrite.land]].
  *
  * Options: `chunkBytes`, `stringWidth`, `compress` (gzip part files),
  * `compressChunks` (per-chunk deflate, `.ncz`), `arrayLens`. The
  * typed metadata of [[NcIO.write]] (its driver-inferred array
  * lengths, attributes, fixed variables, per-variable block sizes and
  * codecs) arrives as constructor arguments: column and attribute
  * names are free text that a `col=len,...` option cannot carry. */
private[netcdf] class NcDataWriter(schema: StructType, dir: String, baseName: String,
    options: Map[String, String], serConf: SerializableHadoopConf,
    arrayLens: Map[String, Int] = Map.empty,
    gatts: Seq[(String, String)] = Nil,
    vatts: Map[String, Seq[(String, String)]] = Map.empty,
    fixedVars: Seq[(String, Array[Double])] = Nil,
    dvatts: Map[String, Seq[(String, Array[Double])]] = Map.empty,
    dgatts: Seq[(String, Array[Double])] = Nil,
    varChunkBytes: Map[String, Int] = Map.empty,
    varCodecs: Map[String, String] = Map.empty)
    extends DataWriter[InternalRow] {

  private val chunkBytes = options.getOrElse("chunkbytes", (4 << 20).toString).toInt
  private val stringWidth = options.getOrElse("stringwidth", "32").toInt
  private val compress = options.get("compress").exists(_.toBoolean)
  private val compressChunks = options.get("compresschunks").exists(_.toBoolean)
  private val declaredLens = NcWriteConf.arrayLens(options) ++ arrayLens
  private val nFields = schema.size
  private val getters: Array[InternalRow => Any] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case DoubleType => (r: InternalRow) => r.getDouble(i)
        case FloatType => (r: InternalRow) => r.getFloat(i)
        case IntegerType => (r: InternalRow) => r.getInt(i)
        case LongType => (r: InternalRow) => r.getLong(i)
        case ShortType => (r: InternalRow) => r.getShort(i)
        case ByteType => (r: InternalRow) => r.getByte(i)
        case StringType => (r: InternalRow) => r.getUTF8String(i).getBytes
        case ArrayType(DoubleType, _) => (r: InternalRow) =>
          r.getArray(i).toDoubleArray.asInstanceOf[Array[_]]
        case ArrayType(FloatType, _) => (r: InternalRow) =>
          r.getArray(i).toFloatArray.asInstanceOf[Array[_]]
        case ArrayType(IntegerType, _) => (r: InternalRow) =>
          r.getArray(i).toIntArray.asInstanceOf[Array[_]]
        case ArrayType(LongType, _) => (r: InternalRow) =>
          r.getArray(i).toLongArray.asInstanceOf[Array[_]]
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    }
  private var local: java.io.File = null
  private var writer: NcFormat.Writer = null
  private var nRecs = 0L

  private def open(first: InternalRow): Unit = {
    val lens = declaredLens ++ schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType.isInstanceOf[ArrayType] && !declaredLens.contains(f.name) =>
        f.name -> first.getArray(i).numElements()
    }
    local = java.io.File.createTempFile(baseName, ".nc")
    writer = new NcFormat.Writer(local.getPath, schema, chunkBytes, lens, stringWidth,
      gatts, vatts, fixedVars, compressChunks, dvatts, dgatts, varChunkBytes, varCodecs)
  }

  override def write(record: InternalRow): Unit = {
    if (writer == null) open(record)
    // classic NetCDF has no null encoding: fail loudly rather than
    // silently persisting nulls as zeros/empty strings
    var i = 0
    while (i < nFields) {
      if (record.isNullAt(i)) throw new IllegalArgumentException(
        s"null in column ${schema.fields(i).name}: the classic NetCDF format has no " +
          "null encoding — fill or filter nulls before writing")
      i += 1
    }
    writer.writeRow(i => getters(i)(record))
    nRecs += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) try { // empty tasks emit no file
      writer.close()
      // compression happens after close(): numrecs and the zone-map
      // attrs are random-access patches, impossible inside a gzip
      // stream, so the uncompressed spool is the patch target
      val upload =
        if (!compress) local
        else {
          val gz = java.io.File.createTempFile(baseName, ".nc.gz")
          val in = new java.io.FileInputStream(local)
          val out = new java.util.zip.GZIPOutputStream(
            new java.io.BufferedOutputStream(new java.io.FileOutputStream(gz), 1 << 16))
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
          } finally { in.close(); out.close() }
          gz
        }
      val ext = if (compressChunks) "ncz" else if (compress) "nc.gz" else "nc"
      try ChunkedWrite.land(dir, s"$baseName.$ext", serConf) { (fs, tmp) =>
        fs.copyFromLocalFile(true, true, new Path(upload.getPath), tmp)
      } finally if (upload ne local) upload.delete()
    } finally local.delete()
    NcFileCommitted(baseName, nRecs)
  }

  override def abort(): Unit = if (local != null) local.delete()
  override def close(): Unit = ()
}

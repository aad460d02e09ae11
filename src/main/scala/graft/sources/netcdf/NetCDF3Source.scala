package graft.sources.netcdf

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

/** `spark.read.format("netcdf3")`: the [[ChunkedSource]] over classic
  * netCDF part files. */
class NetCDF3Source extends ChunkedSource(NetCDF3)

/** Classic netCDF part files (`.nc`, gzipped `.nc.gz`, per-chunk
  * deflated `.ncz`) as a [[ChunkedContainer]]. Reads split at the
  * `chunkBytes` read-buffer size (default 4 MiB); `.nc.gz` files
  * decompress sequentially and are read whole. Writes go through
  * [[NcDataWriter]]. */
object NetCDF3 extends ChunkedContainer {
  type Meta = NcFormat.NcMeta

  val name = "netcdf3"
  def provider: String = classOf[NetCDF3Source].getName

  protected def isPartFile(f: Path): Boolean = {
    val n = f.getName
    n.endsWith(".nc") || n.endsWith(".nc.gz") || n.endsWith(".ncz")
  }

  def readMeta(fs: FileSystem, f: Path): Meta = NcFormat.readMeta(fs, f)
  def numRecs(m: Meta): Long = m.numRecs
  def sparkSchema(m: Meta): StructType = m.sparkSchema
  def actualRange(m: Meta, variable: String): Option[(Double, Double)] =
    m.recordVars.find(_.name == variable).flatMap(_.range)
  def attrRows(m: Meta): Seq[(String, String, Long, Option[String], Option[Double])] = {
    def rows(varName: String, atts: Seq[NcFormat.NcAttr]) = atts.flatMap { a =>
      if (a.ncType == NcFormat.NC_CHAR) Seq((varName, a.name, 0L, Some(a.text), None))
      else a.nums.zipWithIndex.map { case (x, i) => (varName, a.name, i.toLong, None, Some(x)) }
    }
    rows("GLOBAL", m.gatts) ++ m.vars.flatMap(v => rows(v.name, v.atts))
  }

  private def chunkBytes(options: Map[String, String]): Int =
    options.getOrElse("chunkbytes", (4 << 20).toString).toInt

  def splitGeometry(first: Option[Meta], required: StructType,
      options: Map[String, String]): (Long, Int) =
    (first.map(_.recSize).getOrElse(1L), chunkBytes(options))

  // gzip part files decompress sequentially — not splittable
  override def splittable(f: Path): Boolean = !NcFormat.isGzip(f)

  def readerFactory(required: StructType, options: Map[String, String],
      serConf: SerializableHadoopConf): PartitionReaderFactory =
    new NcReaderFactory(required, chunkBytes(options), serConf)

  override def checkWriteOptions(options: Map[String, String]): Unit =
    require(!(options.get("compress").exists(_.toBoolean) &&
        options.get("compresschunks").exists(_.toBoolean)),
      "choose one of compress (.nc.gz) or compressChunks (.ncz)")

  def dataWriter(schema: StructType, dir: String, baseName: String,
      options: Map[String, String], serConf: SerializableHadoopConf,
      varAttrs: Map[String, Seq[Attr]]): DataWriter[InternalRow] =
    new NcDataWriter(schema, dir, baseName, options, serConf, varAttrs = varAttrs)
}

/** Every netcdf3 schema type decodes straight into column vectors —
  * one typed fill loop per variable per chunk, no per-row branching:
  * scalars via direct puts, NC_CHAR strings via zero-copy
  * putByteArray from the chunk buffer, rank-2 numeric arrays via
  * child-vector appends — so reads are columnar only. */
class NcReaderFactory(required: StructType, chunkBytes: Int, serConf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("netcdf3 reads are columnar")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new NcColumnarReader(partition.asInstanceOf[RecordRangePartition], required, chunkBytes,
      serConf)
}

/** Vectorized reader: each loaded chunk becomes one ColumnarBatch. */
class NcColumnarReader(part: RecordRangePartition, required: StructType, chunkBytes: Int,
    serConf: SerializableHadoopConf)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val path = new Path(part.file)
  private val fs = path.getFileSystem(serConf.value)
  private val meta = NcFormat.readMeta(fs, path)
  private val varNames = required.fieldNames.filterNot(_ == "record").toSeq
  private val reader = new NcFormat.RangeReader(
    fs, path, meta, part.localStart, part.localEnd, varNames, chunkBytes)

  private val vectors: Array[OnHeapColumnVector] =
    required.fields.map(f => new OnHeapColumnVector(reader.recordsPerChunk, f.dataType))
  private val batch = new ColumnarBatch(vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])

  override def next(): Boolean = {
    if (!reader.hasNext) return false
    val n = reader.loadChunk()
    val base = part.fileOffset + reader.chunkStartRecord
    var out = 0
    var slot = 0
    required.fields.foreach { f =>
      val v = vectors(out)
      v.reset()
      if (f.name == "record") {
        var i = 0
        while (i < n) { v.putLong(i, base + i); i += 1 }
      } else {
        import NcFormat._
        val m = reader.slotElems(slot)
        if (reader.slotType(slot) == NC_CHAR) {
          // NC_CHAR slab → string: zero-copy from the chunk buffer,
          // trailing NULs trimmed (fixed-width padding)
          val buf = reader.rawBuf
          var i = 0
          while (i < n) {
            val base = reader.slotOffset(slot, i)
            var len = m
            while (len > 0 && buf(base + len - 1) == 0) len -= 1
            v.putByteArray(i, buf, base, len)
            i += 1
          }
        } else if (m > 1) {
          // rank-2 numeric slab → array column: elements append into
          // the child vector, offsets are the regular i*m stride
          val child = v.arrayData()
          reader.slotType(slot) match {
            case NC_DOUBLE =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendDouble(reader.getDoubleElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_FLOAT =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendFloat(reader.getFloatElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_INT =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendInt(reader.getIntElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_INT64 =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendLong(reader.getLongElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_SHORT =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendShort(reader.getShortElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_BYTE =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendByte(reader.getByteElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
          }
        } else reader.slotType(slot) match {
          case NC_DOUBLE =>
            var i = 0; while (i < n) { v.putDouble(i, reader.getDoubleAt(slot, i)); i += 1 }
          case NC_FLOAT =>
            var i = 0; while (i < n) { v.putFloat(i, reader.getFloatAt(slot, i)); i += 1 }
          case NC_INT =>
            var i = 0; while (i < n) { v.putInt(i, reader.getIntAt(slot, i)); i += 1 }
          case NC_INT64 =>
            var i = 0; while (i < n) { v.putLong(i, reader.getLongAt(slot, i)); i += 1 }
          case NC_SHORT =>
            var i = 0; while (i < n) { v.putShort(i, reader.getShortAt(slot, i)); i += 1 }
          case NC_BYTE =>
            var i = 0; while (i < n) { v.putByte(i, reader.getByteAt(slot, i)); i += 1 }
        }
        slot += 1
      }
      out += 1
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = { batch.close(); reader.close() }
}

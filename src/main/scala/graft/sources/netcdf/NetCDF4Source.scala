package graft.sources.netcdf

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

/** `spark.read.format("netcdf4")` and `df.write.format("netcdf4")`: the
  * [[ChunkedSource]] over netCDF-4/HDF5 part files.
  *
  * This is the engine's window onto the reference's actual on-disk
  * world: `netCDF4.Dataset` files ARE HDF5 containers, so a user
  * switching from the reference brings directories of .nc4/.h5 files,
  * not classic CDF. HDF5 stores each variable's chunks separately, so
  * column pruning is physical I/O skipping (unselected datasets' chunks
  * are never read, never inflated), and inside a partition the chunk
  * B-tree keys bound which stored byte ranges a record range fetches.
  */
class NetCDF4Source extends ChunkedSource(NetCDF4)

/** netCDF-4/HDF5 part files (`.nc4`, `.h5`, `.hdf5`) as a
  * [[ChunkedContainer]]: read by [[Nc4PartitionReader]], written by
  * [[Nc4DataWriter]]. */
object NetCDF4 extends ChunkedContainer {
  type Meta = Hdf5Format.H5Meta

  val name = "netcdf4"
  def provider: String = classOf[NetCDF4Source].getName

  protected def isPartFile(f: Path): Boolean = Hdf5Format.isHdf5(f)

  def readMeta(fs: FileSystem, f: Path): Meta = Hdf5Format.readMeta(fs, f)
  def numRecs(m: Meta): Long = m.numRecs
  def sparkSchema(m: Meta): StructType = m.sparkSchema
  def actualRange(m: Meta, variable: String): Option[(Double, Double)] =
    m.vars.find(_.name == variable).flatMap(_.range)
  def attrRows(m: Meta): Seq[(String, String, Long, Option[String], Option[Double])] = {
    def rows(varName: String, atts: Seq[Hdf5Format.H5Attr]) = atts.flatMap { a =>
      a.text match {
        case Some(s) => Seq((varName, a.name, 0L, Some(s), None))
        case None => a.nums.zipWithIndex.map { case (d, i) =>
          (varName, a.name, i.toLong, None, Some(d))
        }.toSeq
      }
    }
    rows("GLOBAL", m.rootAttrs) ++ m.vars.flatMap(v => rows(v.name, v.attrs))
  }

  /** Splits align to the largest selected variable's chunk, so boundary
    * chunks are re-read by at most one neighbor task. */
  def splitGeometry(first: Option[Meta], required: StructType,
      options: Map[String, String]): (Long, Int) = {
    val varNames = required.fieldNames.filterNot(_ == "record").toSet
    val selected = first.map(_.vars.filter(v =>
      varNames.isEmpty || varNames.contains(v.name))).getOrElse(Nil)
    val chunkRecs = if (selected.isEmpty) 1 else selected.map(_.chunkRecs).max
    val recSize = math.max(1L, selected.map(_.kind.rowBytes).sum)
    (recSize, (chunkRecs * recSize).min(Int.MaxValue.toLong).toInt)
  }

  def readerFactory(required: StructType, options: Map[String, String],
      serConf: SerializableHadoopConf): PartitionReaderFactory =
    new Nc4ReaderFactory(required, serConf)

  def dataWriter(schema: StructType, dir: String, baseName: String,
      options: Map[String, String], serConf: SerializableHadoopConf): DataWriter[InternalRow] =
    new Nc4DataWriter(schema, dir, baseName, options, serConf)
}

class Nc4ReaderFactory(required: StructType, serConf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new Nc4PartitionReader(partition.asInstanceOf[RecordRangePartition], required, serConf)
}

class Nc4PartitionReader(part: RecordRangePartition, required: StructType,
    serConf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val path = new Path(part.file)
  private val fs = path.getFileSystem(serConf.value)
  private val meta = Hdf5Format.readMeta(fs, path)
  private val varNames = required.fieldNames.filterNot(_ == "record").toSeq
  // only the REQUIRED variables get a reader: pruning at the I/O level
  private val readers: Array[Hdf5Format.VarReader] = varNames.map { n =>
    val v = meta.vars.find(_.name == n)
      .getOrElse(throw new java.io.IOException(s"variable $n not in ${part.file}"))
    new Hdf5Format.VarReader(fs, path, v, part.localStart, part.localEnd)
  }.toArray
  private val kinds: Array[Hdf5Format.H5Kind] = varNames.map { n =>
    meta.vars.find(_.name == n).get.kind
  }.toArray
  /** Catalyst's nested-schema pruning hands a REQUIRED struct that may
    * be a subset (and reorder) of the file's compound member list —
    * map each required member to its file-member index by NAME, so the
    * emitted row matches the pruned schema, not the file layout. */
  private val structProj: Array[Array[Int]] = varNames.zipWithIndex.map { case (n, j) =>
    (kinds(j), required(required.fieldIndex(n)).dataType) match {
      case (kc: Hdf5Format.KCompound, st: StructType) =>
        st.fields.map { mf =>
          val k = kc.members.indexWhere(_._1 == mf.name)
          if (k < 0) throw new java.io.IOException(
            s"compound member ${mf.name} not in $n of ${part.file}")
          k
        }
      case _ => null
    }
  }.toArray

  private var rec = part.localStart
  // r17 (guide §4 applied to the reader, mirroring the §G write side):
  // a SpecificInternalRow gives primitive slots, and each column's
  // filler is bound ONCE against its resolved kind — the old loop
  // re-matched the kind and boxed every scalar cell of every row
  private val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
    required.fields.map(_.dataType).toIndexedSeq)
  private val fillers: Array[Long => Unit] = {
    var slotC = -1
    required.fields.zipWithIndex.map { case (f, out) =>
      if (f.name == "record") { (rc: Long) =>
        row.setLong(out, part.fileOffset + rc)
      } else {
        import Hdf5Format._
        slotC += 1
        val slot = slotC
        val r = readers(slot)
        kinds(slot) match {
          case KLong => (rc: Long) => row.setLong(out, r.getLong(rc))
          case KInt => (rc: Long) => row.setInt(out, r.getInt(rc))
          case KShort => (rc: Long) => row.setShort(out, r.getShort(rc))
          case KDouble => (rc: Long) => row.setDouble(out, r.getDouble(rc))
          case KFloat => (rc: Long) => row.setFloat(out, r.getFloat(rc))
          case _: KString => (rc: Long) => row.update(out,
            org.apache.spark.unsafe.types.UTF8String.fromBytes(r.getString(rc)))
          case KVlenStr => (rc: Long) => row.update(out,
            org.apache.spark.unsafe.types.UTF8String.fromBytes(r.getVlenString(rc)))
          case KVlenSeq(base) => (rc: Long) => row.update(out,
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              r.getVlenSeq(rc, base)))
          case KEnum(base, _) => base match {
            case KLong => (rc: Long) => row.setLong(out, r.getLong(rc))
            case KInt => (rc: Long) => row.setInt(out, r.getInt(rc))
            case KShort => (rc: Long) => row.setShort(out, r.getShort(rc))
            case o => throw new java.io.IOException(s"unsupported enum base $o")
          }
          case KCompound(_, _) =>
            val proj = structProj(slot)
            (rc: Long) => {
              val vals = r.getCompound(rc)
              val a = new Array[Any](proj.length)
              var i = 0
              while (i < proj.length) {
                a(i) = vals(proj(i)) match {
                  case b: Array[Byte] =>
                    org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
                  case x => x
                }
                i += 1
              }
              row.update(out,
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(a))
            }
          case KFloatArr(k) => (rc: Long) => {
            val a = new Array[Any](k)
            var i = 0; while (i < k) { a(i) = r.getFloatElem(rc, i); i += 1 }
            row.update(out, new org.apache.spark.sql.catalyst.util.GenericArrayData(a))
          }
          case KDoubleArr(k) => (rc: Long) => {
            val a = new Array[Any](k)
            var i = 0; while (i < k) { a(i) = r.getDoubleElem(rc, i); i += 1 }
            row.update(out, new org.apache.spark.sql.catalyst.util.GenericArrayData(a))
          }
          case KLongArr(k) => (rc: Long) => {
            val a = new Array[Any](k)
            var i = 0; while (i < k) { a(i) = r.getLongElem(rc, i); i += 1 }
            row.update(out, new org.apache.spark.sql.catalyst.util.GenericArrayData(a))
          }
          case KBitfield(_) => (rc: Long) => row.update(out, r.getBitfield(rc))
          case KOpaque(_, _) => (rc: Long) => row.update(out, r.getOpaque(rc))
        }
      }
    }.toArray
  }

  override def next(): Boolean = {
    if (rec >= part.localEnd) return false
    var i = 0
    while (i < fillers.length) { fillers(i)(rec); i += 1 }
    rec += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = readers.foreach(_.close())
}

package graft.sources.netcdf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
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
  * [[ChunkedContainer]]: a partition's runs come from [[Nc4Runs]], and
  * part files are written by [[Nc4DataWriter]]. */
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

  def openRuns(part: RecordRangePartition, vars: StructType, options: Map[String, String],
      conf: Configuration): RecordRuns = new Nc4Runs(part, vars, conf)

  /** The writer's chunk-index rule, checked up front: an unknown
    * `chunkindex`, or a layout-v4 one under `h5ver=0`, fails before any
    * task runs, even for a write with no rows. */
  override def checkWriteOptions(options: Map[String, String]): Unit =
    ChunkIndex.byName(options.getOrElse("chunkindex", "btree1"),
      options.getOrElse("h5ver", "0").toInt)

  def dataWriter(schema: StructType, dir: String, baseName: String,
      options: Map[String, String], serConf: SerializableHadoopConf,
      varAttrs: Map[String, Seq[Attr]]): DataWriter[InternalRow] =
    new Nc4DataWriter(schema, dir, baseName, options, serConf, varAttrs = varAttrs)
}

/** One netCDF-4 partition: a [[Hdf5Format.VarReader]] per required
  * variable, so the others' chunks are never read. A run ends at the
  * nearest chunk, slab or row-block boundary of any of them (a scan of no
  * variable steps `CountRun` records at a time), so each fill
  * reads one decoded block per variable. */
private final class Nc4Runs(part: RecordRangePartition, vars: StructType, conf: Configuration)
    extends RecordRuns {
  private val path = new Path(part.file)
  private val readers: Array[Hdf5Format.VarReader] = {
    val fs = path.getFileSystem(conf)
    val meta = Hdf5Format.readMeta(fs, path)
    vars.fieldNames.map { n =>
      val v = meta.vars.find(_.name == n)
        .getOrElse(throw new java.io.IOException(s"variable $n not in ${part.file}"))
      new Hdf5Format.VarReader(fs, path, v, part.localStart, part.localEnd)
    }
  }
  /** records per run when no variable is read */
  private val CountRun = 4096
  /** first record of the current run, within the file */
  private var rec = part.localStart
  private var len = 0

  val maxRun: Int = math.max(1L, math.min(part.localEnd - part.localStart,
    if (readers.isEmpty) CountRun else readers.map(_.blockRecs).min)).toInt

  def nextRun(): Int = {
    rec += len
    var end = math.min(part.localEnd, if (readers.isEmpty) rec + CountRun else Long.MaxValue)
    readers.foreach(r => end = math.min(end, r.blockEnd(rec)))
    len = (end - rec).toInt
    len
  }

  def fill(slot: Int, c: WritableColumnVector, n: Int): Unit = readers(slot).fill(rec, n, c)

  def close(): Unit = readers.foreach(_.close())
}

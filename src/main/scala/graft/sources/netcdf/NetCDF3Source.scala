package graft.sources.netcdf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

/** `spark.read.format("netcdf3")`: the [[ChunkedSource]] over classic
  * netCDF part files. */
class NetCDF3Source extends ChunkedSource(NetCDF3)

/** Classic netCDF part files (`.nc`, gzipped `.nc.gz`, per-chunk
  * deflated `.ncz`) as a [[ChunkedContainer]]. Reads split at the
  * `chunkBytes` read-buffer size (default 4 MiB); `.nc.gz` files
  * decompress sequentially and are read whole. A partition's runs come
  * from [[NcFormat.RangeReader]]; writes go through [[NcDataWriter]]. */
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

  def openRuns(part: RecordRangePartition, vars: StructType, options: Map[String, String],
      conf: Configuration): RecordRuns = {
    val path = new Path(part.file)
    val fs = path.getFileSystem(conf)
    new NcFormat.RangeReader(fs, path, NcFormat.readMeta(fs, path), part.localStart,
      part.localEnd, vars.fieldNames.toSeq, chunkBytes(options))
  }

  override def checkWriteOptions(options: Map[String, String]): Unit =
    require(!(options.get("compress").exists(_.toBoolean) &&
        options.get("compresschunks").exists(_.toBoolean)),
      "choose one of compress (.nc.gz) or compressChunks (.ncz)")

  def dataWriter(schema: StructType, dir: String, baseName: String,
      options: Map[String, String], serConf: SerializableHadoopConf,
      varAttrs: Map[String, Seq[Attr]]): DataWriter[InternalRow] =
    new NcDataWriter(schema, dir, baseName, options, serConf, varAttrs = varAttrs)
}

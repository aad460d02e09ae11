package graft.sources.netcdf

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
  * file per non-empty task. The underlying [[NcPartFile]] is created
  * lazily on the first row so fixed array lengths absent from the
  * `arrayLens` option can be inferred from live data (the classic
  * format needs dimension sizes in the header, before any record).
  *
  * Options: `chunkBytes`, `stringWidth`, `compress` (gzip part files),
  * `compressChunks` (per-chunk deflate, `.ncz`), `arrayLens`. */
private[netcdf] class NcDataWriter(schema: StructType, dir: String, baseName: String,
    options: Map[String, String], serConf: SerializableHadoopConf)
    extends DataWriter[InternalRow] {

  private val chunkBytes = options.getOrElse("chunkbytes", (4 << 20).toString).toInt
  private val stringWidth = options.getOrElse("stringwidth", "32").toInt
  private val compress = options.get("compress").exists(_.toBoolean)
  private val compressChunks = options.get("compresschunks").exists(_.toBoolean)
  private val declaredLens = NcWriteConf.arrayLens(options)
  private var pf: NcPartFile = null
  private var nRecs = 0L

  override def write(record: InternalRow): Unit = {
    if (pf == null) {
      val lens = declaredLens ++ schema.fields.zipWithIndex.collect {
        case (f, i) if f.dataType.isInstanceOf[ArrayType] && !declaredLens.contains(f.name) =>
          f.name -> record.getArray(i).numElements()
      }
      pf = new NcPartFile(schema, dir, baseName, chunkBytes, lens, stringWidth,
        serConf, Nil, Map.empty, Nil, compress, compressChunks)
    }
    pf.write(record)
    nRecs += 1
  }

  override def commit(): WriterCommitMessage = {
    if (pf != null) pf.commit() // empty tasks emit no file
    NcFileCommitted(baseName, nRecs)
  }

  override def abort(): Unit = if (pf != null) pf.abort()
  override def close(): Unit = ()
}

package graft.sources.netcdf

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/** DSv2 write path of a [[ChunkedSource]] — the Spark-native form of
  * the reference's headline API (`createStreamerVariable` +
  * `streamNumpyData`) as the standard Spark write surface:
  *
  *   - batch:  `df.write.format("netcdf3" | "netcdf4").mode("append"|"overwrite").save(dir)`
  *   - stream: `df.writeStream.format("netcdf3" | "netcdf4").option("path", dir).start()`
  *
  * Each task streams its rows through the container's chunked part-file
  * writer ([[NcDataWriter]], [[Nc4DataWriter]]) and lands one
  * self-contained part file; each micro-batch of a streaming query
  * appends `part-e<epoch>-<pid>` files. File names are deterministic
  * per (epoch, partition) and land via temp-name rename, so Spark's
  * task/epoch retries replace rather than duplicate — append-only
  * exactly-once without a commit log.
  *
  * Scale shape: a 1000-executor job writes 1000 independent part files
  * with zero coordination — no shuffle, no driver funnel, no shared
  * mutable header. The multi-file dir IS the dataset (the reader
  * unions part files and concatenates their record spaces).
  *
  * Options shared by both containers: `partPrefix` (distinguishes
  * independent append jobs — same-name parts replace by design) and
  * `arrayLens` (`col=len,...`; omitted lengths infer from each task's
  * first row); the rest are the container writer's own.
  */
class ChunkedWriteBuilder(container: ChunkedContainer, schema: StructType, dir: String,
    options: Map[String, String]) extends WriteBuilder with SupportsTruncate {

  require(dir != null, s"${container.name} write requires a path")
  require(!schema.fieldNames.contains("record"),
    s"column name `record` is reserved for the ${container.name} record index")
  container.checkWriteOptions(options)
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new PartFileWrite(container, schema, dir, options, truncateFirst)
    override def toStreaming: StreamingWrite =
      new PartFileWrite(container, schema, dir, options, truncateFirst)
    override def description(): String = s"${container.name} write $dir"
  }
}

/** Batch job or streaming query writing one part file per non-empty
  * task. Construction prepares the target dir on the driver: truncate
  * deletes any previous contents (overwrite semantics), and both modes
  * ensure the dir exists before tasks start renaming into it.
  *
  * Per-task rename-into-place (guarded by Spark's output commit
  * coordinator — useCommitCoordinator defaults to true) is the whole
  * commit; nothing is left to do at job or epoch level. A replayed
  * epoch regenerates the same file names and replaces them atomically,
  * so the directory converges to exactly-once content as long as the
  * upstream replay is deterministic (the same contract as Spark's file
  * sinks, without their commit-log dependency — the reader's offset is
  * the sorted file list, and a replaced file keeps its name and sort
  * position). */
private[netcdf] class PartFileWrite(container: ChunkedContainer, schema: StructType,
    dir: String, options: Map[String, String], truncateFirst: Boolean)
    extends BatchWrite with StreamingWrite {

  private val serConf = {
    val hconf = SparkContext.getOrCreate().hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (truncateFirst && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    new SerializableHadoopConf(hconf)
  }

  private def factory = ChunkedWriterFactory(container, schema, dir, options, serConf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    factory

  // both interfaces default to true; restated only to join the two
  override def useCommitCoordinator(): Boolean = true
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[netcdf] case class ChunkedWriterFactory(container: ChunkedContainer,
    schema: StructType, dir: String, options: Map[String, String],
    serConf: SerializableHadoopConf)
    extends DataWriterFactory with StreamingDataWriterFactory {

  /** Optional `partPrefix` option: distinguishes part names across
    * separate append jobs into the same dir (same-name parts REPLACE
    * by design — that is what makes task/epoch retries idempotent — so
    * independent appends must not share names). */
  private def prefix: String = options.get("partprefix").map(p => s"$p-").getOrElse("")

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    container.dataWriter(schema, dir, s"part-$prefix" + f"$partitionId%05d", options, serConf)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    container.dataWriter(schema, dir, s"part-$prefix" + f"e$epochId%05d-$partitionId%05d",
      options, serConf)
}

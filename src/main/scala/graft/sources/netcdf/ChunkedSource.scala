package graft.sources.netcdf

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What differs between the two on-disk generations a chunked variable
  * lives in — classic netCDF ([[NetCDF3]]) and netCDF-4/HDF5
  * ([[NetCDF4]]). Everything else is written once over this trait: the
  * DSv2 provider, table, filter pushdown, partition planning and
  * micro-batch stream below, the write chain in [[ChunkedWriteBuilder]],
  * the [[NcIO]] maintenance ops and the [[ValueSel]] selections.
  *
  * A dataset is a directory of immutable part files whose record
  * dimensions concatenate in file-name order (MFDataset semantics);
  * the virtual `record` column is the global record index. */
trait ChunkedContainer extends Serializable {

  /** One part file's parsed header. */
  type Meta

  /** The registered short name, e.g. `spark.read.format("netcdf3")`. */
  def name: String

  /** The provider class, for `spark.read.format(provider)`. */
  def provider: String

  /** Whether a file belongs to a dataset dir, by name. */
  protected def isPartFile(f: Path): Boolean

  def readMeta(fs: FileSystem, f: Path): Meta
  def numRecs(m: Meta): Long
  /** Columns of the file's record variables (without `record`). */
  def sparkSchema(m: Meta): StructType
  /** The `actual_range` zone map of a record variable, if recorded. */
  def actualRange(m: Meta, variable: String): Option[(Double, Double)]

  /** (record bytes, chunk bytes) the split autotuner sizes partitions
    * from, given the first file's header (None for an empty batch). */
  def splitGeometry(first: Option[Meta], required: StructType,
      options: Map[String, String]): (Long, Int)

  /** Whether a file's record range can be split across tasks. */
  def splittable(f: Path): Boolean = true

  def readerFactory(required: StructType, options: Map[String, String],
      serConf: SerializableHadoopConf): PartitionReaderFactory

  /** Driver-side validation of write options, before any task runs. */
  def checkWriteOptions(options: Map[String, String]): Unit = ()

  /** The per-task writer of one part file `dir/<baseName>.<ext>`. */
  def dataWriter(schema: StructType, dir: String, baseName: String,
      options: Map[String, String], serConf: SerializableHadoopConf): DataWriter[InternalRow]

  /** Part files of `dir` in record order (name order); `dir` may also
    * name a single part file. A missing dir has no part files. */
  final def listFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Seq.empty
    val st = fs.getFileStatus(dir)
    if (st.isFile) Seq(dir)
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && isPartFile(s.getPath))
      .map(_.getPath)
      .sortBy(_.getName)
  }
}

/** DataSourceV2 over a directory of one container's part files:
  * `spark.read.format("netcdf3" | "netcdf4").load(dir)`, the matching
  * `df.write` / `df.writeStream` sink, and `spark.readStream` over a
  * growing dir.
  *
  * One InputPartition per chunk-aligned record range of each part file
  * — the distributed generalization of the reference's chunked
  * `yieldNumpyData` iteration. Supports
  *  - variable pruning (SupportsPushDownRequiredColumns): only the
  *    requested variables are decoded, and where the container stores
  *    variables separately their chunks are never read;
  *  - record-range predicate pushdown (SupportsPushDownFilters) on the
  *    virtual `record` column: >,>=,<,<=,= bounds prune whole
  *    chunks/files at planning time, so a slice of a 100 TB variable
  *    touches only the covering byte ranges;
  *  - zone-map file pruning from value filters on data columns.
  *
  * Options: `recordsPerPartition` (override split granularity),
  * `maxFilesPerTrigger` (streaming admission control), `group` (scope
  * the table to one variable group), plus the container's own. The
  * first two must be positive whole numbers; anything else fails
  * `load()` with an IllegalArgumentException naming the option.
  */
abstract class ChunkedSource(container: ChunkedContainer)
    extends TableProvider with sources.DataSourceRegister {

  override def shortName(): String = container.name

  /** Reads infer the schema from the first part file. A dir with no
    * part files has no schema to infer and fails here, naming the dir;
    * writes never get here (see [[supportsExternalMetadata]]), so a
    * sink may target a dir that does not exist yet. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = options.get("path")
    require(dir != null, s"${container.name} requires a path")
    val p = new Path(dir)
    val fs = p.getFileSystem(SparkContext.getOrCreate().hadoopConfiguration)
    val files = container.listFiles(fs, p)
    require(files.nonEmpty, s"no ${container.name} part files under $dir")
    val full = StructType(StructField("record", LongType, nullable = false) +:
      container.sparkSchema(container.readMeta(fs, files.head)).fields.toSeq)
    // GROUP scoping: variables surface under "group/name" path names,
    // and `.option("group", g)` restricts the table at header level —
    // the other groups' variables never enter the schema, so group
    // selection is structural column pruning
    Option(options.get("group")) match {
      case None => full
      case Some(g) =>
        val pfx = g.stripSuffix("/") + "/"
        StructType(full.fields.filter(f =>
          f.name == "record" || f.name.startsWith(pfx)))
    }
  }

  /** Writes (batch and streaming) hand the query's schema straight to
    * [[getTable]]; reads without a user schema go through
    * [[inferSchema]]. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    ChunkedScan.checkReadOptions(
      properties.asScala.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap)
    new ChunkedTable(container, schema, properties.get("path"))
  }
}

class ChunkedTable(container: ChunkedContainer, tableSchema: StructType, dir: String)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"${container.name}:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChunkedScanBuilder(container, tableSchema, dir, options.asScala.toMap)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ChunkedWriteBuilder(container, info.schema(), dir, info.options().asScala.toMap)
}

class ChunkedScanBuilder(container: ChunkedContainer, fullSchema: StructType, dir: String,
    options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var lower: Long = 0L
  private var upper: Long = Long.MaxValue
  private var pushed: Array[sources.Filter] = Array.empty
  /** per-variable closed value bounds for zone-map file pruning */
  private var valueBounds: Map[String, (Double, Double)] = Map.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept exact record-index bounds. Value comparisons on data
    * columns are *observed* for zone-map file pruning (the writers'
    * automatic `actual_range` attributes) but returned to Spark for
    * re-evaluation, so pruning only has to be conservative, never
    * exact. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    def bound(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue())
      case _ => None
    }
    def dbl(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    def tighten(colName: String, lo: Double, hi: Double): Unit = {
      val (clo, chi) = valueBounds.getOrElse(colName,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      valueBounds += colName -> (math.max(clo, lo), math.min(chi, hi))
    }
    val (accepted, rest) = filters.partition {
      case sources.GreaterThan("record", v) => bound(v).isDefined
      case sources.GreaterThanOrEqual("record", v) => bound(v).isDefined
      case sources.LessThan("record", v) => bound(v).isDefined
      case sources.LessThanOrEqual("record", v) => bound(v).isDefined
      case sources.EqualTo("record", v) => bound(v).isDefined
      case _ => false
    }
    accepted.foreach {
      case sources.GreaterThan("record", v) => lower = math.max(lower, bound(v).get + 1)
      case sources.GreaterThanOrEqual("record", v) => lower = math.max(lower, bound(v).get)
      case sources.LessThan("record", v) => upper = math.min(upper, bound(v).get)
      case sources.LessThanOrEqual("record", v) => upper = math.min(upper, bound(v).get + 1)
      case sources.EqualTo("record", v) =>
        lower = math.max(lower, bound(v).get); upper = math.min(upper, bound(v).get + 1)
      case _ =>
    }
    rest.foreach {
      case sources.GreaterThan(c, v) => dbl(v).foreach(x => tighten(c, x, Double.PositiveInfinity))
      case sources.GreaterThanOrEqual(c, v) => dbl(v).foreach(x => tighten(c, x, Double.PositiveInfinity))
      case sources.LessThan(c, v) => dbl(v).foreach(x => tighten(c, Double.NegativeInfinity, x))
      case sources.LessThanOrEqual(c, v) => dbl(v).foreach(x => tighten(c, Double.NegativeInfinity, x))
      case sources.EqualTo(c, v) => dbl(v).foreach(x => tighten(c, x, x))
      case _ =>
    }
    pushed = accepted
    rest
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new ChunkedScan(container, required, dir, lower, upper, valueBounds, options)
}

case class RecordRangePartition(
    file: String,
    localStart: Long, // record range within the file
    localEnd: Long,
    fileOffset: Long) // global index of the file's record 0
  extends InputPartition

class ChunkedScan(container: ChunkedContainer, required: StructType, dir: String,
    lower: Long, upper: Long, valueBounds: Map[String, (Double, Double)],
    options: Map[String, String]) extends Scan with Batch {

  import ChunkedScan._

  // captured on the driver when the scan first hands out a reader
  // factory or a stream, not when the optimizer builds it
  private lazy val serConf =
    new SerializableHadoopConf(SparkContext.getOrCreate().hadoopConfiguration)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val hi = if (upper == Long.MaxValue) "inf" else upper.toString
    s"${container.name} $dir records=[$lower,$hi) vars=[${required.fieldNames.mkString(",")}]"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(SparkContext.getOrCreate().hadoopConfiguration)
    val metas = container.listFiles(fs, p).map(f => f -> container.readMeta(fs, f))
    val offsets = metas.map(m => container.numRecs(m._2)).scanLeft(0L)(_ + _)
    // zone-map skip: the whole file is prunable when any filtered
    // variable's actual_range is disjoint from the filter bounds
    def zonePruned(meta: container.Meta): Boolean =
      valueBounds.exists { case (colName, (lo, hi)) =>
        container.actualRange(meta, colName)
          .exists { case (fMin, fMax) => fMin > hi || fMax < lo }
      }
    val spans = metas.indices.collect { case i if !zonePruned(metas(i)._2) =>
      Span(metas(i)._1, metas(i)._2, offsets(i),
        math.max(lower, offsets(i)), math.min(upper, offsets(i + 1)))
    }
    partitions(container)(spans, required, options)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    container.readerFactory(required, options, serConf)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChunkedMicroBatchStream(container, dir, required, options, serConf)
}

object ChunkedScan {

  private val RecordsPerPartition = "recordsPerPartition"
  private val MaxFilesPerTrigger = "maxFilesPerTrigger"

  /** The value of a whole-number option that must lie in [1, max], or
    * None when the option is absent. Options arrive with lower-cased
    * keys (CaseInsensitiveStringMap). */
  private def positiveOption(options: Map[String, String], name: String,
      max: Long = Long.MaxValue): Option[Long] =
    options.get(name.toLowerCase(java.util.Locale.ROOT)).map { v =>
      v.trim.toLongOption.filter(n => n >= 1 && n <= max).getOrElse {
        val want = if (max == Long.MaxValue) "a positive whole number"
          else s"a whole number in [1, $max]"
        throw new IllegalArgumentException(s"option $name must be $want, got '$v'")
      }
    }

  /** Rejects a bad `recordsPerPartition` (which would make [[partitions]]
    * loop forever) or `maxFilesPerTrigger` (which would stall a stream:
    * its offset never advances) before any planning starts. */
  private[netcdf] def checkReadOptions(options: Map[String, String]): Unit = {
    positiveOption(options, RecordsPerPartition)
    positiveOption(options, MaxFilesPerTrigger, Int.MaxValue)
  }

  private[netcdf] def maxFilesPerTrigger(options: Map[String, String]): Option[Int] =
    positiveOption(options, MaxFilesPerTrigger, Int.MaxValue).map(_.toInt)

  /** Autotuned records-per-partition when the `recordsPerPartition`
    * option is absent: split the records a scan will read into ≈3×
    * `parallelism` scan partitions (enough slots that stragglers
    * rebalance, few enough that per-task overhead stays negligible),
    * clamped to
    *  - at least one chunk (the IO unit — smaller splits would re-read
    *    the same chunk from two tasks), rounded up to whole chunks;
    *  - at most `spark.sql.files.maxPartitionBytes` worth of records,
    *    matching the parquet scan's split ceiling, so one task never
    *    owns an unbounded record range on a huge corpus.
    * `totalRecs` counts the records that survive record-bound and
    * zone-map pruning (a micro-batch: its own files), so a narrow slice
    * of a big corpus still spreads over its chunks. Sizing from file
    * *metadata* keeps this O(#files) at plan time — no data is read. */
  def autotunePerPart(totalRecs: Long, recSize: Long, chunkBytes: Int,
      maxPartBytes: Long, parallelism: Int): Long = {
    val rs = math.max(recSize, 1L)
    val chunkRecs = math.max(1L, chunkBytes / rs)
    val maxRecs = math.max(chunkRecs, maxPartBytes / rs)
    val target = math.max(1L, totalRecs / math.max(1L, 3L * parallelism))
    val chunks = math.max(1L, (target + chunkRecs - 1) / chunkRecs)
    math.min(chunks * chunkRecs, maxRecs)
  }

  /** Global records [lo, hi) of part file `file` (header `meta`), whose
    * record 0 is global record `offset`. */
  private[netcdf] case class Span[M](file: Path, meta: M, offset: Long, lo: Long, hi: Long)

  /** The one split rule batch scans and micro-batches share. Each
    * non-empty span becomes partitions of at most `perPart` records:
    *  - with the `recordsPerPartition` option, `perPart` is that value
    *    and partitions step from the span's start (no geometry);
    *  - autotuned, `perPart` comes from [[autotunePerPart]] over the
    *    spans' records, and each partition ends at the last boundary of
    *    its file's chunk grid at or before `start + perPart` (at least
    *    the next boundary), or at the span's end. The grid is the
    *    container's `splitGeometry` chunk bytes over its record bytes,
    *    from the file's own header. So no stored chunk is decoded by
    *    two tasks, and a slice over k chunks runs as about k tasks.
    * A file the container cannot split is read whole (bounds and zone
    * maps still prune whole files and trailing records). */
  private[netcdf] def partitions(c: ChunkedContainer)(spans: Seq[Span[c.Meta]],
      required: StructType, options: Map[String, String]): Array[InputPartition] = {
    val live = spans.filter(s => s.lo < s.hi)
    def geometry(m: Option[c.Meta]) = c.splitGeometry(m, required, options)
    // (records per partition, a file's chunk grid in records)
    val (perPart, grid) = positiveOption(options, RecordsPerPartition) match {
      case Some(n) => (n, (_: c.Meta) => 1L)
      case None =>
        val (recSize, chunkBytes) = geometry(live.headOption.map(_.meta))
        (autotunePerPart(live.map(s => s.hi - s.lo).sum, recSize, chunkBytes,
          SQLConf.get.filesMaxPartitionBytes, SparkContext.getOrCreate().defaultParallelism),
          (m: c.Meta) => {
            val (rs, cb) = geometry(Some(m))
            math.max(1L, cb / math.max(rs, 1L))
          })
    }
    val parts = Array.newBuilder[InputPartition]
    live.foreach { case Span(f, meta, offset, lo, hi) =>
      val (localLo, localHi) = (lo - offset, hi - offset)
      if (!c.splittable(f)) {
        parts += RecordRangePartition(f.toString, localLo, localHi, offset)
      } else {
        val g = grid(meta)
        var s = localLo
        while (s < localHi) {
          // capped so a huge manual value cannot overflow; past the
          // span's end by a chunk, the cap still ends the partition there
          val reach = s + math.min(perPart, localHi - s + g)
          val e = math.min(localHi, math.max(reach / g, s / g + 1) * g)
          parts += RecordRangePartition(f.toString, s, e, offset)
          s = e
        }
      }
    }
    parts.result()
  }
}

/** Offset = number of part files ingested. Part files are immutable
  * (the writers land them with a temp rename) and the streaming
  * contract is that new files sort after already-seen ones (e.g.
  * timestamped names), mirroring the reference's append-only streamed
  * variable. */
case class FileCountOffset(fileCount: Int) extends Offset {
  override def json(): String = "{\"fileCount\":" + fileCount + "}"
}

/** Micro-batch stream over a growing directory of part files: each
  * batch covers the files that appeared since the last offset, split
  * into chunk-aligned record-range partitions by the batch scan's split
  * rule. The virtual `record` column stays globally consistent: each
  * file's base index is the cumulative record count of all files
  * before it in sorted order. */
class ChunkedMicroBatchStream(container: ChunkedContainer, dir: String,
    required: StructType, options: Map[String, String], serConf: SerializableHadoopConf)
    extends MicroBatchStream with SupportsAdmissionControl {

  import ChunkedScan._

  private def fs =
    new Path(dir).getFileSystem(SparkContext.getOrCreate().hadoopConfiguration)
  private def files: Seq[Path] = container.listFiles(fs, new Path(dir))
  // part files are immutable: header metadata is read once per file,
  // so per-batch planning is O(new files), not O(all files)
  private val metaCache = scala.collection.mutable.HashMap.empty[String, container.Meta]
  private def metaOf(f: Path): container.Meta =
    metaCache.getOrElseUpdate(f.toString, container.readMeta(fs, f))

  override def initialOffset(): Offset = FileCountOffset(0)
  override def latestOffset(): Offset = FileCountOffset(files.size)

  /** Rate limiting (`maxFilesPerTrigger` option): cap how many new
    * part files each micro-batch admits — the standard back-pressure
    * lever when a burst of files lands on a continuously-ingesting
    * stream (without it, one giant catch-up batch monopolizes the
    * cluster and checkpoint progress becomes all-or-nothing). */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger(options).map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FileCountOffset].fileCount
    limit match {
      case mf: ReadMaxFiles => FileCountOffset(math.min(files.size, s + mf.maxFiles()))
      case _ => FileCountOffset(files.size)
    }
  }

  override def reportLatestOffset(): Offset = FileCountOffset(files.size)

  override def deserializeOffset(json: String): Offset =
    FileCountOffset("\\d+".r.findFirstIn(json).map(_.toInt).getOrElse(0))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].fileCount
    val e = end.asInstanceOf[FileCountOffset].fileCount
    val metas = files.map(f => f -> metaOf(f))
    val offsets = metas.map(m => container.numRecs(m._2)).scanLeft(0L)(_ + _)
    // only this batch's files: each micro-batch targets ≈3× cores
    // partitions for the records it actually ingests
    val spans = (s until math.min(e, metas.size)).map { i =>
      Span(metas(i)._1, metas(i)._2, offsets(i), offsets(i), offsets(i + 1))
    }
    partitions(container)(spans, required, options)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    container.readerFactory(required, options, serConf)
}

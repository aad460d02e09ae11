package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.netcdf.{Hdf5Format, NcFormat}

/** One on-disk format the io workloads stream the variable through:
  * the DSv2 short name, its write options, the part-file suffix, and
  * how to find the stored bytes of the chunks that cover a record
  * range (for the slice read-amplification ratio). */
sealed trait Format {
  def name: String
  def writeOptions: Map[String, String]
  def suffix: String
  /** records per stored chunk of the field variable, from metadata */
  def chunkRecords(fs: FileSystem, file: Path): Long
  /** stored bytes of the chunks of `file` that cover local records [r0, r1) */
  def coveringBytes(fs: FileSystem, file: Path, r0: Long, r1: Long): Long
  /** metadata read of one part file; returns its record count */
  def readMeta(fs: FileSystem, file: Path): Long
}

object Format {
  /** netCDF-4: netCDF4-python's `zlib=True, shuffle=True, fletcher32=True` */
  object Nc4 extends Format {
    val name = "netcdf4"
    val writeOptions = Map("shuffle" -> "true", "fletcher" -> "true")
    val suffix = ".nc4"
    def chunkRecords(fs: FileSystem, file: Path): Long =
      Hdf5Format.readMeta(fs, file).vars.find(_.name == "field").get.chunkRecs.toLong
    def coveringBytes(fs: FileSystem, file: Path, r0: Long, r1: Long): Long =
      Hdf5Format.readMeta(fs, file).vars.map { v =>
        v.chunks.filter(c => c.startRec < r1 && c.startRec + v.chunkRecs > r0)
          .map(_.storedSize.toLong).sum
      }.sum
    def readMeta(fs: FileSystem, file: Path): Long = Hdf5Format.readMeta(fs, file).numRecs
  }

  /** classic netCDF with per-chunk deflate (`.ncz` part files) */
  object Nc3 extends Format {
    val name = "netcdf3"
    val writeOptions = Map("compresschunks" -> "true")
    val suffix = ".ncz"
    private def blocks(fs: FileSystem, file: Path): Seq[(Long, Long)] =
      NcFormat.readNczAny(fs, file) match {
        case Left(idx) =>
          idx.blocks.toSeq.zipWithIndex.map { case (b, i) =>
            (i * idx.recordsPerBlock, math.abs(b._2.toLong)) }
        case Right(idx2) =>
          idx2.vars.toSeq.flatMap(v => v.blocks.toSeq.zipWithIndex.map { case (b, i) =>
            (i * v.recordsPerBlock, math.abs(b._2.toLong)) })
      }
    def chunkRecords(fs: FileSystem, file: Path): Long =
      NcFormat.readNczAny(fs, file) match {
        case Left(idx) => idx.recordsPerBlock
        case Right(idx2) => idx2.vars.map(_.recordsPerBlock).max
      }
    def coveringBytes(fs: FileSystem, file: Path, r0: Long, r1: Long): Long = {
      val rpb = chunkRecords(fs, file)
      blocks(fs, file).collect { case (start, len) if start < r1 && start + rpb > r0 => len }.sum
    }
    def readMeta(fs: FileSystem, file: Path): Long = NcFormat.readMeta(fs, file).numRecs
  }

  def apply(workload: String): Format = workload match {
    case "nc4_io" => Nc4
    case "nc3_io" => Nc3
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The three timed operations of an io workload, and their checks.
  * Each operation returns what its check needs; the checks run
  * after the timer stops. */
final class IoOps(spark: SparkSession, fmt: Format, seed: Long, shape: Shape, dir: String) {
  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  lazy val totals: Gen.Totals = Gen.totals(seed, shape)

  def partFiles(): Seq[Path] =
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.endsWith(fmt.suffix) && !p.getName.startsWith("."))
      .sortBy(_.getName).toSeq

  def storedBytes(): Long = partFiles().map(p => fs.getFileStatus(p).getLen).sum

  def write(input: Dataset[Rec]): Unit =
    input.write.format(fmt.name).options(fmt.writeOptions).mode("overwrite").save(dir)

  /** Full scan aggregating every value of every variable. */
  def scan(): Row = IoOps.aggregate(spark.read.format(fmt.name).load(dir), shape).head()

  def slice(r0: Long, r1: Long): Array[Row] =
    spark.read.format(fmt.name).load(dir)
      .where(col("record") >= r0 && col("record") < r1).collect()

  /** Every written record, compared bit for bit with the generator on
    * the executors, and every record index seen exactly once. Returns
    * (records read, failures, first failure). */
  def readBack(): (Long, Long, String) = {
    val s = shape
    val sd = seed
    val parts = spark.read.format(fmt.name).load(dir).rdd.mapPartitions { it =>
      val seen = new java.util.BitSet(s.records)
      var n = 0L
      var bad = 0L
      var first: String = null
      it.foreach { row =>
        n += 1
        val rec = row.getAs[Long]("record")
        val e = if (rec >= 0 && rec < s.records && seen.get(rec.toInt)) s"duplicate record $rec"
          else Checks.row(row, sd, s)
        if (e != null) { bad += 1; if (first == null) first = e }
        else seen.set(rec.toInt)
      }
      Iterator((n, bad, first, seen.toLongArray))
    }.collect()
    val all = new java.util.BitSet(shape.records)
    var bad = parts.map(_._2).sum
    var first = parts.map(_._3).find(_ != null).orNull
    parts.foreach { p =>
      val bits = java.util.BitSet.valueOf(p._4)
      val twice = bits.clone().asInstanceOf[java.util.BitSet]
      twice.and(all)
      bad += twice.cardinality()
      all.or(bits)
    }
    val missing = shape.records - all.cardinality()
    bad += missing
    if (first == null && bad > 0)
      first = s"$missing of ${shape.records} records missing or repeated across part files"
    (parts.map(_._1).sum, bad, first)
  }

  /** Stored bytes of the chunks covering global records [r0, r1). */
  def coveringBytes(r0: Long, r1: Long): Long = {
    var offset = 0L
    var total = 0L
    partFiles().foreach { f =>
      val n = fmt.readMeta(fs, f)
      if (offset < r1 && offset + n > r0)
        total += fmt.coveringBytes(fs, f, math.max(r0 - offset, 0L), math.min(r1 - offset, n))
      offset += n
    }
    total
  }

  def chunkRecords(): Long = fmt.chunkRecords(fs, partFiles().head)

  /** Parquet, on the same input, for the reference roofline. */
  def parquetWrite(input: Dataset[Rec], pdir: String): Unit =
    input.write.mode("overwrite").parquet(pdir)

  def parquetScan(pdir: String): Row = IoOps.aggregate(spark.read.parquet(pdir), shape).head()
}

object IoOps {
  /** count, Σ field (every element, via a codegen'd dot product with a
    * constant ones vector), Σ time, Σ station */
  def aggregate(df: DataFrame, shape: Shape): DataFrame = {
    val ones = array_repeat(lit(1.0d), shape.width)
    df.agg(
      count(lit(1)),
      sum(graft.functions.VectorExpressions.vec_dot(
        col("field").cast("array<double>"), ones)),
      sum(col("time")),
      sum(col("station").cast("long")))
  }
}

/** Output checks, run after an operation's timer stops: every value
  * is compared with what the generator computes on its own from the
  * seed, integers exactly and floats bit for bit. Each returns a
  * description of the first difference, or null. */
object Checks {
  def scan(r: Row, want: Gen.Totals): String = {
    val got = Gen.Totals(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))
    def same(a: Double, b: Double) =
      java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)
    if (got.count == want.count && got.stationSum == want.stationSum &&
        same(got.fieldSum, want.fieldSum) && same(got.timeSum, want.timeSum)) null
    else s"scan totals $got != $want"
  }

  /** rows of a slice of records [r0, r1): each exactly once, each exact */
  def slice(rows: Array[Row], seed: Long, shape: Shape, r0: Long, r1: Long): String = {
    if (rows.length != r1 - r0) return s"slice [$r0,$r1): ${rows.length} rows"
    val seen = new java.util.BitSet((r1 - r0).toInt)
    rows.foreach { r =>
      val rec = r.getAs[Long]("record")
      if (rec < r0 || rec >= r1) return s"slice [$r0,$r1) returned record $rec"
      if (seen.get((rec - r0).toInt)) return s"slice [$r0,$r1): duplicate record $rec"
      seen.set((rec - r0).toInt)
      val e = row(r, seed, shape)
      if (e != null) return e
    }
    null
  }

  def row(r: Row, seed: Long, shape: Shape): String = {
    val field = r.getAs[scala.collection.Seq[Float]]("field").toArray
    Gen.diff(seed, shape, r.getAs[Long]("record"), field,
      r.getAs[Double]("time"), r.getAs[Int]("station"))
  }
}

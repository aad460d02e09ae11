package graft.sources.netcdf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Distributed NetCDF write: each partition of `df` streams its rows
  * into its own `part-NNNNN.nc` file through a chunk-size write buffer
  * — the cluster generalization of the reference's
  * `createStreamerVariable` + `streamNumpyData(single_entity=True)`
  * loop (records appended one at a time, flushed per chunk budget,
  * record count patched on close).
  *
  * Files land under `dir/` via a local spool + temp-name rename, so
  * task retries cannot leave torn files. Numeric columns become scalar
  * record variables; fixed-length array columns become rank-2
  * (record × N) variables (the reference's N-D case — N inferred from
  * the first row); string columns become fixed-width NC_CHAR
  * variables, all along the unlimited `record` dimension.
  */
object NcIO {

  def write(df: DataFrame, dir: String, chunkBytes: Int = 4 << 20,
      stringWidth: Int = 32, arrayLens: Map[String, Int] = Map.empty,
      gatts: Seq[(String, String)] = Nil,
      vatts: Map[String, Seq[(String, String)]] = Map.empty,
      fixedVars: Seq[(String, Array[Double])] = Nil,
      /** gzip each part file (.nc.gz) after the numrecs/zone-map
        * patches — whole-file compression, the storage-cost lever at
        * 100 TB. Compressed parts are not record-splittable (one scan
        * partition per file), so pair `compress` with enough write
        * partitions to keep read parallelism. */
      compress: Boolean = false,
      /** per-chunk compression (.ncz): deflate-compressed record
        * blocks behind an uncompressed classic header + block index —
        * keeps the file SPLITTABLE and record-range/zone-map pruning
        * intact (the NetCDF4/HDF5 chunked-storage model). Prefer this
        * over `compress` whenever readers matter. */
      compressChunks: Boolean = false,
      /** typed NC_DOUBLE per-variable attributes — CF-conventions
        * numeric metadata (scale_factor, add_offset, valid_range…). */
      dvatts: Map[String, Seq[(String, Array[Double])]] = Map.empty,
      /** typed NC_DOUBLE GLOBAL attributes — file-level numeric
        * metadata (bounds, grid spacing, version vectors). */
      dgatts: Seq[(String, Array[Double])] = Nil,
      /** per-variable block-size budget (bytes) for the .ncz sink —
        * netCDF4's `createVariable(chunksizes=)`; unnamed variables
        * inherit `chunkBytes`. Non-empty ⇒ var-major .ncz v2 layout. */
      varChunkBytes: Map[String, Int] = Map.empty,
      /** per-variable codec for the .ncz sink ("store" | "deflate") —
        * netCDF4's `createVariable(zlib=)`. "store" skips the Deflater
        * entirely for high-entropy columns. */
      varCodecs: Map[String, String] = Map.empty): Unit = {
    require(!(compress && compressChunks),
      "choose one of compress (.nc.gz) or compressChunks (.ncz)")
    val schema = df.schema
    require(!schema.fieldNames.contains("record"),
      "column name `record` is reserved for the netcdf3 record index")
    // fixed-length array columns: infer the length from the first row
    // (the classic format needs dimension sizes in the header)
    // prefer caller-declared lengths: the inference fallback costs one
    // extra execution of the upstream plan (take(1))
    val arrayCols = schema.fields
      .collect { case f if f.dataType.isInstanceOf[ArrayType] => f.name }
      .filterNot(arrayLens.contains)
    val allLens: Map[String, Int] = arrayLens ++ (
      if (arrayCols.isEmpty) Map.empty[String, Int]
      else {
        import org.apache.spark.sql.functions.{col, size}
        val rows = df.select(arrayCols.map(c => size(col(c)).as(c)).toSeq: _*).take(1)
        require(rows.nonEmpty,
          s"cannot infer fixed lengths for array columns ${arrayCols.mkString(", ")} " +
            "from an empty DataFrame")
        arrayCols.zipWithIndex.map { case (c, i) => c -> rows.head.getInt(i) }.toMap
      })
    schema.fields.foreach(f => NcFormat.varSpecOf(f, allLens, stringWidth)) // validate early
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)

    val serConf = new SerializableHadoopConf(hconf)
    val rdd = df.queryExecution.toRdd // RDD[InternalRow], no extra copy
    rdd.mapPartitionsWithIndex { (pid, rows) =>
      writePartition(schema, dir, pid, rows, chunkBytes, allLens, stringWidth, serConf,
        gatts, vatts, fixedVars, compress, compressChunks, dvatts, dgatts,
        varChunkBytes, varCodecs)
      Iterator.single(pid)
    }.count() // run the job
    ()
  }

  /** Total records in a dataset dir — header metadata only, no record
    * data is read (one small read per part file). */
  def recordCount(spark: org.apache.spark.sql.SparkSession, container: ChunkedContainer,
      dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    container.listFiles(fs, p).map(f => container.numRecs(container.readMeta(fs, f))).sum
  }

  /** MFDataset-style multi-file aggregation: present several dataset
    * dirs as ONE dataset along a contiguous record dimension, each
    * dir's records re-based by the cumulative record counts of the
    * dirs before it. Offsets come from [[recordCount]] header reads
    * (metadata-scale, like a parquet footer list), so the union plan
    * stays a pure scan union — no shuffle, no count jobs; all
    * per-file pruning/pushdown of the DSv2 still applies under the
    * record-shift projection. */
  def multifile(spark: org.apache.spark.sql.SparkSession, container: ChunkedContainer,
      dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val offsets = dirs.map(recordCount(spark, container, _)).scanLeft(0L)(_ + _)
    dirs.zip(offsets).map { case (d, off) =>
      spark.read.format(container.provider).load(d)
        .withColumn("record", col("record") + lit(off))
    }.reduce(_.unionByName(_))
  }

  // ---------------------------------------------------------------
  // Maintenance for streaming sinks: the reference's `streamNumpyData`
  // appends records to ONE growing file; parallel Spark writers append
  // one part file per task (the only layout N concurrent writers can
  // have), and these ops close the gap — `parts = 1` rewrites a dir of
  // appended parts into a SINGLE self-contained file, record order
  // preserved.
  // ---------------------------------------------------------------

  /** Compact a dir's many small part files into `parts` larger ones,
    * preserving record order — the maintenance companion of the
    * streaming sink (per-epoch part files accumulate; small files cost
    * a scan partition each and metadata reads per file). Range
    * partitioning on `record` keeps partition i strictly before
    * partition i+1, so the rewritten dir presents the identical record
    * sequence; one range shuffle of the data, no driver involvement.
    * Reads and writes through the container's DSv2 source; `options`
    * forwards writer knobs (chunkrecs, deflate, chunkindex, h5ver,
    * compressChunks, ...). */
  def compact(spark: org.apache.spark.sql.SparkSession, container: ChunkedContainer,
      srcDir: String, dstDir: String, parts: Int,
      options: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format(container.provider).load(srcDir)
    val dataCols = df.columns.filterNot(_ == "record").map(col(_)).toSeq
    df.repartitionByRange(parts, col("record"))
      .sortWithinPartitions("record")
      .select(dataCols: _*)
      .write.format(container.provider).mode("overwrite").options(options)
      .save(dstDir)
  }

  /** In-place [[compact]]: rewrite `dir`'s parts into `parts` larger
    * files through a sibling temp dir, then swap directories (old dir
    * parked at `.old` until the new one is in place, so a failure
    * mid-swap can be rolled back and readers never see a half-written
    * dir under the original name). */
  def compactInPlace(spark: org.apache.spark.sql.SparkSession, container: ChunkedContainer,
      dir: String, parts: Int, options: Map[String, String] = Map.empty): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + s".compact-${java.util.UUID.randomUUID()}")
    compact(spark, container, dir, tmp.toString, parts, options)
    val old = new Path(dir + ".old")
    fs.delete(old, true)
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"compactInPlace: failed to park $dir")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back
      throw new java.io.IOException(s"compactInPlace: failed to swap in $tmp")
    }
    fs.delete(old, true)
  }

  /** Size-threshold maintenance hook for streaming sinks: when `dir`
    * has accumulated more than `maxFiles` part files (per-epoch sink
    * residue), compact them in place to `parts` files. Returns whether
    * compaction ran. `maxFiles = 1, parts = 1` is the
    * single-growing-file policy: appends accumulate, the hook folds
    * them back into one self-contained file. Call between epochs (e.g.
    * from a foreachBatch body after the epoch's write) — never while a
    * batch is mid-write to the same dir. */
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession, container: ChunkedContainer,
      dir: String, maxFiles: Int, parts: Int,
      options: Map[String, String] = Map.empty): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (container.listFiles(fs, p).size > maxFiles) {
      compactInPlace(spark, container, dir, parts, options); true
    } else false
  }

  /** All attributes across the part files of `dir`, one row per
    * (file, var, attr, element): global attrs under var_name GLOBAL,
    * NC_CHAR values in sval, numeric elements in dval. Header-only
    * reads (metadata scale — no record data is touched); callers
    * aggregate across part files (e.g. min/max of per-file
    * actual_range). */
  /** Attr rows of one part file: (file, var, attr, element idx, sval, dval). */
  private def attrRowsOf(fs: org.apache.hadoop.fs.FileSystem,
      f: Path): Seq[(String, String, String, Long, String, Option[Double])] = {
    val meta = NcFormat.readMeta(fs, f)
    def attRows(varName: String, atts: Seq[NcFormat.NcAttr]) = atts.flatMap { a =>
      if (a.ncType == NcFormat.NC_CHAR)
        Seq((f.getName, varName, a.name, 0L, a.text, Option.empty[Double]))
      else a.nums.zipWithIndex.map { case (x, i) =>
        (f.getName, varName, a.name, i.toLong, null: String, Some(x))
      }
    }
    attRows("GLOBAL", meta.gatts) ++ meta.vars.flatMap(v => attRows(v.name, v.atts))
  }

  /** Above ~100 part files the per-file header reads fan out to
    * executors — at 100 TB (10⁵-10⁶ parts) a sequential driver loop
    * would serialize on metadata; below that the driver loop avoids a
    * job launch. */
  private val DRIVER_ATTR_FILES = 100

  def readAttrs(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = NetCDF3.listFiles(fs, p)
    if (parts.length <= DRIVER_ATTR_FILES) {
      parts.flatMap(f => attrRowsOf(fs, f))
        .toDF("file", "var_name", "attr_name", "idx", "sval", "dval")
    } else {
      val serConf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      val names = parts.map(_.toString)
      val slices = math.max(1, math.min(names.length / 16, 4096))
      spark.sparkContext.parallelize(names, slices)
        .flatMap { n =>
          val path = new Path(n)
          attrRowsOf(path.getFileSystem(serConf.value), path)
        }
        .toDF("file", "var_name", "attr_name", "idx", "sval", "dval")
    }
  }

  /** A fixed (non-record) variable of `dir`'s first part file as
    * (idx, value) rows. Fixed vars are coordinate-scale (bounded by a
    * fixed dimension, identical in every part file), so a single
    * header+slab read is the right shape — record data streams through
    * the DSv2 instead. */
  def readFixedVar(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".nc")).sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"no .nc part files in $dir"))
    val meta = NcFormat.readMeta(fs, part)
    val v = meta.fixedVars.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no fixed variable $name in $part (have: ${meta.fixedVars.map(_.name).mkString(", ")})"))
    require(v.ncType == NcFormat.NC_DOUBLE, s"fixed var $name is not NC_DOUBLE")
    val n = v.dimIds.map(i => meta.dims(i).length).product.toInt
    val in = NcFormat.openData(fs, part)
    val values = try {
      var left = v.begin
      while (left > 0) {
        val sk = in.skip(left)
        require(sk > 0, s"failed to skip to fixed var $name in $part")
        left -= sk
      }
      (0 until n).map(_ => in.readDouble())
    } finally in.close()
    values.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("idx", "value")
  }

  private def writePartition(
      schema: StructType,
      dir: String,
      pid: Int,
      rows: Iterator[InternalRow],
      chunkBytes: Int,
      arrayLens: Map[String, Int],
      stringWidth: Int,
      serConf: SerializableHadoopConf,
      gatts: Seq[(String, String)],
      vatts: Map[String, Seq[(String, String)]],
      fixedVars: Seq[(String, Array[Double])],
      compress: Boolean,
      compressChunks: Boolean,
      dvatts: Map[String, Seq[(String, Array[Double])]],
      dgatts: Seq[(String, Array[Double])],
      varChunkBytes: Map[String, Int],
      varCodecs: Map[String, String]): Unit = {
    val pf = new NcPartFile(schema, dir, f"part-$pid%05d", chunkBytes, arrayLens,
      stringWidth, serConf, gatts, vatts, fixedVars, compress, compressChunks, dvatts, dgatts,
      varChunkBytes, varCodecs)
    try {
      rows.foreach(pf.write)
      pf.commit()
    } catch { case t: Throwable => pf.abort(); throw t }
  }
}

/** Row-at-a-time part-file writer shared by the [[NcIO]] RDD job and
  * the DSv2 batch/streaming write paths ([[NcDataWriter]]): rows spool
  * locally through the chunked [[NcFormat.Writer]], and `commit()`
  * (optionally gzips and) uploads to `dir/<baseName>.nc[.gz]` via a
  * temp-name rename, so task retries and re-executed streaming epochs
  * can never leave torn files — re-runs of the same (partition, epoch)
  * replace the same destination atomically.
  */
private[netcdf] final class NcPartFile(
    schema: StructType,
    dir: String,
    baseName: String,
    chunkBytes: Int,
    arrayLens: Map[String, Int],
    stringWidth: Int,
    serConf: SerializableHadoopConf,
    gatts: Seq[(String, String)],
    vatts: Map[String, Seq[(String, String)]],
    fixedVars: Seq[(String, Array[Double])],
    compress: Boolean,
    compressChunks: Boolean = false,
    dvatts: Map[String, Seq[(String, Array[Double])]] = Map.empty,
    dgatts: Seq[(String, Array[Double])] = Nil,
    varChunkBytes: Map[String, Int] = Map.empty,
    varCodecs: Map[String, String] = Map.empty) {

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
  private val local = java.io.File.createTempFile(baseName, ".nc")
  private val writer = new NcFormat.Writer(local.getPath, schema, chunkBytes, arrayLens,
    stringWidth, gatts, vatts, fixedVars, compressChunks, dvatts, dgatts,
    varChunkBytes, varCodecs)
  private val nFields = schema.size

  def write(r: InternalRow): Unit = {
    // classic NetCDF has no null encoding: fail loudly rather than
    // silently persisting nulls as zeros/empty strings
    var i = 0
    while (i < nFields) {
      if (r.isNullAt(i)) throw new IllegalArgumentException(
        s"null in column ${schema.fields(i).name}: the classic NetCDF format has no " +
          "null encoding — fill or filter nulls before writing")
      i += 1
    }
    writer.writeRow(i => getters(i)(r))
  }

  def commit(): Unit = {
    try {
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
      val dest = new Path(dir, s"$baseName.$ext")
      val tmp = new Path(dir, s".$baseName-${java.util.UUID.randomUUID()}.$ext.tmp")
      val fs = dest.getFileSystem(serConf.value)
      try {
        fs.copyFromLocalFile(true, true, new Path(upload.getPath), tmp)
        if (fs.exists(dest)) fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) throw new java.io.IOException(s"rename to $dest failed")
      } finally if (upload ne local) upload.delete()
    } finally local.delete()
  }

  def abort(): Unit = local.delete()
}

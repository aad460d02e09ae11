package graft.sources.netcdf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Distributed NetCDF write: each non-empty partition of `df` streams
  * its rows into its own `part-NNNNN.nc` file (an empty partition lands
  * no file) through the sink's [[NcDataWriter]] and its chunk-size
  * write buffer
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
      /** file-level attributes: NC_CHAR text or NC_DOUBLE numbers
        * (bounds, grid spacing, version vectors). */
      globalAttrs: Seq[Attr] = Nil,
      /** per-variable attributes: NC_CHAR text (units, calendar) or
        * NC_DOUBLE numbers — CF-conventions scale_factor, add_offset,
        * valid_range, _FillValue. */
      varAttrs: Map[String, Seq[Attr]] = Map.empty,
      fixedVars: Seq[(String, Array[Double])] = Nil,
      /** gzip each part file (.nc.gz) after the numrecs/zone-map
        * patches — whole-file compression, the storage-cost lever at
        * 100 TB. Compressed parts are not record-splittable (one scan
        * partition per file), so pair `compress` with enough write
        * partitions to keep read parallelism. */
      compress: Boolean = false,
      /** per-chunk compression (.ncz): shuffle+deflate-4 record
        * blocks behind an uncompressed classic header + block index —
        * keeps the file SPLITTABLE and record-range/zone-map pruning
        * intact (the NetCDF4/HDF5 chunked-storage model). Prefer this
        * over `compress` whenever readers matter. */
      compressChunks: Boolean = false,
      /** per-variable block-size budget (bytes) for the .ncz sink —
        * netCDF4's `createVariable(chunksizes=)`; unnamed variables
        * inherit `chunkBytes`. Non-empty ⇒ var-major .ncz v2 layout. */
      varChunkBytes: Map[String, Int] = Map.empty,
      /** per-variable codec for the .ncz sink ("store" | "deflate" | "zstd") —
        * netCDF4's `createVariable(zlib=)`. "store" skips the Deflater
        * entirely for high-entropy columns. */
      varCodecs: Map[String, String] = Map.empty): Unit = {
    val schema = df.schema
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
        // quoted: a column name may hold dots, which col() would read as a path
        val rows = df.select(arrayCols.map(c =>
          size(col("`" + c.replace("`", "``") + "`")).as(c)).toSeq: _*).take(1)
        require(rows.nonEmpty,
          s"cannot infer fixed lengths for array columns ${arrayCols.mkString(", ")} " +
            "from an empty DataFrame")
        arrayCols.zipWithIndex.map { case (c, i) => c -> rows.head.getInt(i) }.toMap
      })
    schema.fields.foreach(f => NcFormat.varSpecOf(f, allLens, stringWidth)) // validate early
    val options = Map("chunkbytes" -> chunkBytes.toString,
      "stringwidth" -> stringWidth.toString, "compress" -> compress.toString,
      "compresschunks" -> compressChunks.toString)
    ChunkedWrite.write(df, NetCDF3, dir, options)((name, serConf) =>
      new NcDataWriter(schema, dir, name, options, serConf, allLens, globalAttrs, varAttrs,
        fixedVars, varChunkBytes, varCodecs))
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

  /** Above ~100 part files the per-file header reads fan out to
    * executors — at 100 TB (10⁵-10⁶ parts) a sequential driver loop
    * would serialize on metadata; below that the driver loop avoids a
    * job launch. */
  private val DRIVER_ATTR_FILES = 100

  /** Attr rows of one part file: (file, var, attr, element idx, sval, dval). */
  private def attrRowsOf(container: ChunkedContainer, fs: org.apache.hadoop.fs.FileSystem,
      f: Path): Seq[(String, String, String, Long, Option[String], Option[Double])] =
    container.attrRows(container.readMeta(fs, f)).map { case (v, a, i, sv, dv) =>
      (f.getName, v, a, i, sv, dv)
    }

  /** All attributes across the part files of `dir`, one row per
    * (file, var, attr, element): global attrs under var_name GLOBAL,
    * text values in sval, numeric elements in dval
    * ([[ChunkedContainer.attrRows]]). Header-only reads (metadata scale
    * — no record data is touched); callers aggregate across part files
    * (e.g. min/max of per-file actual_range). */
  def readAttrs(spark: org.apache.spark.sql.SparkSession, container: ChunkedContainer,
      dir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = container.listFiles(fs, p)
    val cols = Seq("file", "var_name", "attr_name", "idx", "sval", "dval")
    if (parts.length <= DRIVER_ATTR_FILES) {
      parts.flatMap(attrRowsOf(container, fs, _)).toDF(cols: _*)
    } else {
      val serConf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      val names = parts.map(_.toString)
      val slices = math.max(1, math.min(names.length / 16, 4096))
      spark.sparkContext.parallelize(names, slices)
        .flatMap { n =>
          val path = new Path(n)
          attrRowsOf(container, path.getFileSystem(serConf.value), path)
        }
        .toDF(cols: _*)
    }
  }

  /** [[readAttrs]] of a classic netCDF dir. */
  def readAttrs(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    readAttrs(spark, NetCDF3, dir)

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
}

package graft.sources.netcdf

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-contract queries exercising the NetCDF write/read path end
  * to end (SURVEY.md §2A). The oracle runs against the original
  * parquet, so a hash match proves the binary roundtrip through the
  * classic-NetCDF codec is lossless. The keys netCDF-4 shares run the
  * [[ChunkedQueries]] bodies with this container's default layout.
  */
object NcQueries extends ChunkedQueries(NetCDF3) {

  /** N-D variable roundtrip: the 64-dim embedding becomes a rank-2
    * (record × 64) float variable. Float storage is bit-exact, so the
    * oracle (reading the original parquet) must agree on every
    * decimal-cast element sum. */
  def ncNdarrayRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "ndarray")
    NcIO.write(
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label")),
      out)
    s.read.format(SRC).load(out)
      .agg(
        count(lit(1)).as("n"),
        sum(col("label").cast(LongType)).as("sum_label"),
        sum(expr(
          "aggregate(embedding, CAST(0 AS DECIMAL(28,8)), (acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE) AS DECIMAL(12,8)) AS DECIMAL(28,8)))"))
          .cast(DoubleType).as("sum_emb"))
  }

  val ncNdarrayRoundtripSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS sum_label,
      |  CAST(SUM(sum_row) AS DOUBLE) AS sum_emb FROM (
      |  SELECT label,
      |    list_sum(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,8)))) AS sum_row
      |  FROM embeddings) sub""".stripMargin

  /** NC_CHAR string-variable roundtrip: lang (width-8 char variable)
    * survives write+read and groups identically. */
  def ncStringRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "strings")
    NcIO.write(
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
      out, stringWidth = 8)
    s.read.format(SRC).load(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
  }

  val ncStringRoundtripSql: String =
    """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(doc_id) AS min_doc
      |FROM documents
      |GROUP BY lang""".stripMargin

  /** Attribute round-trip: write with user global + per-variable
    * NC_CHAR attributes (plus the writer's automatic per-variable
    * actual_range zone maps), read every attribute back from the part
    * file headers, and aggregate across files — actual_range as
    * (min of mins, max of maxs), user attrs identical in each part.
    * The oracle recomputes the ranges from the source parquet, so a
    * match proves both the attribute encoding and the zone-map values
    * are correct. */
  def ncAttrsRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "attrs")
    NcIO.write(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartition(2),
      out,
      globalAttrs = Seq(Attr.text("title", "graft lineitem export"),
        Attr.text("institution", "graft")),
      varAttrs = Map(
        "l_quantity" -> Seq(Attr.text("units", "count")),
        "l_extendedprice" -> Seq(Attr.text("units", "USD"))))
    NcIO.readAttrs(s, NetCDF3, out)
      .groupBy("var_name", "attr_name", "idx")
      .agg(min(col("sval")).as("sval"),
        min(col("dval")).as("mn"), max(col("dval")).as("mx"))
      // actual_range element 0 is a min, element 1 a max; user attrs
      // are file-invariant so min == the value
      .select(col("var_name"), col("attr_name"), col("idx"), col("sval"),
        when(col("idx") === 0, col("mn")).otherwise(col("mx")).as("dval"))
  }

  val ncAttrsRoundtripSql: String =
    """SELECT * FROM (
      |  SELECT 'GLOBAL' AS var_name, 'title' AS attr_name, CAST(0 AS BIGINT) AS idx,
      |    'graft lineitem export' AS sval, CAST(NULL AS DOUBLE) AS dval
      |  UNION ALL SELECT 'GLOBAL', 'institution', 0, 'graft', NULL
      |  UNION ALL SELECT 'l_quantity', 'units', 0, 'count', NULL
      |  UNION ALL SELECT 'l_extendedprice', 'units', 0, 'USD', NULL
      |  UNION ALL SELECT 'l_orderkey', 'actual_range', 0, NULL, CAST(MIN(l_orderkey) AS DOUBLE) FROM lineitem
      |  UNION ALL SELECT 'l_orderkey', 'actual_range', 1, NULL, CAST(MAX(l_orderkey) AS DOUBLE) FROM lineitem
      |  UNION ALL SELECT 'l_quantity', 'actual_range', 0, NULL, MIN(l_quantity) FROM lineitem
      |  UNION ALL SELECT 'l_quantity', 'actual_range', 1, NULL, MAX(l_quantity) FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', 'actual_range', 0, NULL, MIN(l_extendedprice) FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', 'actual_range', 1, NULL, MAX(l_extendedprice) FROM lineitem)""".stripMargin

  /** Typed NC_DOUBLE GLOBAL attribute round-trip: file-level numeric
    * metadata (bounds vectors, grid spacing, version numbers) written
    * alongside an NC_CHAR text attribute into every part file's
    * gatt_list, read back from the headers. n_files proves each
    * attribute landed in BOTH part files; min/max of dval prove the
    * numeric values are file-invariant and bit-exact. */
  def ncGlobalAttrs: Q = (s, dir) => {
    val out = scratch(s, dir, "gattrs")
    NcIO.write(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")).repartition(2),
      out,
      globalAttrs = Seq(
        Attr.text("title", "graft global-attr export"),
        Attr.nums("geospatial_bounds", -90.0, 90.0),
        Attr.nums("grid_spacing", 0.25),
        Attr.nums("format_version", 2.0, 1.0)))
    NcIO.readAttrs(s, NetCDF3, out)
      .filter(col("var_name") === "GLOBAL")
      .groupBy("attr_name", "idx")
      .agg(countDistinct(col("file")).as("n_files"),
        min(col("sval")).as("sval"),
        min(col("dval")).as("dval_min"),
        max(col("dval")).as("dval_max"))
  }

  val ncGlobalAttrsSql: String =
    """SELECT * FROM (VALUES
      |  (CAST('title' AS VARCHAR), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
      |   CAST('graft global-attr export' AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)),
      |  ('geospatial_bounds', 0, 2, NULL, -90.0, -90.0),
      |  ('geospatial_bounds', 1, 2, NULL, 90.0, 90.0),
      |  ('grid_spacing', 0, 2, NULL, 0.25, 0.25),
      |  ('format_version', 0, 2, NULL, 2.0, 2.0),
      |  ('format_version', 1, 2, NULL, 1.0, 1.0))
      |  t(attr_name, idx, n_files, sval, dval_min, dval_max)""".stripMargin

  /** Fixed (non-record) variable round-trip: a coordinate variable is
    * laid out between header and record data, replicated per part
    * file; the record variables stream as usual. The result joins the
    * coordinate values with an aggregate over the record data, so a
    * match proves both layouts coexist correctly in one file. */
  def ncFixedRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "fixed")
    NcIO.write(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")).repartition(2),
      out,
      fixedVars = Seq("depth_levels" -> Array(1.25, 2.5, 3.75, 5.0)))
    val fixed = NcIO.readFixedVar(s, out, "depth_levels")
    val agg = s.read.format(SRC).load(out)
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    fixed.crossJoin(agg)
  }

  val ncFixedRoundtripSql: String =
    """SELECT CAST(idx AS BIGINT) AS idx, CAST(value AS DOUBLE) AS value, n, sum_qty
      |FROM (VALUES (0, 1.25), (1, 2.5), (2, 3.75), (3, 5.0)) t(idx, value)
      |CROSS JOIN (SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty
      |  FROM lineitem)""".stripMargin

  /** Compressed roundtrip: gzip part files (.nc.gz, whole-file
    * compression — the storage-cost lever at 100 TB) written 4-way
    * parallel, read back through the DSv2's forward-only decompressing
    * path (one scan partition per .gz file), aggregated. Oracle =
    * the original parquet, so a match proves the compressed path is
    * lossless end to end. */
  def ncGzipRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "gzip")
    NcIO.write(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_discount"))
        .repartition(4),
      out, compress = true)
    s.read.format(SRC).load(out)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_discount")).as("sum_disc"))
  }

  val ncGzipRoundtripSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS sum_disc
      |FROM lineitem""".stripMargin

  /** Chunk-compressed (.ncz) roundtrip under a selective read: range-
    * bucketed sorted write with per-block deflate, then a value-filtered
    * aggregate — proving in one query that splittable compression keeps
    * (a) losslessness, (b) zone-map file pruning, and (c) block-seek
    * record access. The oracle aggregates the same slice from the
    * original parquet. */
  def ncNczRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "ncz")
    NcIO.write(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      out, compressChunks = true)
    s.read.format(SRC).load(out)
      .filter(col("l_orderkey") >= 1000L && col("l_orderkey") < 3000L)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }

  val ncNczRoundtripSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_orderkey >= 1000 AND l_orderkey < 3000""".stripMargin

  /** Per-variable codec/chunk-size map (.ncz v2) — netCDF4's
    * `createVariable(..., chunksizes=, zlib=)` parity: each variable
    * carries its OWN records-per-block budget and store/deflate codec,
    * recorded per variable in the block-index footer and honored by the
    * reader. The sorted l_orderkey deflates extremely well under a
    * large block budget; l_extendedprice is declared "store" (dense
    * decimal noise barely deflates — at 100 TB running the Deflater
    * over such columns is pure wasted CPU); l_quantity keeps the
    * default. Var-major blocks also buy COLUMNAR PRUNING: this
    * projected, value-filtered read inflates only the three wanted
    * variables' blocks — the uniform v1 layout decompresses every
    * variable's bytes regardless of projection. The oracle aggregates
    * the same slice from the original parquet, proving losslessness
    * under mixed per-variable codecs. */
  def ncVarCodec: Q = (s, dir) => {
    val out = scratch(s, dir, "var_codec")
    NcIO.write(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      out, compressChunks = true,
      varChunkBytes = Map("l_orderkey" -> (512 << 10), "l_quantity" -> (64 << 10)),
      varCodecs = Map("l_orderkey" -> "deflate", "l_extendedprice" -> "store",
        "l_quantity" -> "zstd"))
    s.read.format(SRC).load(out)
      .filter(col("l_orderkey") >= 500L && col("l_orderkey") < 2500L)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }

  val ncVarCodecSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_orderkey >= 500 AND l_orderkey < 2500""".stripMargin

  /** Standard-surface write roundtrip: the same lossless path as
    * nc_write_read_roundtrip but through the DSv2 write
    * (`df.write.format("netcdf3").mode("overwrite").save(dir)`) —
    * proving a user needs no library call to create NetCDF data, the
    * reference's `createStreamerVariable` semantics hang off Spark's
    * own writer API. */
  def ncDsv2WriteRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "dsv2_write")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .repartition(4)
      .write.format(SRC).mode("overwrite").save(out)
    s.read.format(SRC).load(out)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }

  val ncDsv2WriteRoundtripSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
      |FROM lineitem""".stripMargin

  /** DSv2 append-mode write: two separate `.mode("append")` jobs land
    * disjoint halves (even/odd order keys) into ONE dir — the
    * incremental-ingest surface (each batch's part files coexist;
    * task-level temp renames keep retries atomic). The read-back
    * aggregate over the union must match the whole table. Same-name
    * parts REPLACE by design (retry idempotence), so each append job
    * passes a distinct `partPrefix`. */
  def ncAppendRoundtrip: Q = (s, dir) => {
    val out = scratch(s, dir, "append")
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    li.filter(col("l_orderkey") % 2 === 0).repartition(2)
      .write.format(SRC).mode("overwrite").save(out)
    li.filter(col("l_orderkey") % 2 === 1).repartition(2)
      .write.format(SRC).mode("append")
      .option("partprefix", "b")
      .save(out)
    s.read.format(SRC).load(out)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }

  val ncAppendRoundtripSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
      |FROM lineitem""".stripMargin

  /** Streaming sink + automatic compaction: the source is rate-limited
    * to ONE part file per trigger (`maxFilesPerTrigger` admission
    * control), so the sink accumulates per-epoch small files — the
    * real residue of a long-running streaming write — and the
    * [[NcIO.compactIfNeeded]] maintenance hook (the foreachBatch-shaped
    * trigger) then rewrites them in place into 2 large parts. The
    * read-back must still match the original parquet: multi-epoch
    * ingest, threshold trigger, and in-place dir swap are all lossless. */
  def streamCompactAuto: Q = (s, dir) => {
    val src = scratch(s, dir, "compauto_src")
    val out = scratch(s, dir, "compauto_out")
    val ckpt = scratch(s, dir, "compauto_ckpt")
    NcIO.write(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_discount"))
        .repartition(3),
      src)
    graft.streaming.StreamStage.drain(s, "nccompact", stableCkpt = ckpt)(
      s.readStream.format(SRC)
      .option("maxfilespertrigger", "1")
      .load(src)
      .drop("record")
      .writeStream.format(SRC)
      .option("path", out))
    // 3 rate-limited epochs leave >= 3 files at any sf (each epoch
    // appends >= 1 part), so a threshold of 2 trips the hook on the
    // first run; re-runs in the same session (bench best-of-2, plan
    // audits) find the checkpointed stream adds nothing and the dir
    // already at its 2 compacted files. The invariant either way:
    // after the hook, the dir is within the file budget.
    NcIO.compactIfNeeded(s, NetCDF3, out, maxFiles = 2, parts = 2)
    val outFs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val nParts = outFs.listStatus(new org.apache.hadoop.fs.Path(out))
      .count(_.getPath.getName.endsWith(".nc"))
    require(nParts <= 2, s"compaction hook left $nParts part files in $out")
    s.read.format(SRC).load(out)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_discount")).as("sum_disc"))
  }

  val streamCompactAutoSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS sum_disc
      |FROM lineitem""".stripMargin

  /** Small-file compaction roundtrip: 8 range-ordered small parts (a
    * streaming sink's epoch residue) compacted to 2 large parts via
    * [[NcIO.compact]]; the record-ordinal-weighted checksum proves the
    * rewritten dir presents the IDENTICAL record sequence. */
  def ncCompact: Q = (s, dir) => {
    val small = scratch(s, dir, "compact_small")
    val big = scratch(s, dir, "compact_big")
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
        col("l_quantity"))
    NcIO.write(li.repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .select("l_orderkey", "l_linenumber", "l_quantity"), small)
    NcIO.compact(s, NetCDF3, small, big, parts = 2)
    s.read.format(SRC).load(big)
      .agg(count(lit(1)).as("n"),
        max(col("record")).as("max_record"),
        sum(col("record").cast(DecimalType(18, 0)) * dec(col("l_quantity")))
          .cast(DoubleType).as("wsum"))
  }

  val ncCompactSql: String =
    """WITH o AS (SELECT l_quantity AS v,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS record
      |  FROM lineitem)
      |SELECT COUNT(*) AS n, MAX(record) AS max_record,
      |  CAST(SUM(CAST(record AS DECIMAL(18,0)) * CAST(v AS DECIMAL(9,2))) AS DOUBLE) AS wsum
      |FROM o""".stripMargin

  /** netCDF4 GROUP hierarchy (`createGroup`/`groups[...]` parity) over
    * the flat classic namespace: variables carry path names
    * ("obs/qty", "fc/price"), and reading `.option("group", "fc")`
    * scopes the table to that group at HEADER level — the other
    * group's variables never enter the schema, so column pruning is
    * structural, and under the .ncz v2 var-major layout (used here)
    * their compressed blocks are never even inflated. Write once with
    * two groups, read back one, aggregate it. */
  def ncGroups: Q = (s, dir) => {
    val out = scratch(s, dir, "groups")
    NcIO.write(
      t(s, dir, "lineitem").select(
        col("l_orderkey").as("obs/key"),
        col("l_quantity").as("obs/qty"),
        col("l_extendedprice").as("fc/price"),
        col("l_discount").as("fc/disc")).repartition(4),
      out,
      compressChunks = true,
      varChunkBytes = Map("fc/price" -> (256 << 10)))
    val fc = s.read.format(SRC).option("group", "fc").load(out)
    require(!fc.columns.exists(_.startsWith("obs/")),
      "group scoping leaked another group's variables into the schema")
    fc.agg(
      count(lit(1)).as("n"),
      dsum(col("fc/price")).as("sum_price"),
      sum(dec(col("fc/price")) * oneMinus(col("fc/disc"))).cast(DoubleType)
        .as("sum_disc_price"))
  }

  val ncGroupsSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS sum_disc_price
      |FROM lineitem""".stripMargin

  val queries: Map[String, Q] = Map(
    "nc_groups" -> ncGroups,
    "nc_time_decode" -> timeDecode,
    "nc_fillvalue_mask" -> fillvalueMask,
    "nc_isel_stride" -> iselStride(Map.empty),
    "nc_scale_offset" -> scaleOffset,
    "nc_multifile_union" -> multifileUnion(Map.empty, Map.empty),
    "nc_compact" -> ncCompact,
    "grid_from_source_index" -> gridFromIndex(Map.empty),
    "nc_write_read_roundtrip" -> roundtrip,
    "nc_read_prune" -> readPrune(Map.empty),
    "nc_ndarray_roundtrip" -> ncNdarrayRoundtrip,
    "nc_string_roundtrip" -> ncStringRoundtrip,
    "nc_attrs_roundtrip" -> ncAttrsRoundtrip,
    "nc_global_attrs" -> ncGlobalAttrs,
    "nc_fixed_roundtrip" -> ncFixedRoundtrip,
    "nc_gzip_roundtrip" -> ncGzipRoundtrip,
    "nc_sorted_skip" -> sortedSkip(Map.empty),
    "nc_dsv2_write_roundtrip" -> ncDsv2WriteRoundtrip,
    "nc_append_roundtrip" -> ncAppendRoundtrip,
    "nc_ncz_roundtrip" -> ncNczRoundtrip,
    "nc_var_codec" -> ncVarCodec,
    "nc_time_calendar" -> timeCalendar,
    "stream_nc_ingest" -> streamIngest,
    "stream_nc_sink" -> streamSink,
    "stream_compact_auto" -> streamCompactAuto)

  val oracles: Map[String, String] = Map(
    "nc_groups" -> ncGroupsSql,
    "nc_time_decode" -> timeDecodeSql,
    "nc_fillvalue_mask" -> fillvalueMaskSql,
    "nc_isel_stride" -> iselStrideSql,
    "nc_scale_offset" -> scaleOffsetSql,
    "nc_multifile_union" -> multifileUnionSql,
    "nc_compact" -> ncCompactSql,
    "grid_from_source_index" -> gridFromIndexSql,
    "nc_write_read_roundtrip" -> roundtripSql,
    "nc_read_prune" -> readPruneSql,
    "nc_ndarray_roundtrip" -> ncNdarrayRoundtripSql,
    "nc_string_roundtrip" -> ncStringRoundtripSql,
    "nc_attrs_roundtrip" -> ncAttrsRoundtripSql,
    "nc_global_attrs" -> ncGlobalAttrsSql,
    "nc_fixed_roundtrip" -> ncFixedRoundtripSql,
    "nc_gzip_roundtrip" -> ncGzipRoundtripSql,
    "nc_sorted_skip" -> sortedSkipSql,
    "nc_dsv2_write_roundtrip" -> ncDsv2WriteRoundtripSql,
    "nc_append_roundtrip" -> ncAppendRoundtripSql,
    "nc_ncz_roundtrip" -> ncNczRoundtripSql,
    "nc_var_codec" -> ncVarCodecSql,
    "nc_time_calendar" -> timeCalendarSql,
    "stream_nc_ingest" -> streamIngestSql,
    "stream_nc_sink" -> streamSinkSql,
    "stream_compact_auto" -> streamCompactAutoSql)
}

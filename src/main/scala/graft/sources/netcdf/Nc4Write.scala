package graft.sources.netcdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types._

/** The netCDF-4 container's per-task writer ([[NetCDF4]]): one HDF5
  * part file per non-empty task, streamed through the same
  * chunk-at-a-time pipeline the reference applies (rows buffer into
  * one `chunkRecs`-sized chunk per variable; a full chunk runs
  * fletcher32 → shuffle → deflate and is retired) and landed as a
  * self-contained `.nc4` file via temp-name rename. The
  * [[Hdf5Format.Hdf5Writer]] is created lazily on the first row so
  * array lengths absent from the `arrayLens` option can be inferred
  * from live data (HDF5 dataspace dims are fixed per variable).
  * Retired chunks hold only their filtered (deflated) bytes, so task
  * memory is bounded by chunk size + compressed output — the file
  * assembles once, at commit, in `finish()`'s single sizing pass.
  *
  * Options: `chunkRecs` (records per HDF5 chunk, default 4096),
  * `deflate` (default true), `shuffle` (byte-shuffle filter, default
  * false), `fletcher` (fletcher32 checksum filter, default false),
  * `h5ver` (0 = netCDF4-library default layout: superblock v0 +
  * symbol-table groups; 2 = HDF5 1.8+ layout: superblock v2 + OHDR),
  * `stringWidth` (fixed string width, default 32), `vlenStrings`
  * (store StringType as netCDF-4 vlen `str` — 16-byte global-heap
  * refs in chunks, payloads in GCOL collections — instead of fixed
  * width; default false), `arrayLens`, `densegroups` (dense
  * root-group link storage: fractal heap + v2 B-tree, h5ver=2),
  * `denseattrs` (dense per-variable attribute storage, h5ver=2),
  * `chunkindex` (`btree1` | `fixedarray` | `btree2` | `single` |
  * `implicit` | `extarray` — the on-disk chunk index kind,
  * [[ChunkIndex]]). */
private[netcdf] class Nc4DataWriter(schema: StructType, dir: String, baseName: String,
    options: Map[String, String], serConf: SerializableHadoopConf,
    varAttrs: Map[String, Seq[Attr]] = Map.empty,
    arrayLens: Map[String, Int] = Map.empty)
    extends DataWriter[InternalRow] {

  private val chunkRecs = options.getOrElse("chunkrecs", "4096").toInt
  // deflate defaults on (the library default) — except under the
  // contiguous/compact layouts, whose HDF5 contract admits no filters
  /** `zstd=<level>`: zstandard (registered HDF5 filter 32015,
    * netCDF-4.9's `nc_def_var_zstandard`) replaces deflate in the
    * terminal pipeline slot */
  private val zstdLevel = options.getOrElse("zstd", "0").toInt
  private val deflate = options.get("deflate").map(_.toBoolean)
    .getOrElse(zstdLevel == 0 &&
      options.getOrElse("layout", "chunked") == "chunked")
  private val shuffle = options.get("shuffle").exists(_.toBoolean)
  private val fletcher = options.get("fletcher").exists(_.toBoolean)
  private val h5ver = options.getOrElse("h5ver", "0").toInt
  private val stringWidth = options.getOrElse("stringwidth", "32").toInt
  private val vlenStrings = options.get("vlenstrings").exists(_.toBoolean)
  private val denseGroups = options.get("densegroups").exists(_.toBoolean)
  private val chunkIndex = options.getOrElse("chunkindex", "btree1")
  private val denseAttrs = options.get("denseattrs").exists(_.toBoolean)
  private val chunkCols = options.getOrElse("chunkcols", "0").toInt
  private val layout = options.getOrElse("layout", "chunked")
  private val eaPageBits = options.getOrElse("eapagebits", "13").toInt
  private val vlenSeqs = options.get("vlenseqs").exists(_.toBoolean)
  private val bigEndian = options.get("bigendian").exists(_.toBoolean)
  private val commitTypes = options.get("committypes").exists(_.toBoolean)
  /** `enum.<col>` = "NAME=value,NAME=value" — the column writes as a
    * class-8 enum with that member table */
  private val enumTypes: Map[String, Seq[(String, Long)]] =
    options.collect { case (k, spec) if k.startsWith("enum.") =>
      k.stripPrefix("enum.") -> spec.split(',').toSeq.map { p =>
        val i = p.lastIndexOf('=')
        require(i > 0, s"bad enum member spec '$p' (want NAME=value)")
        (p.substring(0, i).trim, p.substring(i + 1).trim.toLong)
      }
    }
  private val declaredLens = NcWriteConf.arrayLens(options) ++ arrayLens
  /** `quantize.<col>` = "bitgroom:NSD" | "bitround:NSB" — netCDF-4.9
    * lossy quantization applied before the filter pipeline */
  private val quantize: Map[String, (String, Int)] =
    options.collect { case (k, spec) if k.startsWith("quantize.") =>
      val i = spec.indexOf(':')
      require(i > 0, s"bad quantize spec '$spec' (want mode:parameter)")
      k.stripPrefix("quantize.") ->
        ((spec.substring(0, i).trim.toLowerCase, spec.substring(i + 1).trim.toInt))
    }
  /** `traildims.<col>` = "d1,d2,…" — the array column is a rank ≥ 3
    * variable whose trailing dims flatten row-major; optional
    * `trailchunks.<col>` = "c1,c2,…" tiles every row block into
    * boxes (the library's default rank-3 layout) */
  private val trailDims: Map[String, Seq[Int]] =
    options.collect { case (k, spec) if k.startsWith("traildims.") =>
      k.stripPrefix("traildims.") -> spec.split(',').toSeq.map(_.trim.toInt)
    }
  private val trailChunks: Map[String, Seq[Int]] =
    options.collect { case (k, spec) if k.startsWith("trailchunks.") =>
      k.stripPrefix("trailchunks.") -> spec.split(',').toSeq.map(_.trim.toInt)
    }
  /** `fillvalue.<col>` = numeric DEFINED fill value; `sparse=true`
    * leaves all-fill chunks unallocated (the library's behavior for
    * never-written regions — readers serve the fill for the gaps) */
  private val fillValues: Map[String, Double] =
    options.collect { case (k, spec) if k.startsWith("fillvalue.") =>
      k.stripPrefix("fillvalue.") -> spec.trim.toDouble
    }
  private val sparse = options.get("sparse").exists(_.toBoolean)
  /** `dimnames.<col>` = "recdim,trail1,…" — netCDF dimension names;
    * emits the library's dimension-scale layout (scale datasets +
    * DIMENSION_LIST references) */
  private val dimScales: Map[String, Seq[String]] =
    options.collect { case (k, spec) if k.startsWith("dimnames.") =>
      k.stripPrefix("dimnames.") -> spec.split(',').toSeq.map(_.trim)
    }
  /** `bitfield.<col>` = width (1|2|4|8) — the long column writes as a
    * class-4 BITFIELD of that width (low bytes; reads zero-extend) */
  private val bitfields: Map[String, Int] =
    options.collect { case (k, spec) if k.startsWith("bitfield.") =>
      k.stripPrefix("bitfield.") -> spec.trim.toInt
    }
  /** `opaque.<col>` = "width[:tag]" — the binary column writes as a
    * class-5 OPAQUE of fixed width with the given ASCII tag (netCDF
    * `createOpaqueType` name; surfaced on read as `_opaque_tag`) */
  private val opaques: Map[String, (Int, String)] =
    options.collect { case (k, spec) if k.startsWith("opaque.") =>
      val i = spec.indexOf(':')
      k.stripPrefix("opaque.") -> (
        if (i < 0) (spec.trim.toInt, "")
        else (spec.substring(0, i).trim.toInt, spec.substring(i + 1).trim))
    }
  /** `arraydt.<col>` = true — the array column writes with a class-10
    * ARRAY datatype over a rank-1 dataspace (h5py's `(base, (k,))`
    * layout) instead of a trailing dataspace dim */
  private val arrayDt: Set[String] =
    options.collect { case (k, spec) if k.startsWith("arraydt.") && spec.toBoolean =>
      k.stripPrefix("arraydt.")
    }.toSet
  /** `refattr.<col>` = "name:target1+target2" — emits a class-7
    * OBJECT REFERENCE attribute `name` on dataset <col> whose
    * payload is the referenced datasets' header addresses (resolved
    * back to names on read) */
  private val refAttrs: Map[String, (String, Seq[String])] =
    options.collect { case (k, spec) if k.startsWith("refattr.") =>
      val i = spec.indexOf(':')
      require(i > 0, s"bad refattr spec '$spec' (want name:target[+target...])")
      k.stripPrefix("refattr.") -> (
        (spec.substring(0, i).trim,
          spec.substring(i + 1).split('+').toSeq.map(_.trim).filter(_.nonEmpty)))
    }

  private val getters: Array[InternalRow => Any] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case DoubleType => (r: InternalRow) => r.getDouble(i)
        case FloatType => (r: InternalRow) => r.getFloat(i)
        case IntegerType => (r: InternalRow) => r.getInt(i)
        case ShortType => (r: InternalRow) => r.getShort(i)
        case LongType => (r: InternalRow) => r.getLong(i)
        case StringType => (r: InternalRow) => r.getUTF8String(i).getBytes
        case BinaryType => (r: InternalRow) => r.getBinary(i)
        case ArrayType(FloatType, _) => (r: InternalRow) => r.getArray(i).toFloatArray
        case ArrayType(DoubleType, _) => (r: InternalRow) => r.getArray(i).toDoubleArray
        case ArrayType(LongType, _) => (r: InternalRow) => r.getArray(i).toLongArray
        case ArrayType(IntegerType, _) => (r: InternalRow) => r.getArray(i).toIntArray
        case st: StructType => (r: InternalRow) => {
          val row = r.getStruct(i, st.size)
          val a = new Array[Any](st.size)
          var j = 0
          while (j < st.size) {
            if (row.isNullAt(j)) throw new IllegalArgumentException(
              s"null in compound member ${f.name}.${st.fields(j).name}")
            a(j) = st.fields(j).dataType match {
              case LongType => row.getLong(j)
              case IntegerType => row.getInt(j)
              case ShortType => row.getShort(j)
              case DoubleType => row.getDouble(j)
              case FloatType => row.getFloat(j)
              case StringType => row.getUTF8String(j).getBytes
              case o => throw new IllegalArgumentException(
                s"unsupported compound member type $o")
            }
            j += 1
          }
          a
        }
        case other => throw new IllegalArgumentException(s"unsupported HDF5 type $other")
      }
    }

  private var w: Hdf5Format.Hdf5Writer = null
  private var nRecs = 0L
  /** Per-column typed writers, bound once against the writer's
    * RESOLVED kinds (r17, guide §4: the hot loop used to box every
    * scalar cell through an Any getter + putValue's kind match; a
    * Spark LongType column can be KLong OR an enum/bitfield, so the
    * binding keys on the writer's kind tag, with the general boxed
    * path as the fallback for the exotic kinds). */
  private var colWriters: Array[InternalRow => Unit] = null

  private def bindColWriters(): Array[InternalRow => Unit] =
    schema.fields.indices.map { i =>
      (w.fastTag(i), schema.fields(i).dataType) match {
        case (1, LongType) => (r: InternalRow) => w.putLongAt(i, r.getLong(i))
        case (2, IntegerType) => (r: InternalRow) => w.putIntAt(i, r.getInt(i))
        case (3, ShortType) => (r: InternalRow) => w.putShortAt(i, r.getShort(i))
        case (4, DoubleType) => (r: InternalRow) => w.putDoubleAt(i, r.getDouble(i))
        case (5, FloatType) => (r: InternalRow) => w.putFloatAt(i, r.getFloat(i))
        case (6, ArrayType(FloatType, _)) =>
          (r: InternalRow) => w.putFloatArrAt(i, r.getArray(i).toFloatArray)
        case (7, ArrayType(DoubleType, _)) =>
          (r: InternalRow) => w.putDoubleArrAt(i, r.getArray(i).toDoubleArray)
        case (8, ArrayType(LongType, _)) =>
          (r: InternalRow) => w.putLongArrAt(i, r.getArray(i).toLongArray)
        case _ => (r: InternalRow) => w.putAnyAt(i, getters(i)(r))
      }
    }.toArray

  override def write(record: InternalRow): Unit = {
    if (w == null) {
      val lens = declaredLens ++ schema.fields.zipWithIndex.collect {
        case (f, i) if f.dataType.isInstanceOf[ArrayType] && !declaredLens.contains(f.name) =>
          f.name -> record.getArray(i).numElements()
      }
      w = new Hdf5Format.Hdf5Writer(schema, chunkRecs, deflate, stringWidth,
        lens, h5ver, varAttrs = varAttrs.map { case (v, as) =>
          v -> as.map(a => Hdf5Format.H5Attr(a.name, a.text, a.nums))
        }, shuffle = shuffle, fletcher = fletcher,
        vlenStrings = vlenStrings, denseRoot = denseGroups,
        chunkIndex = chunkIndex, denseAttrs = denseAttrs, chunkCols = chunkCols,
        layout = layout, eaPageBits = eaPageBits, vlenSeqs = vlenSeqs,
        enumTypes = enumTypes, bigEndian = bigEndian, commitTypes = commitTypes,
        quantize = quantize, trailDims = trailDims, trailChunks = trailChunks,
        fillValues = fillValues, sparse = sparse, dimScales = dimScales,
        zstdLevel = zstdLevel, bitfields = bitfields, opaques = opaques,
        arrayDatatype = arrayDt, refAttrs = refAttrs)
    }
    if (colWriters == null) colWriters = bindColWriters()
    var i = 0
    while (i < schema.size) {
      if (record.isNullAt(i)) throw new IllegalArgumentException(
        s"null in column ${schema.fields(i).name}: fill or filter nulls before writing")
      i += 1
    }
    i = 0
    while (i < colWriters.length) { colWriters(i)(record); i += 1 }
    nRecs += 1
  }

  override def commit(): WriterCommitMessage = {
    if (w != null) { // empty tasks emit no file
      val bytes = w.finish()
      ChunkedWrite.land(dir, s"$baseName.nc4", serConf) { (fs, tmp) =>
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
      }
    }
    NcFileCommitted(baseName, nRecs)
  }

  override def abort(): Unit = if (w != null) w.discard()
  override def close(): Unit = ()
}

/** The typed Scala entry point of the netCDF-4 write, beside
  * `df.write.format("netcdf4")`: overwrite `dir` with one `.nc4` part
  * file per non-empty partition of `df` (an empty partition lands no
  * file), each written by [[Nc4DataWriter]]. The named parameters
  * become that writer's option keys, so defaults and parsing live in
  * one place; `varAttrs` (per-variable attributes) and `arrayLens`
  * (fixed array lengths) go to the writer directly, since the names
  * they hold are free text a string option cannot carry. */
object Hdf5IO {

  def write(df: DataFrame, dir: String, chunkRecs: Int = 4096,
      deflate: Boolean = true, h5ver: Int = 0, stringWidth: Int = 32,
      arrayLens: Map[String, Int] = Map.empty,
      varAttrs: Map[String, Seq[Attr]] = Map.empty,
      shuffle: Boolean = false, fletcher: Boolean = false,
      vlenStrings: Boolean = false, denseRoot: Boolean = false,
      chunkIndex: String = "btree1", denseAttrs: Boolean = false): Unit = {
    val options = Map("chunkrecs" -> chunkRecs.toString, "deflate" -> deflate.toString,
      "h5ver" -> h5ver.toString, "stringwidth" -> stringWidth.toString,
      "shuffle" -> shuffle.toString, "fletcher" -> fletcher.toString,
      "vlenstrings" -> vlenStrings.toString, "densegroups" -> denseRoot.toString,
      "chunkindex" -> chunkIndex, "denseattrs" -> denseAttrs.toString)
    val schema = df.schema
    ChunkedWrite.write(df, NetCDF4, dir, options)((name, serConf) =>
      new Nc4DataWriter(schema, dir, name, options, serConf, varAttrs, arrayLens))
  }
}

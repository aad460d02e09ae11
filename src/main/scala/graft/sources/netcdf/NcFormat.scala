package graft.sources.netcdf

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._

/** NetCDF classic binary codec (CDF-1 / CDF-2 / CDF-5), implemented
  * from the public Unidata file-format specification
  * (docs.unidata.ucar.edu/netcdf-c — "The NetCDF Classic Format
  * Specification"). This is the Spark-native stand-in for the
  * reference's NetCDF4 dependency: the *streaming* semantics
  * (chunk-buffered append along the unlimited dimension, chunked
  * iteration on read) are the reference's contribution and are
  * format-independent; the classic format is chosen because it is
  * fully publicly specified and implementable without external jars.
  *
  * Layout written here: every DataFrame column becomes a record
  * variable over the unlimited `record` dimension; one DataFrame row =
  * one record. Writes are CDF-2 (64-bit offsets) or CDF-5 when 64-bit
  * integer columns are present. The reader accepts CDF-1/2/5 scalar
  * record variables plus fixed-size variables.
  */
object NcFormat {

  val NC_BYTE = 1; val NC_CHAR = 2; val NC_SHORT = 3; val NC_INT = 4
  val NC_FLOAT = 5; val NC_DOUBLE = 6; val NC_INT64 = 10

  val TAG_DIM = 0x0A; val TAG_VAR = 0x0B; val TAG_ATT = 0x0C

  def typeSize(t: Int): Int = t match {
    case NC_BYTE | NC_CHAR => 1
    case NC_SHORT => 2
    case NC_INT | NC_FLOAT => 4
    case NC_DOUBLE | NC_INT64 => 8
    case other => throw new IllegalArgumentException(s"unsupported nc_type $other")
  }

  def ncTypeOf(dt: DataType): Int = dt match {
    case DoubleType => NC_DOUBLE
    case FloatType => NC_FLOAT
    case IntegerType => NC_INT
    case LongType => NC_INT64
    case ShortType => NC_SHORT
    case ByteType => NC_BYTE
    case other => throw new IllegalArgumentException(
      s"unsupported Spark type for NetCDF-3: $other")
  }

  def sparkTypeOf(ncType: Int): DataType = ncType match {
    case NC_DOUBLE => DoubleType
    case NC_FLOAT => FloatType
    case NC_INT => IntegerType
    case NC_INT64 => LongType
    case NC_SHORT => ShortType
    case NC_BYTE => ByteType
    case other => throw new IllegalArgumentException(s"unsupported nc_type $other")
  }

  private def pad4(n: Long): Long = (4 - n % 4) % 4

  /** One parsed attribute: NC_CHAR attrs carry `text`, numeric attrs
    * carry `nums` widened to doubles (exact for everything except
    * int64 beyond 2^53 — zone-map consumers re-pad, see below). */
  case class NcAttr(name: String, ncType: Int, text: String, nums: Seq[Double])

  case class NcVarMeta(
      name: String,
      ncType: Int,
      dimIds: Seq[Int],
      vsize: Long,
      begin: Long,
      isRecord: Boolean,
      /** per-file value range from the `actual_range` attribute (the
        * CF convention) — graft's writer records it so scans can skip
        * whole files against pushed value filters (zone maps). */
      range: Option[(Double, Double)] = None,
      /** full vatt_list (user attributes + actual_range). */
      atts: Seq[NcAttr] = Nil) {
    /** Bytes of one record slab before inter-record padding. */
    def slabSize(dims: Seq[NcDimMeta]): Long = {
      val fixedCount = dimIds.drop(if (isRecord) 1 else 0)
        .map(i => dims(i).length).product.max(1L)
      fixedCount * typeSize(ncType)
    }
  }

  case class NcDimMeta(name: String, length: Long) {
    def isRecord: Boolean = length == 0L
  }

  case class NcMeta(
      version: Int,
      numRecs: Long,
      dims: Seq[NcDimMeta],
      vars: Seq[NcVarMeta],
      /** global attribute list. */
      gatts: Seq[NcAttr] = Nil) {
    val fixedVars: Seq[NcVarMeta] = vars.filterNot(_.isRecord)
    val recordVars: Seq[NcVarMeta] = vars.filter(_.isRecord)
    /** Byte stride between consecutive records (sum of padded slabs;
      * the single-small-record-var special case skips padding). */
    val recSize: Long =
      if (recordVars.size == 1) recordVars.head.slabSize(dims)
      else recordVars.map(v => { val s = v.slabSize(dims); s + pad4(s) }).sum
    def sparkSchema: StructType =
      StructType(recordVars.map { v =>
        val extra = v.dimIds.drop(1).map(i => dims(i).length).product
        val dt =
          if (v.ncType == NC_CHAR) StringType
          else if (v.dimIds.size > 1 && extra > 1) ArrayType(sparkTypeOf(v.ncType), containsNull = false)
          else sparkTypeOf(v.ncType)
        StructField(v.name, dt)
      })
  }

  // ---------------------------------------------------------------- read

  /** The spec's numrecs sentinel for files written in streaming mode
    * (record count unknown): derive the count from the file length. */
  val NUMRECS_STREAMING: Long = 0xFFFFFFFFL

  /** skipBytes may skip fewer bytes than asked (buffered remote or
    * decompressing streams) — loop until done. */
  private def skipFully(in: DataInputStream, n: Int): Unit = {
    var left = n
    while (left > 0) {
      val skipped = in.skipBytes(left)
      if (skipped <= 0) throw new EOFException(s"failed to skip $left bytes")
      left -= skipped
    }
  }

  /** Whether a path is a gzip-compressed part file (.nc.gz — whole-file
    * compression; the classic format itself has no codec slot). */
  def isGzip(path: Path): Boolean = path.getName.endsWith(".gz")

  /** Whether a path is a chunk-compressed part file (.ncz): a graft
    * extension carrying a spec-standard UNCOMPRESSED classic header
    * (metadata, zone-map attrs and the numrecs patch all work
    * unchanged) while the record data is stored as independently
    * deflate-compressed blocks of `recordsPerBlock` records, indexed
    * by a footer — the NetCDF4/HDF5 chunked-storage model re-expressed
    * on the classic container. Unlike .nc.gz, a .ncz file is
    * SPLITTABLE: the scan seeks straight to the block covering any
    * record range, so compression no longer costs read parallelism or
    * record-range pushdown. */
  def isChunked(path: Path): Boolean = path.getName.endsWith(".ncz")

  /** .ncz v1 footer magic ("GRFZ"), the legacy record-interleaved
    * layout: every block holds `recordsPerBlock` whole records, plainly
    * deflated. Tail layout, all big-endian:
    * ... blocks ... | footer | footerStart: long | magic: int
    * footer = nBlocks: int, recordsPerBlock: long,
    *          then per block (fileOffset: long, compLen: int, nRecs: int).
    * A NEGATIVE compLen marks a STORED (uncompressed) block of
    * -compLen bytes: the writer keeps a block raw when its codec fails
    * to shrink it (already-compressed or high-entropy payloads), so
    * incompressible data costs zero inflation overhead on read and
    * never grows on disk. The writer no longer produces this layout;
    * files in it read unchanged. */
  val NCZ_MAGIC = 0x4752465A

  /** .ncz v3 footer magic ("GRF3"), the default layout written today:
    * the v1 record-interleaved block grid, with one codec byte after
    * `recordsPerBlock`:
    *   nBlocks: int, recordsPerBlock: long, codec: byte,
    *   then per block (fileOffset: long, compLen: int, nRecs: int).
    * The writer uses codec 3: a byte shuffle of the block at element
    * size 4 ([[ChunkCodec.shuffle]]: plane j holds byte j of every
    * 4-byte word; a tail shorter than a word is copied verbatim), then
    * deflate at level 4 — netCDF4-python's `zlib=True` default
    * (`complevel=4`, `shuffle=True`). Four bytes is
    * the classic format's slab alignment, so the shuffle groups the
    * same byte of neighbouring elements. Stored blocks stay raw and
    * unshuffled, as in v1.
    *
    * Codec bytes, shared by v3 and the v2 per-variable footer:
    *   0 store, 1 deflate, 2 zstd, 3 shuffle4+deflate.
    * Any other value is a corrupt footer: the reader throws an
    * `IOException` naming the file, variable, block and codec. */
  val NCZ3_MAGIC = 0x47524633

  val CODEC_STORE: Byte = 0
  val CODEC_DEFLATE: Byte = 1
  val CODEC_ZSTD: Byte = 2
  val CODEC_SHUFFLE4_DEFLATE: Byte = 3

  /** zlib level of the deflate codecs (netCDF4-python's `complevel`
    * default) and the zstd level */
  private val DEFLATE_LEVEL = 4
  private val ZSTD_LEVEL = 3

  /** .ncz v2 footer magic ("GRF2"): per-VARIABLE block layout — the
    * netCDF4 `createVariable(chunksizes=, zlib=)` model. Record data is
    * var-major: each record variable's slabs are buffered and flushed
    * as that variable's OWN block sequence (its own records-per-block
    * budget, its own codec), blocks of different variables interleaving
    * in the file as their buffers fill; the footer records one block
    * index per variable, in header var order:
    *   nVars: int, then per var (recordsPerBlock: long, codec: byte
    *   [the codec table above], nBlocks: int, blocks as in v1),
    *   then footerStart: long, magic: int.
    * Beyond codec control, var-major blocks buy COLUMNAR PRUNING: a
    * projected read inflates only the wanted variables' blocks, where
    * the interleaved layouts decompress every variable's bytes
    * regardless of projection — at 100 TB a 2-of-20-column scan reads
    * ~10% of the record data instead of all of it. */
  val NCZ2_MAGIC = 0x47524632

  /** A record-interleaved block index: `GRFZ` files carry no codec
    * byte and read as deflate (1); `GRF3` files carry theirs. */
  case class NczIndex(recordsPerBlock: Long, blocks: Array[(Long, Int, Int)],
      codec: Byte = CODEC_DEFLATE)
  case class NczVarIndex(recordsPerBlock: Long, codec: Byte, blocks: Array[(Long, Int, Int)])
  case class NczIndex2(vars: Array[NczVarIndex])

  /** Parse a .ncz block-index footer, any layout version. */
  def readNczAny(fs: FileSystem, path: Path): Either[NczIndex, NczIndex2] = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      in.seek(len - 12)
      val footerStart = in.readLong()
      val magic = in.readInt()
      in.seek(footerStart)
      def blocks(n: Int) = Array.fill(n)((in.readLong(), in.readInt(), in.readInt()))
      magic match {
        case NCZ_MAGIC | NCZ3_MAGIC =>
          val n = in.readInt()
          val rpb = in.readLong()
          val codec = if (magic == NCZ3_MAGIC) in.readByte() else CODEC_DEFLATE
          Left(NczIndex(rpb, blocks(n), codec))
        case NCZ2_MAGIC =>
          val nVars = in.readInt()
          Right(NczIndex2(Array.fill(nVars) {
            val rpb = in.readLong()
            val codec = in.readByte()
            NczVarIndex(rpb, codec, blocks(in.readInt()))
          }))
        case other =>
          throw new IllegalArgumentException(
            s"$path: missing .ncz block-index footer (magic 0x${other.toHexString})")
      }
    } finally in.close()
  }

  def readNczIndex(fs: FileSystem, path: Path): NczIndex =
    readNczAny(fs, path) match {
      case Left(idx) => idx
      case Right(_) => throw new IllegalArgumentException(
        s"$path is a per-variable (v2) .ncz file; use readNczAny")
    }

  /** Open a part file for sequential decoding: plain files come back
    * as the seekable FSDataInputStream; .nc.gz files as a buffered
    * decompressing stream (forward-only). */
  def openData(fs: FileSystem, path: Path): DataInputStream =
    if (isGzip(path))
      new DataInputStream(new BufferedInputStream(new GZIPInputStream(fs.open(path)), 1 << 16))
    else fs.open(path)

  private class Parser(raf: DataInputStream, version: Int) {
    // 32-bit fields are unsigned in the classic spec (begin offsets in
    // a CDF-1 file can exceed 2 GiB) — mask, don't sign-extend
    private def u32(): Long = raf.readInt().toLong & 0xFFFFFFFFL
    def nonNeg(): Long = if (version == 5) raf.readLong() else u32()
    def offset(): Long = if (version == 1) u32() else raf.readLong()
    def name(): String = {
      val n = nonNeg().toInt
      val bytes = new Array[Byte](n)
      raf.readFully(bytes)
      skipFully(raf, pad4(n.toLong).toInt)
      new String(bytes, StandardCharsets.UTF_8)
    }
  }

  /** Parse the header of a classic NetCDF file (any Hadoop FS; .nc.gz
    * part files are decompressed on the fly). */
  def readMeta(fs: FileSystem, path: Path): NcMeta = {
    val raf = openData(fs, path)
    try {
      val magic = new Array[Byte](4)
      raf.readFully(magic)
      require(magic(0) == 'C' && magic(1) == 'D' && magic(2) == 'F',
        s"$path is not a classic NetCDF file")
      val version = magic(3).toInt
      require(version == 1 || version == 2 || version == 5,
        s"unsupported CDF version $version")
      val p = new Parser(raf, version)
      val numRecs = p.nonNeg()
      // dim_list
      val dimTag = raf.readInt()
      val nDims = p.nonNeg().toInt
      require(dimTag == TAG_DIM || (dimTag == 0 && nDims == 0), "bad dim_list")
      val dims = (0 until nDims).map(_ => NcDimMeta(p.name(), p.nonNeg()))
      val gatts = readAttrList(raf, p)
      // var_list
      val varTag = raf.readInt()
      val nVars = p.nonNeg().toInt
      require(varTag == TAG_VAR || (varTag == 0 && nVars == 0), "bad var_list")
      val vars = (0 until nVars).map { _ =>
        val vname = p.name()
        val rank = p.nonNeg().toInt
        val dimIds = (0 until rank).map(_ => p.nonNeg().toInt)
        val atts = readAttrList(raf, p)
        val ncType = raf.readInt()
        val vsize = p.nonNeg()
        val begin = p.offset()
        val isRecord = dimIds.headOption.exists(i => dims(i).isRecord)
        NcVarMeta(vname, ncType, dimIds, vsize, begin, isRecord, rangeOf(atts), atts)
      }
      val meta = NcMeta(version, numRecs, dims, vars, gatts)
      if (version != 5 && numRecs == NUMRECS_STREAMING && meta.recSize > 0) {
        // streaming-mode file: the writer never patched numrecs
        require(!isGzip(path) && !isChunked(path),
          s"$path: streaming-mode numrecs cannot be derived for a compressed file " +
            "(compressed length != data length); patch numrecs before compressing")
        val dataStart = meta.recordVars.map(_.begin).minOption.getOrElse(0L)
        val fileLen = fs.getFileStatus(path).getLen
        meta.copy(numRecs = math.max(0L, (fileLen - dataStart) / meta.recSize))
      } else meta
    } finally raf.close()
  }

  /** Parse a full att_list: NC_CHAR values as UTF-8 text, numeric
    * values widened to doubles. */
  private def readAttrList(raf: DataInputStream, p: Parser): Seq[NcAttr] = {
    val tag = raf.readInt()
    val n = p.nonNeg().toInt
    require(tag == TAG_ATT || (tag == 0 && n == 0), "bad att_list")
    (0 until n).map { _ =>
      val aname = p.name()
      val t = raf.readInt()
      val nelems = p.nonNeg().toInt
      val attr =
        if (t == NC_CHAR) {
          val bytes = new Array[Byte](nelems)
          raf.readFully(bytes)
          NcAttr(aname, t, new String(bytes, StandardCharsets.UTF_8), Nil)
        } else {
          def one(): Double = t match {
            case NC_DOUBLE => raf.readDouble()
            case NC_FLOAT => raf.readFloat().toDouble
            case NC_INT => raf.readInt().toDouble
            case NC_INT64 => raf.readLong().toDouble
            case NC_SHORT => raf.readShort().toDouble
            case NC_BYTE => raf.readByte().toDouble
          }
          NcAttr(aname, t, null, (0 until nelems).map(_ => one()))
        }
      skipFully(raf, pad4(nelems.toLong * typeSize(t)).toInt)
      attr
    }
  }

  /** Zone-map range from a parsed att_list: the CF `actual_range`
    * attribute when present. For NC_INT64 the double widening is
    * padded by one ulp each way so pruning stays conservative beyond
    * 2^53. */
  private def rangeOf(atts: Seq[NcAttr]): Option[(Double, Double)] =
    atts.collectFirst {
      case a if a.name == "actual_range" && a.ncType != NC_CHAR && a.nums.size == 2 =>
        if (a.ncType == NC_INT64) (math.nextDown(a.nums(0)), math.nextUp(a.nums(1)))
        else (a.nums(0), a.nums(1))
    }

  // --------------------------------------------------------------- write

  /** Per-column layout spec: scalar numeric, fixed-length numeric
    * array (an extra dimension of length `extra`), or fixed-width
    * NC_CHAR string. */
  case class VarSpec(name: String, ncType: Int, extra: Int, isString: Boolean, isArray: Boolean) {
    def slab: Int = extra * typeSize(ncType)
  }

  def varSpecOf(f: StructField, arrayLens: Map[String, Int], stringWidth: Int): VarSpec =
    f.dataType match {
      case StringType =>
        VarSpec(f.name, NC_CHAR, stringWidth, isString = true, isArray = false)
      case ArrayType(et, _) =>
        val len = arrayLens.getOrElse(f.name, throw new IllegalArgumentException(
          s"array column ${f.name} needs a declared fixed length"))
        VarSpec(f.name, ncTypeOf(et), len, isString = false, isArray = true)
      case dt => VarSpec(f.name, ncTypeOf(dt), 1, isString = false, isArray = false)
    }

  /** Streaming writer for one .nc part file: every column becomes a
    * record variable along the unlimited `record` dimension — scalar
    * numerics as rank-1 vars, fixed-length arrays as rank-2 vars over
    * a per-column length dimension (the reference's N-D variables),
    * strings as rank-2 NC_CHAR vars. Rows are appended through a chunk
    * buffer of `chunkBytes` (the analogue of the reference's
    * chunk_size_mb budget); numRecs is patched into the header on
    * close, so the record count need not be known up front — exactly
    * the reference's streamNumpyData contract.
    *
    * Values land through typed puts (`putFloat(i, x)`, `putFloats(i,
    * a)`, …, then `endRow()`), written big-endian straight into the
    * block buffer; `writeRow` is a boxed adapter over the same puts.
    *
    * `gatts` / `vatts` are user NC_CHAR attributes (global and
    * per-variable — the reference surfaces netCDF4 file/variable
    * metadata the same way); `fixedVars` are non-record NC_DOUBLE
    * coordinate variables, each over its own fixed dimension, whose
    * data is laid out between the header and the record data exactly
    * as the classic spec requires. */
  final class Writer(path: String, schema: StructType, chunkBytes: Int = 4 << 20,
      arrayLens: Map[String, Int] = Map.empty, stringWidth: Int = 32,
      gatts: Seq[(String, String)] = Nil,
      vatts: Map[String, Seq[(String, String)]] = Map.empty,
      fixedVars: Seq[(String, Array[Double])] = Nil,
      /** store record data as independently compressed blocks with an
        * index footer (.ncz — see [[isChunked]]): blocks shuffled at
        * element size 4 by [[ChunkCodec.shuffle]], then deflated at
        * level 4, under a [[NCZ3_MAGIC]] footer unless the per-variable
        * maps below ask for v2. The header (and its close-time
        * numrecs/zone-map patches) stays uncompressed. */
      compressChunks: Boolean = false,
      /** typed NC_DOUBLE per-variable attributes (value vectors) —
        * the CF-conventions metadata slots (scale_factor, add_offset,
        * valid_range, …) are typed numerics, not text. */
      dvatts: Map[String, Seq[(String, Array[Double])]] = Map.empty,
      /** typed NC_DOUBLE GLOBAL attributes (value vectors) — file-level
        * numeric metadata (geospatial bounds, grid spacing, version
        * numbers), the global counterpart of [[dvatts]]. */
      dgatts: Seq[(String, Array[Double])] = Nil,
      /** per-variable block-size budgets in bytes (netCDF4's
        * `chunksizes=`): any named variable buffers its own blocks of
        * ~this many bytes; others inherit `chunkBytes`. Non-empty maps
        * switch the .ncz sink to the var-major v2 layout
        * ([[NCZ2_MAGIC]]). Requires `compressChunks`. */
      varChunkBytes: Map[String, Int] = Map.empty,
      /** per-variable codec (netCDF4's `zlib=`): "deflate" (default,
        * level 4 — per-block store fallback when deflate doesn't
        * shrink), "zstd" (level 3) or "store" (never run deflate:
        * the right call for high-entropy columns, where at 100 TB
        * attempted-then-discarded compression is pure wasted CPU).
        * Requires `compressChunks`. */
      varCodecs: Map[String, String] = Map.empty) {
    private val specs: Array[VarSpec] =
      schema.fields.map(f => varSpecOf(f, arrayLens, stringWidth))
    require(vatts.keySet.subsetOf(schema.fieldNames.toSet),
      s"vatts for unknown columns: ${vatts.keySet -- schema.fieldNames}")
    require(dvatts.keySet.subsetOf(schema.fieldNames.toSet),
      s"dvatts for unknown columns: ${dvatts.keySet -- schema.fieldNames}")
    require(varChunkBytes.keySet.subsetOf(schema.fieldNames.toSet),
      s"varChunkBytes for unknown columns: ${varChunkBytes.keySet -- schema.fieldNames}")
    require(varCodecs.keySet.subsetOf(schema.fieldNames.toSet),
      s"varCodecs for unknown columns: ${varCodecs.keySet -- schema.fieldNames}")
    require(varCodecs.values.forall(Set("store", "deflate", "zstd")),
      s"varCodecs values must be store|deflate|zstd: ${varCodecs.values.toSet}")
    require(compressChunks || (varChunkBytes.isEmpty && varCodecs.isEmpty),
      "per-variable chunk/codec maps require compressChunks (.ncz)")
    private val version = if (specs.exists(_.ncType == NC_INT64)) 5 else 2
    private val single = schema.size == 1
    private val slabPad: Array[Int] =
      specs.map(v => if (single) 0 else pad4(v.slab.toLong).toInt)
    // extra dims follow the record dim: one per array/string column,
    // then one per fixed variable
    private val extraDims: Seq[(String, Long)] = specs.toSeq
      .filter(v => v.isArray || v.isString)
      .map(v => (s"${v.name}_dim", v.extra.toLong)) ++
      fixedVars.map { case (n, vs) => (s"${n}_dim", vs.length.toLong) }
    private val dimIdOf: Map[String, Int] =
      extraDims.zipWithIndex.map { case ((n, _), i) => n -> (i + 1) }.toMap
    private var numRecs = 0L
    // zone-map tracking for scalar numeric vars: exact Long range for
    // the integer family, Double range for float/double
    private val isTracked: Array[Boolean] =
      specs.map(v => !v.isArray && !v.isString)
    private val minL = Array.fill(specs.length)(Long.MaxValue)
    private val maxL = Array.fill(specs.length)(Long.MinValue)
    private val minD = Array.fill(specs.length)(Double.PositiveInfinity)
    private val maxD = Array.fill(specs.length)(Double.NegativeInfinity)
    /** absolute offset of each tracked var's actual_range value bytes */
    private val rangeValueOffset = Array.fill(specs.length)(-1L)
    private val headerBytes = buildHeader()
    // whole blocks bypass this buffer; it only batches the header,
    // fixed variables and footer
    private val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(path), 1 << 16))
    out.write(headerBytes)
    // fixed (non-record) variable data sits between the header and the
    // record data, each slab padded to a 4-byte boundary (uncompressed
    // in .ncz too — coordinate-scale data, and readFixedVar seeks to it)
    fixedVars.foreach { case (_, vs) =>
      vs.foreach(out.writeDouble)
      (0 until pad4(8L * vs.length).toInt).foreach(_ => out.writeByte(0))
    }

    // --- record sink: typed puts into reused block buffers ---
    /** per-variable record stride (slab + inter-var pad), the unit every
      * block layout is built from */
    private val strideW: Array[Int] =
      specs.indices.map(i => specs(i).slab.toInt + slabPad(i)).toArray
    private val recSizeW: Long = strideW.map(_.toLong).sum
    /** var-major v2 layout: engaged by any per-variable option */
    private val v2: Boolean =
      compressChunks && (varChunkBytes.nonEmpty || varCodecs.nonEmpty)

    /** One block buffer: `rpb` records of `stride` bytes each, flushed
      * through `codec` when full. Plain `.nc` files and the interleaved
      * `.ncz` layout use one block holding whole records; v2 uses one
      * per variable. A negative codec writes the block through with no
      * index entry (plain `.nc`). The array grows on demand up to
      * `rpb * stride`, so a short file never allocates a full block. */
    private final class Block(val rpb: Int, val stride: Int, val codec: Int) {
      var bytes: Array[Byte] = Array.emptyByteArray
      var bb: ByteBuffer = ByteBuffer.wrap(bytes)
      var recs = 0
      val index = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
      /** make room for record `recs` */
      def ensure(): Unit = {
        val need = (recs + 1) * stride
        if (need > bytes.length) {
          // need <= rpb * stride <= max(chunkBytes, stride)
          bytes = java.util.Arrays.copyOf(bytes,
            math.min(rpb.toLong * stride, math.max(need, 2L * bytes.length)).toInt)
          bb = ByteBuffer.wrap(bytes)
        }
      }
    }

    private val blocks: Array[Block] =
      if (v2) specs.indices.map { i =>
        val rpb = math.max(1L, varChunkBytes.getOrElse(specs(i).name, chunkBytes).toLong
          / math.max(strideW(i).toLong, 1L)).toInt
        val codec = varCodecs.getOrElse(specs(i).name, "deflate") match {
          case "store" => CODEC_STORE
          case "zstd" => CODEC_ZSTD
          case _ => CODEC_DEFLATE
        }
        new Block(rpb, strideW(i), codec)
      }.toArray
      else Array(new Block(math.max(1L, chunkBytes / math.max(recSizeW, 1L)).toInt,
        recSizeW.toInt, if (compressChunks) CODEC_SHUFFLE4_DEFLATE else -1))
    blocks.foreach(_.ensure())
    /** each column's block and its slab offset within a record of it */
    private val colBlock: Array[Block] = specs.indices.map(i => blocks(if (v2) i else 0)).toArray
    private val colOff: Array[Int] =
      if (v2) new Array[Int](specs.length) else strideW.scanLeft(0)(_ + _).init
    private var filePos: Long = headerBytes.length.toLong +
      fixedVars.map { case (_, vs) => val sz = 8L * vs.length; sz + pad4(sz) }.sum

    /** one chunk codec per writer (its deflate state and buffers reused
      * for every block), ended at close or discard */
    private val blockCodec = new ChunkCodec

    /** Write a full or tail block through its codec. Store-vs-compress
      * per block: a block its codec does not shrink is kept raw (and
      * unshuffled), marked by a negative length in the index. */
    private def flush(b: Block): Unit = if (b.recs > 0) {
      val len = b.recs * b.stride
      val n = b.codec match {
        case CODEC_DEFLATE => blockCodec.deflate(b.bytes, len, DEFLATE_LEVEL, 1)
        case CODEC_SHUFFLE4_DEFLATE => blockCodec.deflate(b.bytes, len, DEFLATE_LEVEL, 4)
        case CODEC_ZSTD => blockCodec.zstd(b.bytes, len, ZSTD_LEVEL, 1, path)
        case _ => -1
      }
      if (n >= 0) {
        out.write(blockCodec.out, 0, n)
        b.index += ((filePos, n, b.recs))
        filePos += n
      } else {
        out.write(b.bytes, 0, len)
        if (b.codec >= 0) b.index += ((filePos, -len, b.recs))
        filePos += len
      }
      b.recs = 0
    }
    private def nonNegBytes(v: Long): Array[Byte] =
      if (version == 5) ByteBuffer.allocate(8).putLong(v).array()
      else ByteBuffer.allocate(4).putInt(v.toInt).array()

    private def buildHeader(): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(buf)
      val nnW = if (version == 5) 8 else 4
      def nn(v: Long): Unit = d.write(nonNegBytes(v))
      def name(s: String): Unit = {
        val b = s.getBytes(StandardCharsets.UTF_8)
        nn(b.length.toLong); d.write(b)
        (0 until pad4(b.length.toLong).toInt).foreach(_ => d.writeByte(0))
      }
      def utf8Len(s: String): Int = s.getBytes(StandardCharsets.UTF_8).length
      def nameLen(s: String): Int = { val nb = utf8Len(s); nnW + nb + pad4(nb.toLong).toInt }
      // one user NC_CHAR attribute: name + nc_type + nelems + padded value
      def charAttrLen(kv: (String, String)): Int =
        nameLen(kv._1) + 4 + nnW + { val vb = utf8Len(kv._2); vb + pad4(vb.toLong).toInt }
      def writeCharAttr(kv: (String, String)): Unit = {
        name(kv._1)
        d.writeInt(NC_CHAR)
        val b = kv._2.getBytes(StandardCharsets.UTF_8)
        nn(b.length.toLong); d.write(b)
        (0 until pad4(b.length.toLong).toInt).foreach(_ => d.writeByte(0))
      }
      // one typed NC_DOUBLE attribute: 8-byte elements need no padding
      def dblAttrLen(kv: (String, Array[Double])): Int =
        nameLen(kv._1) + 4 + nnW + 8 * kv._2.length
      def writeDblAttr(kv: (String, Array[Double])): Unit = {
        name(kv._1)
        d.writeInt(NC_DOUBLE)
        nn(kv._2.length.toLong)
        kv._2.foreach(d.writeDouble)
      }
      d.writeBytes("CDF"); d.writeByte(version)
      nn(0L) // numRecs placeholder (patched on close)
      // dim_list: unlimited `record` + one fixed dim per array/string
      // var + one per fixed variable
      d.writeInt(TAG_DIM); nn(1L + extraDims.size)
      name("record"); nn(0L)
      extraDims.foreach { case (dn, dl) => name(dn); nn(dl) }
      // gatt_list: user global attributes (NC_CHAR text + typed NC_DOUBLE)
      if (gatts.isEmpty && dgatts.isEmpty) { d.writeInt(0); nn(0L) }
      else {
        d.writeInt(TAG_ATT); nn((gatts.size + dgatts.size).toLong)
        gatts.foreach(writeCharAttr)
        dgatts.foreach(writeDblAttr)
      }
      // var_list: record vars then fixed coordinate vars
      d.writeInt(TAG_VAR); nn(schema.size.toLong + fixedVars.size)
      // two passes: sizes depend only on names/types/ranks/attrs, so
      // compute the header length first, then assign begins
      // scalar numeric vars carry a 2-element actual_range attribute
      // (CF convention) whose value bytes are patched on close
      val rangeAttrLen: Int => Int = i =>
        if (!isTracked(i)) 0
        else {
          val valueBytes = 2 * typeSize(specs(i).ncType)
          nameLen("actual_range") + 4 + nnW + valueBytes + pad4(valueBytes.toLong).toInt
        }
      val userAttrs: Int => Seq[(String, String)] = i => vatts.getOrElse(specs(i).name, Nil)
      val userDblAttrs: Int => Seq[(String, Array[Double])] =
        i => dvatts.getOrElse(specs(i).name, Nil)
      val varHeaderLen = specs.zipWithIndex.map { case (v, i) =>
        val rank = if (v.isArray || v.isString) 2 else 1
        nameLen(v.name) +
          nnW + // rank
          rank * nnW + // dimids
          (4 + nnW) + userAttrs(i).map(charAttrLen).sum +
          userDblAttrs(i).map(dblAttrLen).sum + rangeAttrLen(i) + // vatt_list
          4 + // nc_type
          nnW + // vsize
          8 // begin (CDF-2/5)
      }.sum
      val fixedHeaderLen = fixedVars.map { case (n, _) =>
        nameLen(n) + nnW + nnW + (4 + nnW) + 4 + nnW + 8
      }.sum
      val headerLen = buf.size() + varHeaderLen + fixedHeaderLen
      var begin = headerLen + pad4(headerLen.toLong)
      // fixed variable data precedes record data
      val fixedBegins = fixedVars.map { case (_, vs) =>
        val b = begin
        begin += { val sz = 8L * vs.length; sz + pad4(sz) }
        b
      }
      specs.zipWithIndex.foreach { case (v, i) =>
        name(v.name)
        if (v.isArray || v.isString) {
          nn(2L); nn(0L); nn(dimIdOf(s"${v.name}_dim").toLong)
        } else {
          nn(1L); nn(0L)
        }
        val nAtts = userAttrs(i).size + userDblAttrs(i).size + (if (isTracked(i)) 1 else 0)
        if (nAtts == 0) { d.writeInt(0); nn(0L) } // absent vatt_list
        else {
          d.writeInt(TAG_ATT); nn(nAtts.toLong)
          userAttrs(i).foreach(writeCharAttr)
          userDblAttrs(i).foreach(writeDblAttr)
          if (isTracked(i)) {
            name("actual_range")
            d.writeInt(v.ncType); nn(2L)
            rangeValueOffset(i) = buf.size().toLong
            val valueBytes = 2 * typeSize(v.ncType)
            (0 until valueBytes + pad4(valueBytes.toLong).toInt)
              .foreach(_ => d.writeByte(0)) // placeholder, patched on close
          }
        }
        d.writeInt(v.ncType)
        nn(v.slab.toLong + slabPad(i))
        d.writeLong(begin)
        begin += v.slab + slabPad(i)
      }
      fixedVars.zip(fixedBegins).foreach { case ((n, vs), b) =>
        name(n)
        nn(1L); nn(dimIdOf(s"${n}_dim").toLong)
        d.writeInt(0); nn(0L) // no vatts on coordinate vars
        d.writeInt(NC_DOUBLE)
        nn({ val sz = 8L * vs.length; sz + pad4(sz) })
        d.writeLong(b)
      }
      // NOTE: record var begins point at each var's slab offset within
      // record 0; successive records advance by recSize.
      val bytes = buf.toByteArray
      bytes ++ new Array[Byte](pad4(bytes.length.toLong).toInt)
    }

    // typed puts: big-endian straight into the column's block buffer,
    // at column `i`'s slab in the current record; each column is put
    // once per record, then endRow() commits the record
    /** what a column takes: its nc_type, +16 for arrays, -1 for strings */
    private val kind: Array[Int] =
      specs.map(v => if (v.isString) -1 else if (v.isArray) v.ncType + 16 else v.ncType)
    private def at(i: Int): Int = { val b = colBlock(i); b.recs * b.stride + colOff(i) }
    private def check(i: Int, k: Int): Unit =
      if (kind(i) != k) throw new IllegalArgumentException(
        s"column ${specs(i).name} takes kind ${kind(i)}, not $k " +
          "(its nc_type, +16 for an array, -1 for a string)")
    private def trackL(i: Int, l: Long): Unit = {
      if (l < minL(i)) minL(i) = l
      if (l > maxL(i)) maxL(i) = l
    }
    private def trackD(i: Int, dv: Double): Unit = {
      if (dv < minD(i)) minD(i) = dv
      if (dv > maxD(i)) maxD(i) = dv
    }

    def putDouble(i: Int, x: Double): Unit = {
      check(i, NC_DOUBLE); colBlock(i).bb.putDouble(at(i), x); trackD(i, x)
    }
    def putFloat(i: Int, x: Float): Unit = {
      check(i, NC_FLOAT); colBlock(i).bb.putFloat(at(i), x); trackD(i, x.toDouble)
    }
    def putInt(i: Int, x: Int): Unit = {
      check(i, NC_INT); colBlock(i).bb.putInt(at(i), x); trackL(i, x.toLong)
    }
    def putLong(i: Int, x: Long): Unit = {
      check(i, NC_INT64); colBlock(i).bb.putLong(at(i), x); trackL(i, x)
    }
    def putShort(i: Int, x: Short): Unit = {
      check(i, NC_SHORT); colBlock(i).bb.putShort(at(i), x); trackL(i, x.toLong)
    }
    def putByte(i: Int, x: Byte): Unit = {
      check(i, NC_BYTE); colBlock(i).bb.put(at(i), x); trackL(i, x.toLong)
    }

    private def checkLen(i: Int, n: Int): Unit =
      require(n == specs(i).extra,
        s"array column ${specs(i).name}: row has $n elements, declared ${specs(i).extra}")
    def putDoubles(i: Int, a: Array[Double]): Unit = {
      check(i, NC_DOUBLE + 16); checkLen(i, a.length)
      val bb = colBlock(i).bb; val p = at(i); var k = 0
      while (k < a.length) { bb.putDouble(p + 8 * k, a(k)); k += 1 }
    }
    def putFloats(i: Int, a: Array[Float]): Unit = {
      check(i, NC_FLOAT + 16); checkLen(i, a.length)
      val bb = colBlock(i).bb; val p = at(i); var k = 0
      while (k < a.length) { bb.putFloat(p + 4 * k, a(k)); k += 1 }
    }
    def putInts(i: Int, a: Array[Int]): Unit = {
      check(i, NC_INT + 16); checkLen(i, a.length)
      val bb = colBlock(i).bb; val p = at(i); var k = 0
      while (k < a.length) { bb.putInt(p + 4 * k, a(k)); k += 1 }
    }
    def putLongs(i: Int, a: Array[Long]): Unit = {
      check(i, NC_INT64 + 16); checkLen(i, a.length)
      val bb = colBlock(i).bb; val p = at(i); var k = 0
      while (k < a.length) { bb.putLong(p + 8 * k, a(k)); k += 1 }
    }

    /** UTF-8 bytes of a string column, truncated or NUL-padded to the
      * declared width. */
    def putString(i: Int, utf8: Array[Byte]): Unit = {
      check(i, -1)
      val b = colBlock(i); val p = at(i); val w = specs(i).extra
      val n = math.min(utf8.length, w)
      System.arraycopy(utf8, 0, b.bytes, p, n)
      java.util.Arrays.fill(b.bytes, p + n, p + w, 0.toByte)
    }

    /** Commit the record whose columns were just put. */
    def endRow(): Unit = {
      numRecs += 1
      var j = 0
      while (j < blocks.length) {
        val b = blocks(j)
        b.recs += 1
        if (b.recs == b.rpb) flush(b)
        b.ensure()
        j += 1
      }
    }

    /** Append one record: an adapter over the typed puts. `get(i)` must
      * return: scalar columns — the boxed value of the column's own
      * type; array columns — an array of exactly the declared length;
      * string columns — Array[Byte] (UTF-8), truncated/padded to the
      * declared width. A value of another type fails with a
      * ClassCastException. */
    def writeRow(get: Int => Any): Unit = {
      var i = 0
      while (i < specs.length) {
        val x = get(i)
        kind(i) match {
          case -1 => putString(i, x.asInstanceOf[Array[Byte]])
          case NC_DOUBLE => putDouble(i, x.asInstanceOf[java.lang.Double])
          case NC_FLOAT => putFloat(i, x.asInstanceOf[java.lang.Float])
          case NC_INT => putInt(i, x.asInstanceOf[java.lang.Integer])
          case NC_INT64 => putLong(i, x.asInstanceOf[java.lang.Long])
          case NC_SHORT => putShort(i, x.asInstanceOf[java.lang.Short])
          case NC_BYTE => putByte(i, x.asInstanceOf[java.lang.Byte])
          case k => x match {
            case a: Array[Double] if k == NC_DOUBLE + 16 => putDoubles(i, a)
            case a: Array[Float] if k == NC_FLOAT + 16 => putFloats(i, a)
            case a: Array[Int] if k == NC_INT + 16 => putInts(i, a)
            case a: Array[Long] if k == NC_INT64 + 16 => putLongs(i, a)
            case _ =>
              // boxed elements, or an array type without a bulk put
              val a = x.asInstanceOf[Array[_]]
              checkLen(i, a.length)
              val bb = colBlock(i).bb
              val ts = typeSize(k - 16)
              val p = at(i)
              var e = 0
              while (e < a.length) {
                val q = p + e * ts
                k - 16 match {
                  case NC_DOUBLE => bb.putDouble(q, a(e).asInstanceOf[java.lang.Double])
                  case NC_FLOAT => bb.putFloat(q, a(e).asInstanceOf[java.lang.Float])
                  case NC_INT => bb.putInt(q, a(e).asInstanceOf[java.lang.Integer])
                  case NC_INT64 => bb.putLong(q, a(e).asInstanceOf[java.lang.Long])
                  case NC_SHORT => bb.putShort(q, a(e).asInstanceOf[java.lang.Short])
                  case NC_BYTE => bb.put(q, a(e).asInstanceOf[java.lang.Byte])
                }
                e += 1
              }
          }
        }
        i += 1
      }
      endRow()
    }

    /** Give up on the file: close the stream and free the codec
      * without writing the tail, footer or header patches. The caller
      * deletes the file. */
    def discard(): Unit =
      try out.close()
      catch { case _: java.io.IOException => }
      finally blockCodec.end()

    def close(): Unit = {
      try blocks.foreach(flush) // partial tail blocks
      finally blockCodec.end()
      if (v2) {
        val footerStart = filePos
        out.writeInt(specs.length)
        blocks.foreach { b =>
          out.writeLong(b.rpb.toLong)
          out.writeByte(b.codec)
          out.writeInt(b.index.size)
          b.index.foreach { case (off, clen, nrecs) =>
            out.writeLong(off); out.writeInt(clen); out.writeInt(nrecs)
          }
        }
        out.writeLong(footerStart)
        out.writeInt(NCZ2_MAGIC)
      } else if (compressChunks) {
        val b = blocks(0)
        val footerStart = filePos
        out.writeInt(b.index.size)
        out.writeLong(b.rpb.toLong)
        out.writeByte(b.codec)
        b.index.foreach { case (off, clen, nrecs) =>
          out.writeLong(off); out.writeInt(clen); out.writeInt(nrecs)
        }
        out.writeLong(footerStart)
        out.writeInt(NCZ3_MAGIC)
      }
      out.close()
      val raf = new RandomAccessFile(path, "rw")
      try {
        raf.seek(4)
        raf.write(nonNegBytes(numRecs))
        // patch the per-var actual_range zone maps (only when records
        // were written; zero-record files keep the zero placeholder and
        // are pruned by numRecs anyway)
        if (numRecs > 0) {
          specs.indices.foreach { i =>
            if (isTracked(i)) {
              raf.seek(rangeValueOffset(i))
              specs(i).ncType match {
                case NC_DOUBLE => raf.writeDouble(minD(i)); raf.writeDouble(maxD(i))
                case NC_FLOAT =>
                  raf.writeFloat(minD(i).toFloat); raf.writeFloat(maxD(i).toFloat)
                case NC_INT => raf.writeInt(minL(i).toInt); raf.writeInt(maxL(i).toInt)
                case NC_INT64 => raf.writeLong(minL(i)); raf.writeLong(maxL(i))
                case NC_SHORT =>
                  raf.writeShort(minL(i).toInt); raf.writeShort(maxL(i).toInt)
                case NC_BYTE => raf.writeByte(minL(i).toInt); raf.writeByte(maxL(i).toInt)
              }
            }
          }
        }
      } finally raf.close()
    }
  }

  // ---------------------------------------------------------- chunk read

  /** Chunked reader over a record range [r0, r1) of one file —
    * yieldNumpyData semantics: pulls up to `maxRun` records into one
    * buffer per call, for the requested variables only. As the classic
    * container's [[RecordRuns]] it fills them into column vectors through
    * [[ColumnFill]]; typed per-record accessors serve direct callers. */
  final class RangeReader(
      fs: FileSystem,
      path: Path,
      meta: NcMeta,
      r0: Long,
      r1: Long,
      wanted: Seq[String],
      chunkBytes: Int = 4 << 20) extends RecordRuns {

    private val raf = openData(fs, path)
    // chunk loads move strictly forward through the record range, so a
    // decompressing (forward-only) stream works: seeks become skips.
    private var pos = 0L
    private def seekTo(target: Long): Unit = raf match {
      case s: FSDataInputStream => s.seek(target); pos = target
      case _ =>
        require(target >= pos,
          s"$path: compressed NetCDF input is forward-only (at $pos, asked $target)")
        var left = target - pos
        while (left > 0) {
          val sk = raf.skip(left)
          if (sk <= 0) throw new EOFException(s"failed to skip to $target in $path")
          left -= sk
        }
        pos = target
    }
    private val recSize = meta.recSize
    /** .ncz: block-index footer; chunk loads become (seek, readFully
      * compLen, inflate) per block — random access into compressed
      * data, which is what makes the file splittable. */
    /** v2 (per-variable) block index, when the footer is var-major. */
    private var ncz2: NczIndex2 = null
    private val nczIdx: NczIndex = if (isChunked(path)) {
      readNczAny(fs, path) match {
        case Left(v1) => v1
        case Right(v2) => ncz2 = v2; null
      }
    } else {
      // loud-reject posture: a block-compressed file misnamed `.nc`
      // would otherwise decode deflate streams as record bytes —
      // silent garbage. One 4-byte tail read per reader open (plain
      // seekable inputs only; gzip streams are forward-only and their
      // .gz name IS the codec contract).
      raf match {
        case s: FSDataInputStream =>
          val len = fs.getFileStatus(path).getLen
          if (len >= 12) {
            s.seek(len - 12)
            val tail = new Array[Byte](12)
            s.readFully(tail)
            val bb = java.nio.ByteBuffer.wrap(tail)
            val footerStart = bb.getLong
            val magic = bb.getInt
            // magic alone could collide with record data (2^-32); a
            // colliding file would also need a valid footer pointer
            if ((magic == NCZ_MAGIC || magic == NCZ2_MAGIC || magic == NCZ3_MAGIC) &&
                footerStart >= 0 && footerStart <= len - 12)
              throw new java.io.IOException(
                s"$path: block-compressed (.ncz) footer magic in a file not named .ncz — " +
                  "rename it or read it through the .ncz path")
            s.seek(0L)
          }
        case _ =>
      }
      null
    }

    /** (var, offsetWithinRecord) for requested vars, in request order. */
    private val slots: Seq[(NcVarMeta, Long)] = {
      var off = 0L
      val offsets = meta.recordVars.map { v =>
        val o = off
        val s = v.slabSize(meta.dims)
        off += (if (meta.recordVars.size == 1) s else s + pad4(s))
        v.name -> (v, o)
      }.toMap
      wanted.map(offsets(_))
    }

    /** v2 assembly plan per wanted var: (index into ncz2.vars — header
      * var order, record stride, interleave offset within the record). */
    private val v2Slots: Array[(Int, Int, Int)] = if (ncz2 == null) null else {
      var off = 0L
      val byName = meta.recordVars.zipWithIndex.map { case (v, j) =>
        val s = v.slabSize(meta.dims)
        val stride = if (meta.recordVars.size == 1) s else s + pad4(s)
        val o = off
        off += stride
        v.name -> ((j, stride.toInt, o.toInt))
      }.toMap
      wanted.map(byName(_)).toArray
    }
    // one-block inflate cache per wanted var: sequential chunk loads
    // re-slice the same var block until it is exhausted, so each block
    // is read+inflated exactly once per partition interior
    private val v2Cache: Array[Array[Byte]] =
      if (ncz2 == null) null else Array.fill(wanted.size)(Array.emptyByteArray)
    private val v2CacheBlock: Array[Int] =
      if (ncz2 == null) null else Array.fill(wanted.size)(-1)

    val maxRun: Int =
      if (ncz2 != null) {
        // the chunk grid follows the finest-chunked WANTED var (others
        // are sliced from their cached larger blocks); count-only scans
        // (no wanted vars) just need any bounded stride
        val rs: Seq[Long] =
          if (v2Slots.nonEmpty) v2Slots.toSeq.map(t => ncz2.vars(t._1).recordsPerBlock)
          else ncz2.vars.toSeq.map(_.recordsPerBlock)
        math.max(1L, rs.min).toInt
      } else if (nczIdx != null) nczIdx.recordsPerBlock.toInt
      else math.max(1L, chunkBytes / math.max(recSize, 1L)).toInt
    private val dataStart: Long = meta.recordVars.map(_.begin).minOption.getOrElse(0L)

    private var next = r0
    private var buf: Array[Byte] = Array.emptyByteArray
    /** big-endian view of `buf`, re-made whenever `buf` grows */
    private var bb: ByteBuffer = ByteBuffer.wrap(buf)
    private def growBuf(bytes: Int): Unit =
      if (buf.length < bytes) { buf = new Array[Byte](bytes); bb = ByteBuffer.wrap(buf) }

    def hasNext: Boolean = next < r1

    /** Load the next chunk; returns the number of records loaded. */
    def loadChunk(): Int =
      if (ncz2 != null) loadNcz2Chunk()
      else if (nczIdx != null) loadNczBlock() else {
      val n = math.min(maxRun.toLong, r1 - next).toInt
      val bytes = (n * recSize).toInt
      growBuf(bytes)
      seekTo(dataStart + next * recSize)
      raf.readFully(buf, 0, bytes)
      pos += bytes
      next += n
      n
    }

    /** .ncz chunk load: inflate the block covering `next` and expose
      * its in-range records. A partition whose bounds are not
      * block-aligned re-inflates only its two boundary blocks (the
      * autotuned split size is a multiple of the chunk size, so with
      * matching chunkBytes the bounds align and nothing is re-read). */
    private def loadNczBlock(): Int = {
      val rpb = nczIdx.recordsPerBlock
      val b = (next / rpb).toInt
      val (off, clen, nrecs) = nczIdx.blocks(b)
      val rawLen = nrecs * recSize.toInt
      growBuf(rawLen)
      decodeBlock("(all record variables)", b, nczIdx.codec, off, clen, rawLen, buf)
      val startInBlock = (next - b * rpb).toInt
      val n = math.min(nrecs.toLong - startInBlock, r1 - next).toInt
      // shift the in-range records to the front so slot offsets (which
      // assume the loaded run starts at buf(0)) stay uniform
      if (startInBlock > 0)
        System.arraycopy(buf, startInBlock * recSize.toInt, buf, 0, n * recSize.toInt)
      next += n
      n
    }

    /** v2 (per-variable blocks) chunk load: the chunk extent stops at
      * the nearest wanted-var block boundary; each wanted var's covering
      * block is read+inflated once (per-var cache) and its record slabs
      * are interleaved into `buf` at the var's record offset, so every
      * accessor keeps the uniform record-major layout. Variables NOT in
      * the projection are never read — columnar pruning the interleaved
      * v1 layout cannot do. */
    private def loadNcz2Chunk(): Int = {
      var n: Long = r1 - next
      var s = 0
      while (s < v2Slots.length) {
        val rpb = ncz2.vars(v2Slots(s)._1).recordsPerBlock
        val boundary = (next / rpb + 1L) * rpb
        if (boundary - next < n) n = boundary - next
        s += 1
      }
      if (n > maxRun) n = maxRun // count-only scans
      val nI = n.toInt
      val bytes = nI * recSize.toInt
      growBuf(bytes)
      s = 0
      while (s < v2Slots.length) {
        val (vj, stride, slotOff) = v2Slots(s)
        val vi = ncz2.vars(vj)
        val rpb = vi.recordsPerBlock
        val b = (next / rpb).toInt
        if (v2CacheBlock(s) != b) {
          val (off, clen, nrecs) = vi.blocks(b)
          val rawLen = nrecs * stride
          if (v2Cache(s).length < rawLen) v2Cache(s) = new Array[Byte](rawLen)
          decodeBlock(s"variable ${meta.recordVars(vj).name}", b, vi.codec, off, clen, rawLen,
            v2Cache(s))
          v2CacheBlock(s) = b
        }
        val startInBlock = (next - b.toLong * rpb).toInt
        val src = v2Cache(s)
        var k = 0
        while (k < nI) {
          System.arraycopy(src, (startInBlock + k) * stride, buf, k * recSize.toInt + slotOff, stride)
          k += 1
        }
        s += 1
      }
      next += nI
      nI
    }

    /** block decoding state, reused across blocks and ended at close */
    private val blockCodec = new ChunkCodec

    /** Decode one .ncz block of any layout (`GRFZ`, `GRF3`, v2) into
      * `dst[0, rawLen)`: a stored block (negative length) is read raw,
      * a compressed one goes through its footer's codec byte. `what`
      * names the block's variable for errors. */
    private def decodeBlock(what: String, b: Int, codec: Byte, off: Long, clen: Int,
        rawLen: Int, dst: Array[Byte]): Unit = {
      def where = s"$path: $what, block $b, codec $codec"
      def fail(msg: String) = throw new java.io.IOException(s"$where: $msg")
      if (codec < CODEC_STORE || codec > CODEC_SHUFFLE4_DEFLATE)
        fail("unknown codec (0 store, 1 deflate, 2 zstd, 3 shuffle4+deflate)")
      seekTo(off)
      if (clen <= 0) {
        // stored block (incompressible): raw bytes, no inflation
        require(-clen == rawLen, s"$path $what block $b: stored ${-clen} != $rawLen bytes")
        raf.readFully(dst, 0, rawLen)
        pos += rawLen
      } else {
        if (codec == CODEC_STORE) fail(s"a compressed length ($clen) under the store codec")
        val comp = blockCodec.staging(clen)
        raf.readFully(comp, 0, clen)
        pos += clen
        if (codec == CODEC_ZSTD) blockCodec.unzstd(comp, clen, dst, rawLen, 1, where)
        else blockCodec.inflate(comp, clen, dst, rawLen,
          if (codec == CODEC_SHUFFLE4_DEFLATE) 4 else 1, where)
      }
    }

    private val slotOff: Array[Int] = slots.map(_._2.toInt).toArray
    private val recSizeI: Int = recSize.toInt
    private def slotBase(slot: Int, i: Int): Int = i * recSizeI + slotOff(slot)
    /** elements per record of each slot (bytes, for NC_CHAR) */
    private val slotWidth: Array[Int] =
      slots.map { case (v, _) => (v.slabSize(meta.dims) / typeSize(v.ncType)).toInt }.toArray

    def nextRun(): Int = if (hasNext) loadChunk() else 0

    /** Big-endian records at the record stride: the shared fill. */
    def fill(slot: Int, c: WritableColumnVector, n: Int): Unit =
      ColumnFill.fixed(c, n, buf, ByteOrder.BIG_ENDIAN, slotOff(slot), recSizeI, slotWidth(slot))

    def getFloatElem(slot: Int, i: Int, k: Int): Float =
      bb.getFloat(slotBase(slot, i) + 4 * k)
    def getDoubleAt(slot: Int, i: Int): Double = bb.getDouble(slotBase(slot, i))
    def getIntAt(slot: Int, i: Int): Int = bb.getInt(slotBase(slot, i))
    def getLongAt(slot: Int, i: Int): Long = bb.getLong(slotBase(slot, i))
    def getShortAt(slot: Int, i: Int): Short = bb.getShort(slotBase(slot, i))

    /** Read slot `slot` of in-chunk record `i` boxed in its own type.
      * NC_CHAR slabs come back as Array[Byte] (zero-trimmed by the
      * caller); multi-element numeric slabs as Array[_]. */
    def getValue(slot: Int, i: Int): Any = {
      val v = slots(slot)._1
      val base = slotBase(slot, i)
      val nElems = slotWidth(slot)
      def scalar(pos: Int): Any = v.ncType match {
        case NC_DOUBLE => bb.getDouble(pos)
        case NC_FLOAT => bb.getFloat(pos)
        case NC_INT => bb.getInt(pos)
        case NC_INT64 => bb.getLong(pos)
        case NC_SHORT => bb.getShort(pos)
        case NC_BYTE | NC_CHAR => buf(pos)
      }
      if (v.ncType == NC_CHAR) {
        java.util.Arrays.copyOfRange(buf, base, base + nElems)
      } else if (nElems > 1) {
        val ts = typeSize(v.ncType)
        Array.tabulate[Any](nElems)(k => scalar(base + k * ts))
      } else scalar(base)
    }

    def close(): Unit =
      try raf.close()
      finally blockCodec.end()
  }
}

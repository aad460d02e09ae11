package graft.sources.netcdf

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._

/** From-scratch read/write subset of the HDF5 file format — the
  * container every real `netCDF4.Dataset` file actually is. The
  * reference library wraps netCDF4/HDF5, so a user's existing files
  * on disk are HDF5; this module implements, from the PUBLIC format
  * spec (HDF5 File Format Specification v3.0, support.hdfgroup.org),
  * exactly the subset netCDF-4 uses:
  *
  *  - superblock v0 (the netCDF4 library's default "earliest" format)
  *    and v2 (the 1.8+ "latest" format) — read both, write either;
  *  - object headers v1 (prefix + typed messages) and v2 (`OHDR`,
  *    Jenkins-lookup3-checksummed) including message continuations;
  *  - groups: old-style symbol tables (B-tree v1 `TREE` + local
  *    `HEAP` + `SNOD` nodes) and new-style compact Link messages;
  *  - datasets: Dataspace (v1/v2), Datatype (fixed-point, IEEE float,
  *    fixed string classes), Fill Value, Data Layout v3 (chunked +
  *    contiguous), Filter Pipeline (v1/v2) with the deflate and
  *    shuffle filters (ids 1 + 2 — the `zlib=True, shuffle=True`
  *    default pipeline of the netCDF4 library);
  *  - chunk index: B-tree v1 raw-data-chunk nodes (type 1), walked
  *    recursively, keys carrying per-chunk logical offsets — which is
  *    what makes record-range pruning possible without reading data.
  *
  * Since round 8 the read path also covers the rest of the wild-file
  * surface: variable-length strings (global heap), vlen sequences,
  * compound and enum datatypes, fractal-heap dense groups/attributes,
  * all five ≥1.10 chunk indexes (single, implicit, fixed array,
  * extensible array, v2 B-tree — including their paged forms),
  * fletcher32, big-endian files, quantization and zstd. Out of scope
  * (documented, loud rejects — see SURVEY §3): the szip filter (no
  * public-domain codec on this classpath), filtered fractal heaps,
  * and paged directly-addressed extensible-array data blocks. The
  * writer exists to produce honest fixtures (and is a real, if
  * minimal, HDF5 writer); the READ path is the user-facing capability.
  * Each chunk index kind is encoded and decoded in one place,
  * [[ChunkIndex]].
  *
  * Scale posture: `readMeta` touches only superblock + object headers
  * + chunk B-trees (metadata, O(#chunks) bytes); data reads are
  * per-chunk positioned reads of exactly the stored byte ranges that
  * cover the requested record window, inflated per chunk. A 100 TB
  * variable is billions of chunks read by independent tasks — the
  * same chunked-storage contract the .ncz sink implements.
  */
object Hdf5Format {

  private[netcdf] val UNDEF: Long = -1L // 0xFFFFFFFFFFFFFFFF — the spec's undefined address

  // ---------------------------------------------------------------
  // data model
  // ---------------------------------------------------------------

  /** Datatype subset: class 0 (fixed-point, signed LE), class 1 (IEEE
    * float LE), class 3 (fixed-width string), class 9 (variable-length
    * string — the netCDF-4 `str` dtype; elements are 16-byte global
    * heap references). `elemSize` in bytes. */
  sealed abstract class H5Kind(val h5Class: Int, val elemSize: Int) {
    def sparkType: DataType = this match {
      case KLong => LongType
      case KInt => IntegerType
      case KShort => ShortType
      case KDouble => DoubleType
      case KFloat => FloatType
      case _: KString => StringType
      case KVlenStr => StringType
      case KVlenSeq(base) => ArrayType(base.sparkType, containsNull = false)
      case KEnum(base, _) => base.sparkType
      case KCompound(ms, _) =>
        StructType(ms.map { case (n, k, _) => StructField(n, k.sparkType, nullable = false) })
      case _: KFloatArr => ArrayType(FloatType, containsNull = false)
      case _: KDoubleArr => ArrayType(DoubleType, containsNull = false)
      case _: KLongArr => ArrayType(LongType, containsNull = false)
      case _: KBitfield => LongType
      case _: KOpaque => BinaryType
    }
    def rowElems: Int = this match {
      case KFloatArr(k) => k
      case KDoubleArr(k) => k
      case KLongArr(k) => k
      case _ => 1
    }
    def rowBytes: Long = elemSize.toLong * rowElems
  }
  case object KLong extends H5Kind(0, 8)
  case object KInt extends H5Kind(0, 4)
  case object KShort extends H5Kind(0, 2)
  case object KDouble extends H5Kind(1, 8)
  case object KFloat extends H5Kind(1, 4)
  case class KString(width: Int) extends H5Kind(3, width)
  /** netCDF-4 vlen string: chunks store 16-byte global-heap references
    * (u32 byte length, u64 collection address, u32 object index); the
    * string bytes live in GCOL collections. */
  case object KVlenStr extends H5Kind(9, 16)
  /** netCDF-4 vlen SEQUENCE (`createVLType` — RAGGED arrays, each
    * record its own length): the same 16-byte heap-reference scheme
    * as vlen strings, but the ref's length field counts base-type
    * ELEMENTS and the heap payload is count·elemSize raw LE bytes.
    * Scalar LE base kinds only (rejected loudly otherwise). */
  case class KVlenSeq(base: H5Kind) extends H5Kind(9, 16)
  /** HDF5 compound datatype (class 6) → Spark struct: members are
    * (name, scalar kind, byte offset) within a `size`-byte element.
    * Nested compounds/arrays are out of the subset (rejected loudly
    * at parse). */
  case class KCompound(members: Seq[(String, H5Kind, Int)], size: Int)
    extends H5Kind(6, size)
  /** HDF5 enumeration (class 8) — netCDF-4 `createEnumType`, the last
    * of the library's user-defined-type trio: an integer base type
    * plus a named-member table. Data reads as the base integers (the
    * netCDF4 semantics — the mapping is metadata), and the member
    * table surfaces as a synthetic `_enum_members` attribute so the
    * metadata path can gate it. */
  case class KEnum(base: H5Kind, members: Seq[(String, Long)])
    extends H5Kind(8, base.elemSize)
  case class KFloatArr(k: Int) extends H5Kind(1, 4)
  case class KDoubleArr(k: Int) extends H5Kind(1, 8)
  case class KLongArr(k: Int) extends H5Kind(0, 8)
  /** HDF5 bitfield (class 4) — a w-byte bag of bits with no numeric
    * interpretation (h5py maps it to numpy uintN): reads ZERO-EXTENDED
    * into a Spark long, so a stored 0x80 byte is 128, never -128.
    * Instrument/quality-flag words in wild satellite products. */
  case class KBitfield(w: Int) extends H5Kind(4, w)
  /** HDF5 opaque (class 5) — w uninterpreted bytes per element plus
    * the datatype's ASCII tag (netCDF-4 `createOpaqueType(size, name)`
    * — NC_OPAQUE): reads as a Spark binary column; the tag surfaces
    * as a synthetic `_opaque_tag` attribute, mirroring
    * `_enum_members`. */
  case class KOpaque(w: Int, tag: String) extends H5Kind(5, w)

  /** Spec names for the 12 HDF5 datatype classes — used by the
    * dataset-kind reject so wild-file triage is self-explanatory
    * ("time (class 2)" instead of a bare tuple). Since r10 the
    * wild-file classes 4 (bitfield → zero-extended long), 5 (opaque
    * → binary + `_opaque_tag`) and 10 (array-of-atomic → the same
    * array column trailing dataspace dims produce) READ as data
    * columns; classes 2 (time — never emitted by any known writer,
    * even h5py rejects it) and 7 (reference — addresses into the
    * same file, no relational meaning) stay deliberate loud
    * rejects naming the class. */
  private[netcdf] def classNameOf(c: Int): String = c match {
    case 0 => "fixed-point (class 0)"
    case 1 => "floating-point (class 1)"
    case 2 => "time (class 2)"
    case 3 => "string (class 3)"
    case 4 => "bitfield (class 4)"
    case 5 => "opaque (class 5)"
    case 6 => "compound (class 6)"
    case 7 => "reference (class 7)"
    case 8 => "enum (class 8)"
    case 9 => "variable-length (class 9)"
    case 10 => "array (class 10)"
    case n => s"class $n"
  }

  case class H5Attr(name: String, text: Option[String], nums: Array[Double],
      /** class-7 OBJECT REFERENCE attribute: nums carry raw header
        * addresses until [[readMeta]] resolves them to dataset names
        * (the satellite-product "coordinates"-style metadata link) */
      isRef: Boolean = false)

  /** One stored chunk: logical start record, file offset, stored
    * (possibly compressed) byte count, filter mask (bit 0 set = the
    * deflate filter was SKIPPED for this chunk), and — for variables
    * chunked along their trailing dims too (the netCDF4 library's
    * default layout) — the flattened element offset of the tile's
    * corner ([[TileGeom.cornerOfTile]]; rank 2: its first column).
    * Full-width chunks have startCol 0. */
  case class H5Chunk(startRec: Long, addr: Long, storedSize: Int, filterMask: Int,
      startCol: Int = 0)

  /** The chunk grid over a variable's trailing (non-record) dims: the
    * one definition the writer, the header parser and the range reader
    * share. `dims` are the logical trailing dims the array column
    * flattens row-major (rank 2: the one array width; empty for scalars
    * and class-10 arrays, whose k-vector is the element itself), and
    * `chunk` is the chunk extent along each, 1..dim. A row block of
    * records splits into `nTiles` tiles numbered in row-major tile
    * order — the order every chunk index linearizes scaled offsets
    * in — and edge tiles are stored full-size, zero-padded. Untiled
    * (every extent full): one tile, the whole row block. The rank-2
    * partial-width layout is the one-trailing-dim case. */
  private[graft] final case class TileGeom(dims: Seq[Int], chunk: Seq[Int]) {
    private val d = dims.toArray
    private val c = chunk.toArray
    require(c.length == d.length && c.forall(_ >= 1), s"bad tile grid $this")
    val rank: Int = d.length
    /** elements in one flattened row */
    val rowElems: Int = d.product
    /** elements in one tile row (the whole row when untiled) */
    val tileRowElems: Int = c.product
    /** tile counts per dim */
    private val tilesPerDim = Array.tabulate(rank)(i => (d(i) + c(i) - 1) / c(i))
    /** any extent partial → row blocks split into tiles */
    val tiled: Boolean = rowElems > 0 && (0 until rank).exists(i => c(i) < d(i))
    val nTiles: Int = if (tiled) tilesPerDim.product else 1
    /** row-major strides over the tiles, over a row's elements and over
      * one tile row's elements */
    private val tileStride = TileGeom.suffixProducts(tilesPerDim)
    private val elemStride = TileGeom.suffixProducts(d)
    private val inTileStride = TileGeom.suffixProducts(c)

    override def toString: String = s"${dims.mkString("x")} in ${chunk.mkString("x")} tiles"

    /** Bytes of one chunk (one tile) of `chunkRecs` records of
      * `elemSize`-byte elements, computed as a Long: a chunk no JVM
      * array can hold is an IOException naming `where`. */
    def chunkBytes(elemSize: Int, chunkRecs: Int, where: => String): Int = {
      val n = elemSize.toLong * tileRowElems * chunkRecs
      if (n > TileGeom.MaxChunkBytes) throw new java.io.IOException(
        s"$where: a chunk of $chunkRecs records of $this is $n bytes, " +
          s"over the ${TileGeom.MaxChunkBytes}-byte array bound")
      n.toInt
    }

    /** Tile `t`'s coordinate along dim `i`, in tiles. */
    def tileCoord(t: Long, i: Int): Int =
      if (tiled) ((t / tileStride(i)) % tilesPerDim(i)).toInt else 0

    /** Flattened element offset of tile `t`'s corner. */
    def cornerOfTile(t: Long): Int = {
      var corner = 0
      var i = 0
      while (i < rank) { corner += tileCoord(t, i) * c(i) * elemStride(i); i += 1 }
      corner
    }

    /** Tile index of a flattened corner offset (inverse of [[cornerOfTile]]). */
    def tileOfCorner(corner: Int): Int = (locate(corner) >>> 32).toInt

    /** The tile that starts at `start(i)` along each dim: element
      * offsets (B-tree v1 keys) or, when `scaled`, offsets in chunk
      * extents (v2 B-tree records). A start off the tile grid — past its
      * dim, or not on a tile edge — is an IOException naming `where` and
      * the offset. */
    def tileOf(start: Array[Long], scaled: Boolean, where: => String): Int = {
      var t = 0
      var i = 0
      while (i < rank) {
        val s = start(i)
        val tile = if (scaled) s else if (s % c(i) == 0) s / c(i) else -1L
        // a zero-length dim still keys its chunks at offset 0
        if (tile < 0 || tile >= math.max(1, tilesPerDim(i))) throw new java.io.IOException(
          s"$where: chunk offset $s along trailing dim ${i + 1} is off the tile grid $this")
        if (tiled) t += tile.toInt * tileStride(i)
        i += 1
      }
      t
    }

    /** Element `k` of a flattened row → its tile (high 32 bits) and its
      * element offset within one tile row (low 32 bits). */
    def locate(k: Int): Long = {
      var rem = k
      var t = 0
      var off = 0
      var i = 0
      while (i < rank) {
        val j = rem / elemStride(i)
        rem -= j * elemStride(i)
        t += (j / c(i)) * tileStride(i)
        off += (j % c(i)) * inTileStride(i)
        i += 1
      }
      (t.toLong << 32) | off
    }

    /** Copy tile `t` of the first `nRecs` flattened rows in `rows`
      * (`esz`-byte elements) into the zeroed `tile`, one full tile row
      * per record, as one contiguous run per innermost tile line; the
      * lines and cells past an edge tile's dims keep their zero padding. */
    def gather(rows: Array[Byte], nRecs: Int, t: Int, esz: Int, tile: Array[Byte]): Unit = {
      val last = rank - 1
      val corner = cornerOfTile(t)
      val runBytes = math.min(c(last), d(last) - tileCoord(t, last) * c(last)) * esz
      var r = 0
      while (r < nRecs) {
        var line = 0 // in-tile element offset of the line
        while (line < tileRowElems) {
          var src = corner
          var inRange = true
          var i = 0
          while (i < last) {
            val o = (line / inTileStride(i)) % c(i)
            inRange &&= tileCoord(t, i) * c(i) + o < d(i)
            src += o * elemStride(i)
            i += 1
          }
          if (inRange) System.arraycopy(rows, (r * rowElems + src) * esz,
            tile, (r * tileRowElems + line) * esz, runBytes)
          line += c(last)
        }
        r += 1
      }
    }
  }

  private[graft] object TileGeom {
    /** the largest byte array every JVM allocates */
    val MaxChunkBytes: Int = Int.MaxValue - 8

    /** Row-major strides: out(i) = Π dims(i+1..) (1 for the last dim). */
    private def suffixProducts(dims: Array[Int]): Array[Int] = dims.scanRight(1)(_ * _).tail
  }

  case class H5Var(
      name: String,
      kind: H5Kind,
      numRecs: Long,
      chunkRecs: Int,
      deflate: Boolean,
      /** contiguous layout: data address instead of chunks */
      contiguousAddr: Long,
      chunks: Array[H5Chunk],
      attrs: Seq[H5Attr],
      /** byte-shuffle filter (id 2) precedes deflate in the pipeline —
        * the netCDF4 library's `shuffle=True` default */
      shuffle: Boolean = false,
      /** fletcher32 checksum filter (id 3) — netCDF4's
        * `fletcher32=True`, set FIRST in the pipeline (checksum covers
        * the raw chunk; the 4-byte word rides through shuffle/deflate) */
      fletcher: Boolean = false,
      /** the chunk grid over the trailing dims: what a row block of
        * `chunkRecs` records splits into when the variable is chunked
        * along them too (netCDF4's default layout chunks every dim);
        * empty for scalars and class-10 arrays */
      geom: TileGeom = TileGeom(Nil, Nil),
      /** compact layout (class 0): the data lives INSIDE the object
        * header's layout message — ≤64 KiB by the format contract, so
        * carrying it in the metadata is free */
      compactData: Array[Byte] = Array.emptyByteArray,
      /** big-endian numerics (datatype-message order bit): served by
        * order-aware element accessors — POWER/SPARC-written files */
      bigEndian: Boolean = false,
      /** DEFINED fill value (element bytes): what UNALLOCATED chunks
        * of a sparse variable read as (zeros when empty/undefined) */
      fill: Array[Byte] = Array.emptyByteArray,
      /** ZSTANDARD filter (registered id 32015, netCDF-4.9) in the
        * terminal pipeline slot instead of deflate */
      zstd: Boolean = false) {
    /** CF `actual_range` zone map, when the writer recorded one. */
    def range: Option[(Double, Double)] =
      attrs.find(a => a.name == "actual_range" && a.nums.length == 2)
        .map(a => (a.nums(0), a.nums(1)))
  }

  case class H5Meta(vars: Seq[H5Var], rootAttrs: Seq[H5Attr]) {
    def numRecs: Long = if (vars.isEmpty) 0L else vars.map(_.numRecs).max
    def recSize: Long = math.max(1L, vars.map(_.kind.rowBytes).sum)
    def sparkSchema: StructType =
      StructType(vars.map(v => StructField(v.name, v.kind.sparkType, nullable = false)))
  }

  def isHdf5(path: Path): Boolean = {
    val n = path.getName
    n.endsWith(".nc4") || n.endsWith(".h5") || n.endsWith(".hdf5")
  }

  private val H5SIG = Array[Byte](0x89.toByte, 'H', 'D', 'F', 0x0d, 0x0a, 0x1a, 0x0a)

  /** USER BLOCKS (spec II.A: the superblock may start at any
    * power-of-two offset ≥ 512, with the leading bytes reserved for
    * application data — `h5jam` produces exactly this, and every
    * in-file address is relative to the superblock start): probe the
    * signature at 0, then at doubling offsets, and serve the file
    * through a BASE-SHIFTED stream so every downstream read —
    * superblock, headers, chunk indexes, heap payloads, chunk data —
    * resolves base-relative addresses untouched. Zero-cost for the
    * base-0 common case (the raw stream is returned as-is). */
  private def openShifted(fs: FileSystem, path: Path): FSDataInputStream = {
    val raw = fs.open(path)
    val sig = new Array[Byte](8)
    def sigAt(off: Long): Boolean =
      try { raw.readFully(off, sig, 0, 8); java.util.Arrays.equals(sig, H5SIG) }
      catch { case _: java.io.IOException => false }
    if (sigAt(0L)) return raw
    val len = fs.getFileStatus(path).getLen
    var off = 512L
    while (off < len && off <= (1L << 26)) {
      if (sigAt(off)) return new FSDataInputStream(new ShiftedInput(raw, off))
      off <<= 1
    }
    raw.close()
    throw new java.io.IOException(
      s"$path is not an HDF5 file (no signature at 0 or any power-of-two " +
        "user-block offset probed up to the 64 MiB cap; a spec-legal file " +
        "jammed with a larger user block needs the probe cap raised)")
  }

  /** Base-shifting stream: positions presented to callers are
    * superblock-relative; the shift happens at the seek/pread layer so
    * every read path inherits it. */
  private final class ShiftedInput(raw: FSDataInputStream, val base: Long)
      extends java.io.InputStream
      with org.apache.hadoop.fs.Seekable
      with org.apache.hadoop.fs.PositionedReadable {
    override def read(): Int = raw.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = raw.read(b, off, len)
    override def seek(pos: Long): Unit = raw.seek(pos + base)
    override def getPos: Long = raw.getPos - base
    override def seekToNewSource(targetPos: Long): Boolean =
      raw.seekToNewSource(targetPos + base)
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int =
      raw.read(position + base, buffer, offset, length)
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit =
      raw.readFully(position + base, buffer, offset, length)
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      raw.readFully(position + base, buffer)
    override def close(): Unit = raw.close()
  }

  /** `h5jam`-equivalent: prepend a user block of `ub` bytes (power of
    * two ≥ 512) to a rendered HDF5 image, patching the superblock's
    * base-address field (and the v2 checksum) to the new offset as
    * the real tool does. Gate/fixture plumbing — the READER is the
    * feature. */
  private[graft] def jamUserBlock(bytes: Array[Byte], ub: Int): Array[Byte] = {
    require(ub >= 512 && (ub & (ub - 1)) == 0, s"user block must be a power of two >= 512, got $ub")
    val out = new Array[Byte](ub + bytes.length)
    System.arraycopy(bytes, 0, out, ub, bytes.length)
    val ver = bytes(8) & 0xff
    val baseOff = ver match {
      case 0 => ub + 24
      // v1 inserts indexed-storage K + reserved (4 bytes) before the
      // consistency flags, pushing the base-address field to 28
      case 1 => ub + 28
      case 2 | 3 => ub + 12
      case v => throw new java.io.IOException(s"unsupported superblock version $v")
    }
    var i = 0
    var b = ub.toLong
    while (i < 8) { out(baseOff + i) = (b & 0xff).toByte; b >>= 8; i += 1 }
    if (ver >= 2) {
      // v2/v3 superblocks are checksummed over their first 44 bytes
      val ck = lookup3(java.util.Arrays.copyOfRange(out, ub, ub + 44))
      var j = 0
      var c = ck.toLong & 0xffffffffL
      while (j < 4) { out(ub + 44 + j) = (c & 0xff).toByte; c >>= 8; j += 1 }
    }
    out
  }

  // ---------------------------------------------------------------
  // netCDF-4.9 quantization (`nc_def_var_quantize`; Zender 2016,
  // "Bit Grooming", GMD 9:3199). A LOSSY pre-filter step the library
  // applies before the HDF5 pipeline: the stored values ARE the
  // quantized values, so the read side needs nothing — only the
  // standard `_Quantize…` attribute marks the variable. BITGROOM
  // keeps enough explicit mantissa bits for NSD decimal digits
  // (ceil(nsd·log2 10)+1) and alternately SHAVES (→0) and SETS (→1)
  // the tail bits of consecutive nonzero values so quantization error
  // is unbiased across a variable; BITROUND keeps NSB explicit bits
  // and rounds the mantissa — add half-ulp then truncate, the carry
  // propagating into the exponent exactly as IEEE round-to-nearest.
  // Zeros and non-finite values pass through untouched (the library's
  // contract); the alternation ordinal advances per stored element.
  // ---------------------------------------------------------------
  private[graft] def groomKeepBits(nsd: Int): Int =
    math.ceil(nsd * (math.log(10.0) / math.log(2.0))).toInt + 1

  private[graft] def quantDouble(mode: String, prm: Int, x: Double, ord: Long): Double = {
    if (x == 0.0 || java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    val keep = if (mode == "bitround") prm else groomKeepBits(prm)
    val shift = 52 - keep
    if (shift <= 0) return x
    val bits = java.lang.Double.doubleToRawLongBits(x)
    val out =
      if (mode == "bitround") (bits + (1L << (shift - 1))) & (-1L << shift)
      else if ((ord & 1L) == 0L) bits & (-1L << shift)
      else bits | ((1L << shift) - 1)
    java.lang.Double.longBitsToDouble(out)
  }

  private[graft] def quantFloat(mode: String, prm: Int, x: Float, ord: Long): Float = {
    if (x == 0.0f || java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x)) return x
    val keep = if (mode == "bitround") prm else groomKeepBits(prm)
    val shift = 23 - keep
    if (shift <= 0) return x
    val bits = java.lang.Float.floatToRawIntBits(x)
    val out =
      if (mode == "bitround") (bits + (1 << (shift - 1))) & (-1 << shift)
      else if ((ord & 1L) == 0L) bits & (-1 << shift)
      else bits | ((1 << shift) - 1)
    java.lang.Float.intBitsToFloat(out)
  }

  // ---------------------------------------------------------------
  // Jenkins lookup3 (public-domain hash, Bob Jenkins 2006) — the
  // checksum HDF5 applies to v2 superblocks, v2 object headers and
  // the v2-generation chunk indexes; the writer emits it, and the
  // readers verify it on chunk indexes and v2 B-trees (hashlittle,
  // init 0).
  // ---------------------------------------------------------------
  private[graft] def lookup3(data: Array[Byte], initval: Int = 0): Int = {
    def u8(i: Int): Int = data(i) & 0xff
    var a = 0xdeadbeef + data.length + initval
    var b = a
    var c = a
    var off = 0
    var len = data.length
    while (len > 12) {
      a += u8(off) | (u8(off + 1) << 8) | (u8(off + 2) << 16) | (u8(off + 3) << 24)
      b += u8(off + 4) | (u8(off + 5) << 8) | (u8(off + 6) << 16) | (u8(off + 7) << 24)
      c += u8(off + 8) | (u8(off + 9) << 8) | (u8(off + 10) << 16) | (u8(off + 11) << 24)
      // mix
      a -= c; a ^= Integer.rotateLeft(c, 4); c += b
      b -= a; b ^= Integer.rotateLeft(a, 6); a += c
      c -= b; c ^= Integer.rotateLeft(b, 8); b += a
      a -= c; a ^= Integer.rotateLeft(c, 16); c += b
      b -= a; b ^= Integer.rotateLeft(a, 19); a += c
      c -= b; c ^= Integer.rotateLeft(b, 4); b += a
      off += 12; len -= 12
    }
    if (len == 0) return c
    // last partial block (switch fallthrough in the reference code)
    if (len >= 12) c += u8(off + 11) << 24
    if (len >= 11) c += u8(off + 10) << 16
    if (len >= 10) c += u8(off + 9) << 8
    if (len >= 9) c += u8(off + 8)
    if (len >= 8) b += u8(off + 7) << 24
    if (len >= 7) b += u8(off + 6) << 16
    if (len >= 6) b += u8(off + 5) << 8
    if (len >= 5) b += u8(off + 4)
    if (len >= 4) a += u8(off + 3) << 24
    if (len >= 3) a += u8(off + 2) << 16
    if (len >= 2) a += u8(off + 1) << 8
    if (len >= 1) a += u8(off)
    // final
    c ^= b; c -= Integer.rotateLeft(b, 14)
    a ^= c; a -= Integer.rotateLeft(c, 11)
    b ^= a; b -= Integer.rotateLeft(a, 25)
    c ^= b; c -= Integer.rotateLeft(b, 16)
    a ^= c; a -= Integer.rotateLeft(c, 4)
    b ^= a; b -= Integer.rotateLeft(a, 14)
    c ^= b; c -= Integer.rotateLeft(b, 24)
    c
  }

  // ---------------------------------------------------------------
  // byte-building helpers (all HDF5 metadata is little-endian)
  // ---------------------------------------------------------------
  private[netcdf] final class Buf {
    private val out = new ByteArrayOutputStream(256)
    def size: Int = out.size()
    def u8(v: Int): this.type = { out.write(v & 0xff); this }
    def u16(v: Int): this.type = { u8(v); u8(v >> 8) }
    def u32(v: Int): this.type = { u16(v); u16(v >> 16) }
    def u64(v: Long): this.type = { u32(v.toInt); u32((v >> 32).toInt) }
    def bytes(b: Array[Byte]): this.type = { out.write(b); this }
    def zeros(n: Int): this.type = { var i = 0; while (i < n) { out.write(0); i += 1 }; this }
    def padTo8(): this.type = { while (size % 8 != 0) out.write(0); this }
    def result(): Array[Byte] = out.toByteArray
  }

  private def pad8(n: Int): Int = (n + 7) & ~7

  /** Datatype message body for a kind (spec IV.A.2.d). `arrayDt`
    * wraps an array kind in a class-10 ARRAY datatype (v3) over the
    * base atomic type instead of relying on trailing dataspace dims —
    * what h5py emits for compound-free `dtype=(np.float32, (k,))`
    * datasets. */
  private def datatypeBytes(kind: H5Kind, be: Boolean = false,
      arrayDt: Boolean = false): Array[Byte] = {
    val b = new Buf
    val obit = if (be) 1 else 0 // atomic-class byte-order flag (bit 0)
    def array10(base: H5Kind, k: Int): Unit = {
      // class 10 array, v3 (HDF5 1.8+): rank, one u32 per dim, then
      // the base datatype message; total size = k * base size
      b.u8(0x3A).u8(0).u8(0).u8(0).u32(base.elemSize * k)
      b.u8(1).u32(k)
      b.bytes(datatypeBytes(base))
    }
    kind match {
      case KFloatArr(k) if arrayDt => array10(KFloat, k)
      case KDoubleArr(k) if arrayDt => array10(KDouble, k)
      case KLongArr(k) if arrayDt => array10(KLong, k)
      case KBitfield(w) =>
        // class 4 bitfield, v1: order bit + lo/hi pad bits like
        // fixed-point; properties = bit offset, precision
        b.u8(0x14).u8(obit).u8(0).u8(0).u32(w)
        b.u16(0).u16(w * 8)
      case KOpaque(w, tag) =>
        // class 5 opaque, v1: bit field = ASCII tag length (a
        // multiple of 8; NUL-padded), properties = the tag
        val tb = tag.getBytes("ASCII")
        val padded = pad8(tb.length + 1)
        b.u8(0x15).u8(padded & 0xff).u8((padded >> 8) & 0xff).u8(0).u32(w)
        b.bytes(tb).zeros(padded - tb.length)
      case KLong | KInt | KShort | KLongArr(_) =>
        // class 0 fixed-point, v1; bitfield byte0 bit3 = signed
        b.u8(0x10).u8(0x08 | obit).u8(0).u8(0).u32(kind.elemSize)
        b.u16(0).u16(kind.elemSize * 8) // bit offset, precision
      case KDouble | KDoubleArr(_) =>
        b.u8(0x11).u8(0x20 | obit).u8(0x3f).u8(0).u32(8)
        b.u16(0).u16(64).u8(52).u8(11).u8(0).u8(52).u32(1023)
      case KFloat | KFloatArr(_) =>
        b.u8(0x11).u8(0x20 | obit).u8(0x1f).u8(0).u32(4)
        b.u16(0).u16(32).u8(23).u8(8).u8(0).u8(23).u32(127)
      case KString(w) =>
        // class 3 fixed string, NUL-padded, ASCII
        b.u8(0x13).u8(0).u8(0).u8(0).u32(w)
      case KVlenStr =>
        // class 9 vlen, v1; bitfield: type=string (bits 0-3 = 1),
        // NUL-pad (bits 4-7 = 0), charset UTF-8 (bits 8-11 = 1);
        // element = 16-byte global heap reference. Properties carry
        // the base type: 1-byte NUL-padded string (what the netCDF4
        // library emits for `str` variables).
        b.u8(0x19).u8(0x01).u8(0x01).u8(0).u32(16)
        b.u8(0x13).u8(0).u8(0).u8(0).u32(1)
      case KVlenSeq(base) =>
        // class 9 vlen, v1; bitfield: type=sequence (bits 0-3 = 0);
        // properties carry the base datatype message
        b.u8(0x19).u8(0x00).u8(0).u8(0).u32(16)
        b.bytes(datatypeBytes(base))
      case KEnum(base, ms) =>
        // class 8 enum, v1; bitfield = member count; properties: base
        // datatype message, then NUL-terminated names each padded to
        // a multiple of 8 (v1/v2 framing), then base-sized LE values
        b.u8(0x18).u8(ms.size & 0xff).u8((ms.size >> 8) & 0xff).u8(0)
        b.u32(base.elemSize)
        b.bytes(datatypeBytes(base))
        ms.foreach { case (n, _) =>
          val nb = n.getBytes("UTF-8")
          b.bytes(nb).u8(0).zeros((8 - ((nb.length + 1) % 8)) % 8)
        }
        ms.foreach { case (_, value) =>
          (0 until base.elemSize).foreach(k => b.u8(((value >> (8 * k)) & 0xff).toInt))
        }
      case KCompound(ms, size) =>
        // class 6 compound, v1; bitfield = member count. Each member:
        // NUL-terminated name padded to 8, byte offset, dimensionality
        // block (scalar: rank 0), then the member's datatype message.
        b.u8(0x16).u8(ms.size & 0xff).u8((ms.size >> 8) & 0xff).u8(0).u32(size)
        ms.foreach { case (n, k, off) =>
          // the name FIELD pads to a multiple of 8 of its own length
          // (spec) — not to buffer alignment: prior members' datatype
          // messages need not be 8-multiples
          val nb = n.getBytes("UTF-8")
          b.bytes(nb).u8(0).zeros((8 - ((nb.length + 1) % 8)) % 8)
          b.u32(off)
          b.u8(0).zeros(3) // rank 0 + reserved
          b.u32(0).u32(0) // permutation + reserved
          b.u32(0).u32(0).u32(0).u32(0) // dim sizes
          b.bytes(datatypeBytes(k))
        }
    }
    b.result()
  }

  /** Dataspace message body, v1 (spec IV.A.2.b). */
  private def dataspaceBytes(dims: Seq[Long], withMax: Boolean): Array[Byte] = {
    val b = new Buf
    b.u8(1).u8(dims.size).u8(if (withMax) 1 else 0).u8(0).u32(0)
    dims.foreach(b.u64)
    if (withMax) dims.foreach(b.u64)
    b.result()
  }

  /** Attribute message body, v1 (spec IV.A.2.m): header, then name /
    * datatype / dataspace each padded to 8, then raw data. */
  private def attributeBytes(a: H5Attr): Array[Byte] = {
    val name = a.name.getBytes("UTF-8")
    val (dt, ds, data) = a.text match {
      case Some(s) =>
        val v = s.getBytes("UTF-8")
        (datatypeBytes(KString(math.max(1, v.length))), dataspaceBytes(Nil, withMax = false), v)
      case None =>
        val d = new Buf; a.nums.foreach(x => d.u64(java.lang.Double.doubleToLongBits(x)))
        (datatypeBytes(KDouble), dataspaceBytes(Seq(a.nums.length.toLong), withMax = false), d.result())
    }
    val b = new Buf
    b.u8(1).u8(0).u16(name.length + 1).u16(dt.length).u16(ds.length)
    b.bytes(name).u8(0).padTo8()
    b.bytes(dt).padTo8()
    b.bytes(ds).padTo8()
    b.bytes(data)
    b.result()
  }

  /** `DIMENSION_LIST` attribute body: dataspace [rank], datatype
    * VLEN(class 9, sequence) of OBJECT REFERENCE (class 7, 8 bytes) —
    * the netCDF-4 library's dimension-scale attachment. Each vlen
    * element's heap payload lists the referenced scale object header
    * addresses (exactly one scale per dim, the library's shape). */
  private def dimListAttrBytes(refs: Seq[(Long, Int)]): Array[Byte] = {
    val name = "DIMENSION_LIST".getBytes("UTF-8")
    val dt = new Buf
    dt.u8(0x19).u8(0x00).u8(0).u8(0).u32(16) // vlen v1, type=sequence
    dt.u8(0x17).u8(0).u8(0).u8(0).u32(8) // base: object reference v1
    val dtB = dt.result()
    val dsB = dataspaceBytes(Seq(refs.length.toLong), withMax = false)
    val b = new Buf
    b.u8(1).u8(0).u16(name.length + 1).u16(dtB.length).u16(dsB.length)
    b.bytes(name).u8(0).padTo8()
    b.bytes(dtB).padTo8()
    b.bytes(dsB).padTo8()
    refs.foreach { case (gaddr, idx) => b.u32(1).u64(gaddr).u32(idx) }
    b.result()
  }

  /** Plain class-7 OBJECT REFERENCE attribute: rank-1 dataspace of N
    * raw 8-byte header addresses — the non-vlen sibling of
    * [[dimListAttrBytes]] (satellite-product "coordinates"-style
    * metadata links). Message length is independent of the address
    * VALUES, so the sizing pass lays it out with zeros. */
  private def refAttrBytes(attrName: String, addrs: Seq[Long]): Array[Byte] = {
    val name = attrName.getBytes("UTF-8")
    val dt = new Buf
    dt.u8(0x17).u8(0).u8(0).u8(0).u32(8) // object reference v1
    val dtB = dt.result()
    val dsB = dataspaceBytes(Seq(addrs.length.toLong), withMax = false)
    val b = new Buf
    b.u8(1).u8(0).u16(name.length + 1).u16(dtB.length).u16(dsB.length)
    b.bytes(name).u8(0).padTo8()
    b.bytes(dtB).padTo8()
    b.bytes(dsB).padTo8()
    addrs.foreach(b.u64)
    b.result()
  }

  /** The netCDF library's marker NAME for a dim that has no
    * coordinate variable (netCDF-4 hides such datasets from users). */
  private[netcdf] def phonyDimName(len: Long): String =
    s"This is a netCDF dimension but not a netCDF variable. $len"

  // message type ids (spec IV.A.2)
  private val MSG_DATASPACE = 0x0001
  private val MSG_LINK_INFO = 0x0002
  private val MSG_DATATYPE = 0x0003
  private val MSG_FILL_OLD = 0x0004
  private val MSG_FILL = 0x0005
  private val MSG_LINK = 0x0006
  private val MSG_LAYOUT = 0x0008
  private val MSG_FILTER = 0x000B
  private val MSG_ATTRIBUTE = 0x000C
  private val MSG_CONTINUATION = 0x0010
  private val MSG_SYMBOL_TABLE = 0x0011
  private val MSG_ATTR_INFO = 0x0015

  // ---------------------------------------------------------------
  // writer
  // ---------------------------------------------------------------

  /** zlib level of the deflate filter (netCDF4-python's `complevel`) */
  private val DEFLATE_LEVEL = 6

  /** Per-variable accumulation during a streaming write: rows buffer
    * into a raw chunk; full chunks deflate immediately, so resident
    * state is one raw chunk + the compressed chunk list. */
  private final class VarState(val name: String, val kind: H5Kind,
      val chunkRecs: Int, val deflate: Boolean, val attrs: Seq[H5Attr],
      val shuffle: Boolean = false, val fletcher: Boolean = false,
      val bigEndian: Boolean = false,
      val quant: Option[(String, Int)] = None,
      /** the chunk grid over the trailing dims — the netCDF4 library's
        * default chunking is partial in EVERY dim, so real layouts
        * tile in all of them */
      val geom: TileGeom = TileGeom(Nil, Nil),
      /** DEFINED fill value (element bytes, file byte order) — rides
        * in the fill value message; with `sparse`, all-fill chunks
        * are left UNALLOCATED, the library's behavior for regions
        * never written */
      val fillBytes: Array[Byte] = Array.emptyByteArray,
      val sparse: Boolean = false,
      /** ZSTANDARD compression level (0 = off): registered HDF5
        * filter 32015, what netCDF-4.9's `nc_def_var_zstandard`
        * emits — occupies the terminal pipeline slot deflate would
        * (the two are mutually exclusive, as in the library) */
      val zstd: Int = 0,
      /** class-10 ARRAY datatype: the array column is a RANK-1
        * dataspace whose element is the whole k-vector — no trailing
        * dataspace dim, so an empty `geom`; the element size is rowBytes */
      val arrayDt: Boolean = false,
      /** the writer's chunk codec, shared by all of its variables */
      codec: ChunkCodec) {
    require(zstd == 0 || !deflate, "zstd and deflate are mutually exclusive")
    /** bytes of one stored tile (tiled variables only) */
    private val tileBytes =
      if (geom.tiled) geom.chunkBytes(kind.elemSize, chunkRecs, s"variable $name") else 0
    val raw = new Array[Byte]((kind.rowBytes * chunkRecs).toInt)
    /** any filter in the pipeline: index entries then store size and mask */
    val filtered: Boolean = deflate || shuffle || fletcher || zstd > 0
    val bb: ByteBuffer = ByteBuffer.wrap(raw).order(
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var inChunk = 0
    var numRecs = 0L
    val stored = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Int)] // (bytes, filterMask)
    /** vlen string payloads accumulate raw; their 16-byte heap refs
      * are materialized at finish() once the GCOL base is known */
    val vlenValues = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // running per-variable value range for scalar numerics — becomes
    // the CF `actual_range` attribute (the zone map the scan prunes by)
    var vMin = Double.PositiveInfinity
    var vMax = Double.NegativeInfinity
    private def track(d: Double): Unit = {
      if (d < vMin) vMin = d
      if (d > vMax) vMax = d
    }

    /** netCDF-4.9 quantization ordinal — one per STORED element (array
      * elements each advance it), driving BitGroom's shave/set
      * alternation */
    private var qOrd = 0L
    @inline private def qD(x: Double): Double = quant match {
      case Some((m, p)) => val r = Hdf5Format.quantDouble(m, p, x, qOrd); qOrd += 1; r
      case None => x
    }
    @inline private def qF(x: Float): Float = quant match {
      case Some((m, p)) => val r = Hdf5Format.quantFloat(m, p, x, qOrd); qOrd += 1; r
      case None => x
    }

    /** All-fill detector for sparse writes (fill = zeros when no
      * defined value rides on the variable). */
    private def isAllFill(buf: Array[Byte]): Boolean = {
      if (fillBytes.isEmpty) {
        var i = 0
        while (i < buf.length) { if (buf(i) != 0) return false; i += 1 }
      } else {
        val es = fillBytes.length
        var i = 0
        while (i < buf.length) {
          if (buf(i) != fillBytes(i % es)) return false
          i += 1
        }
      }
      true
    }

    /** Run one raw chunk through the write pipeline and append the
      * stored form. netCDF4's call order: fletcher32 (appended
      * little-endian, covering the raw chunk), then shuffle, then
      * deflate or zstd; the filter mask's bit i refers to pipeline
      * position i, so the compression skip-bit shifts right for each
      * filter ahead of it. `mustClone` marks `chunk` as a shared buffer. */
    private def encodeChunk(chunk: Array[Byte], mustClone: Boolean): Unit = {
      // sparse: an all-fill chunk stays UNALLOCATED — a null slot in
      // the stored list keeps every later chunk's logical position
      if (sparse && isAllFill(chunk)) { stored += ((null, 0)); return }
      val len = chunk.length + (if (fletcher) 4 else 0)
      var pre = chunk
      if (fletcher) {
        pre = java.util.Arrays.copyOf(chunk, len)
        ByteBuffer.wrap(pre).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(chunk.length, ChunkCodec.fletcher32(chunk, chunk.length))
      }
      val es = if (shuffle) kind.elemSize else 1
      val n =
        if (zstd > 0) codec.zstd(pre, len, zstd, es, s"chunk of $name")
        else if (deflate) codec.deflate(pre, len, DEFLATE_LEVEL, es)
        else -1
      if (n >= 0) stored += ((java.util.Arrays.copyOf(codec.out, n), 0))
      else {
        // stored as is: a chunk its compressor does not shrink has the
        // compression filter masked out (spec: filter mask bit i set =
        // filter i skipped), the same device as the .ncz store codec;
        // shuffle and fletcher32 stay applied
        val raw =
          if (shuffle) { val s = new Array[Byte](len); ChunkCodec.shuffle(pre, len, es, s, 0, len); s }
          else if ((pre eq chunk) && mustClone) chunk.clone() else pre
        stored += ((raw,
          if (zstd > 0 || deflate) 1 << ((if (fletcher) 1 else 0) + (if (shuffle) 1 else 0)) else 0))
      }
    }

    def flushChunk(): Unit = if (inChunk > 0) {
      // edge chunks are stored FULL-SIZE (zero-padded) — the HDF5
      // chunked-storage contract; logical dims bound what readers use
      java.util.Arrays.fill(raw, (kind.rowBytes * inChunk).toInt, raw.length, 0.toByte)
      if (geom.tiled) {
        // the row block splits into its tiles, appended in row-major
        // tile order — the order every chunk index linearizes scaled
        // offsets in
        var t = 0
        while (t < geom.nTiles) {
          val tile = new Array[Byte](tileBytes)
          geom.gather(raw, inChunk, t, kind.elemSize, tile)
          encodeChunk(tile, mustClone = false)
          t += 1
        }
      } else encodeChunk(raw, mustClone = true)
      inChunk = 0
      bb.position(0)
    }

    def putValue(v: Any): Unit = {
      kind match {
        case KLong =>
          val x = v match { case n: Number => n.longValue(); case _ => 0L }
          track(x.toDouble); bb.putLong(x)
        case KInt =>
          val x = v match { case n: Number => n.intValue(); case _ => 0 }
          track(x.toDouble); bb.putInt(x)
        case KShort =>
          val x = v match { case n: Number => n.shortValue(); case _ => 0.toShort }
          track(x.toDouble); bb.putShort(x)
        case KDouble =>
          val x = qD(v match { case n: Number => n.doubleValue(); case _ => 0.0 })
          track(x); bb.putDouble(x)
        case KFloat =>
          val x = qF(v match { case n: Number => n.floatValue(); case _ => 0f })
          track(x.toDouble); bb.putFloat(x)
        case KString(w) =>
          val sb = v match {
            case b: Array[Byte] => b
            case s => s.toString.getBytes("UTF-8")
          }
          val n = math.min(sb.length, w)
          bb.put(sb, 0, n)
          var i = n; while (i < w) { bb.put(0.toByte); i += 1 }
        case KVlenStr =>
          val sb = v match {
            case b: Array[Byte] => b
            case s => s.toString.getBytes("UTF-8")
          }
          vlenValues += sb
          numRecs += 1
          return // refs flow through flushVlenRefs at finish()
        case KVlenSeq(base) =>
          // ragged array → raw LE payload bytes; length rides in the
          // heap ref as an ELEMENT count at finish()
          val elems: Seq[Any] = v match {
            case a: Array[_] => a.toSeq
            case s: Seq[_] => s
            case null => Seq.empty
            case x => Seq(x)
          }
          val pb = ByteBuffer.allocate(elems.length * base.elemSize)
            .order(ByteOrder.LITTLE_ENDIAN)
          elems.foreach { e =>
            base match {
              case KLong => pb.putLong(e match { case n: Number => n.longValue(); case _ => 0L })
              case KInt => pb.putInt(e match { case n: Number => n.intValue(); case _ => 0 })
              case KShort => pb.putShort(e match { case n: Number => n.shortValue(); case _ => 0.toShort })
              case KDouble => pb.putDouble(e match { case n: Number => n.doubleValue(); case _ => 0.0 })
              case KFloat => pb.putFloat(e match { case n: Number => n.floatValue(); case _ => 0f })
              case o => throw new IllegalArgumentException(
                s"unsupported vlen sequence base $o for $name")
            }
          }
          vlenValues += pb.array()
          numRecs += 1
          return // refs flow through flushVlenRefs at finish()
        case KEnum(base, _) =>
          val x = v match { case n: Number => n.longValue(); case _ => 0L }
          track(x.toDouble)
          base match {
            case KInt => bb.putInt(x.toInt)
            case KLong => bb.putLong(x)
            case KShort => bb.putShort(x.toShort)
            case o => throw new IllegalArgumentException(
              s"unsupported enum base $o for $name")
          }
        case KCompound(ms, _) =>
          val arr = v.asInstanceOf[Array[Any]]
          var i = 0
          while (i < ms.length) {
            val x = arr(i)
            ms(i)._2 match {
              case KLong => bb.putLong(x match { case n: Number => n.longValue(); case _ => 0L })
              case KInt => bb.putInt(x match { case n: Number => n.intValue(); case _ => 0 })
              case KShort => bb.putShort(x match { case n: Number => n.shortValue(); case _ => 0.toShort })
              case KDouble => bb.putDouble(x match { case n: Number => n.doubleValue(); case _ => 0.0 })
              case KFloat => bb.putFloat(x match { case n: Number => n.floatValue(); case _ => 0f })
              case KString(w) =>
                val sb = x match {
                  case b: Array[Byte] => b
                  case s => s.toString.getBytes("UTF-8")
                }
                val n = math.min(sb.length, w)
                bb.put(sb, 0, n)
                var j = n; while (j < w) { bb.put(0.toByte); j += 1 }
              case other => throw new IllegalArgumentException(
                s"unsupported nested kind $other in compound $name")
            }
            i += 1
          }
        case KFloatArr(k) =>
          val a = v.asInstanceOf[Array[Float]]
          var i = 0; while (i < k) { bb.putFloat(qF(if (i < a.length) a(i) else 0f)); i += 1 }
        case KDoubleArr(k) =>
          val a = v.asInstanceOf[Array[Double]]
          var i = 0; while (i < k) { bb.putDouble(qD(if (i < a.length) a(i) else 0.0)); i += 1 }
        case KLongArr(k) =>
          val a = v.asInstanceOf[Array[Long]]
          var i = 0; while (i < k) { bb.putLong(if (i < a.length) a(i) else 0L); i += 1 }
        case KBitfield(w) =>
          // the low w bytes of the long, in the variable's byte order;
          // no range tracking (a bag of bits has no numeric zone map)
          val x = v match { case n: Number => n.longValue(); case _ => 0L }
          w match {
            case 1 => bb.put((x & 0xff).toByte)
            case 2 => bb.putShort((x & 0xffff).toShort)
            case 4 => bb.putInt((x & 0xffffffffL).toInt)
            case _ => bb.putLong(x)
          }
        case KOpaque(w, _) =>
          val sb = v match {
            case b: Array[Byte] => b
            case s => s.toString.getBytes("UTF-8")
          }
          val n = math.min(sb.length, w)
          bb.put(sb, 0, n)
          var i = n; while (i < w) { bb.put(0.toByte); i += 1 }
      }
      inChunk += 1
      numRecs += 1
      if (inChunk == chunkRecs) flushChunk()
    }

    // ---- typed fast-path puts (r17 optimization round, guide §4
    // applied to the JVM writer: the DSv2 write path called
    // putValue(Any) per CELL, boxing every scalar through Number and
    // re-dispatching the kind match per value; these put the primitive
    // straight into the chunk buffer — identical bytes, identical
    // range tracking/quantization, shared row epilogue). Only the
    // plain scalar/array kinds get a fast path; enums, bitfields,
    // strings, vlens, compounds, opaques keep the general putValue.
    private def endValue(): Unit = {
      inChunk += 1
      numRecs += 1
      if (inChunk == chunkRecs) flushChunk()
    }
    def putLongV(x: Long): Unit = { track(x.toDouble); bb.putLong(x); endValue() }
    def putIntV(x: Int): Unit = { track(x.toDouble); bb.putInt(x); endValue() }
    def putShortV(x: Short): Unit = { track(x.toDouble); bb.putShort(x); endValue() }
    def putDoubleV(x: Double): Unit = {
      val q = qD(x); track(q); bb.putDouble(q); endValue()
    }
    def putFloatV(x: Float): Unit = {
      val q = qF(x); track(q.toDouble); bb.putFloat(q); endValue()
    }
    def putFloatArrV(a: Array[Float]): Unit = {
      val k = kind.rowElems
      var i = 0; while (i < k) { bb.putFloat(qF(if (i < a.length) a(i) else 0f)); i += 1 }
      endValue()
    }
    def putDoubleArrV(a: Array[Double]): Unit = {
      val k = kind.rowElems
      var i = 0; while (i < k) { bb.putDouble(qD(if (i < a.length) a(i) else 0.0)); i += 1 }
      endValue()
    }
    def putLongArrV(a: Array[Long]): Unit = {
      val k = kind.rowElems
      var i = 0; while (i < k) { bb.putLong(if (i < a.length) a(i) else 0L); i += 1 }
      endValue()
    }

    /** The allocated chunks as index entries, stored back to back in
      * chunk order from file offset `at`. */
    def entries(at: Long): ChunkIndex.Entries = {
      val out = new scala.collection.mutable.ArrayBuffer[ChunkIndex.Entry](stored.size)
      var a = at
      var i = 0
      while (i < stored.size) {
        val (bytes, mask) = stored(i)
        if (bytes != null) { out += ChunkIndex.Entry(i, a, bytes.length, mask); a += bytes.length }
        i += 1
      }
      out
    }

    /** What this variable's chunk index is built over. */
    def indexShape(eaPageBits: Int): ChunkIndex.Shape = ChunkIndex.Shape(geom, chunkRecs,
      stored.size, filtered, if (geom.tiled) tileBytes else raw.length, s"variable $name",
      eaPageBits)

    /** Push materialized global-heap references through the normal
      * chunk pipeline (fletcher/shuffle/deflate apply to the 16-byte
      * refs exactly as to fixed elements). */
    def flushVlenRefs(refs: Seq[(Int, Long, Int)]): Unit = {
      refs.foreach { case (len, addr, idx) =>
        bb.putInt(len).putLong(addr).putInt(idx)
        inChunk += 1
        if (inChunk == chunkRecs) flushChunk()
      }
      flushChunk()
    }
  }

  /** Streaming single-file HDF5 writer. `h5ver = 0` emits the netCDF4
    * library's default layout (superblock v0, v1 object headers,
    * symbol-table root group); `h5ver = 2` emits the 1.8+ layout
    * (superblock v2, `OHDR` v2 headers, compact Link messages, real
    * lookup3 checksums). Rows stream in; `finish()` assembles the
    * file: metadata addresses are computed in one sizing pass, so
    * nothing is patched after the fact. */
  final class Hdf5Writer(
      schema: StructType,
      chunkRecs: Int = 4096,
      deflate: Boolean = true,
      stringWidth: Int = 32,
      arrayLens: Map[String, Int] = Map.empty,
      h5ver: Int = 0,
      rootAttrs: Seq[(String, String)] = Seq(
        "_NCProperties" -> "version=2,netcdf=4.9.2,hdf5=1.12.2"),
      varAttrs: Map[String, Seq[H5Attr]] = Map.empty,
      shuffle: Boolean = false,
      fletcher: Boolean = false,
      vlenStrings: Boolean = false,
      denseRoot: Boolean = false,
      chunkIndex: String = "btree1",
      denseAttrs: Boolean = false,
      chunkCols: Int = 0,
      layout: String = "chunked",
      eaPageBits: Int = 13,
      vlenSeqs: Boolean = false,
      /** column → enum member table (netCDF4 `createEnumType`): the
        * named column (int/long/short) writes as a class-8 enum */
      enumTypes: Map[String, Seq[(String, Long)]] = Map.empty,
      /** emit big-endian numerics (honest fixtures for the BE read
        * path — nothing modern writes BE, so this is gate plumbing) */
      bigEndian: Boolean = false,
      /** COMMIT user-defined types (enum/compound/vlen-sequence) as
        * named datatype objects linked from the root, with datasets
        * referencing them via SHARED datatype messages — the layout
        * the netCDF4 library actually writes for its user types */
      commitTypes: Boolean = false,
      /** netCDF-4.9 `nc_def_var_quantize`: column → (mode, parameter)
        * with mode "bitgroom" (parameter = significant DIGITS) or
        * "bitround" (parameter = significant BITS); the data stores
        * quantized and the standard `_Quantize…` attribute rides on
        * the variable */
      quantize: Map[String, (String, Int)] = Map.empty,
      /** rank ≥ 3 variables: column → trailing logical dims (the
        * Spark array column flattens them row-major — a (time, lat,
        * lon) variable is `trailDims = Seq(nLat, nLon)` with array
        * length nLat·nLon). The record dim stays dim 0. */
      trailDims: Map[String, Seq[Int]] = Map.empty,
      /** rank ≥ 3 chunking: column → chunk extent per trailing dim
        * (defaults to the full dims; partial extents tile every row
        * block into boxes, the library's default rank-3 layout) */
      trailChunks: Map[String, Seq[Int]] = Map.empty,
      /** column → DEFINED fill value, written in the fill value
        * message (what unallocated chunks of that variable read as) */
      fillValues: Map[String, Double] = Map.empty,
      /** leave all-fill chunks UNALLOCATED (no data, no index entry) —
        * the library's behavior for regions never written; readers
        * serve the fill value for the gaps */
      sparse: Boolean = false,
      /** ZSTANDARD compression level (0 = off): emits registered
        * filter 32015 in the terminal slot — netCDF-4.9's
        * `nc_def_var_zstandard`; mutually exclusive with deflate */
      zstdLevel: Int = 0,
      /** column → netCDF DIMENSION NAMES (record dim first, then the
        * trailing dims). Emits the library's dimension-scale layout:
        * one scale dataset per dim — a named data column of that name
        * becomes the COORDINATE variable (CLASS=DIMENSION_SCALE on
        * itself), otherwise a PHONY dim dataset with the library's
        * "not a netCDF variable" NAME marker and no allocated data —
        * and a DIMENSION_LIST attribute of vlen object references on
        * each data variable. */
      dimScales: Map[String, Seq[String]] = Map.empty,
      /** column → bitfield width in bytes (1|2|4|8): the long column
        * writes as a class-4 BITFIELD of that width (values are the
        * low w bytes; reads return zero-extended) */
      bitfields: Map[String, Int] = Map.empty,
      /** column → (width, tag) for binary columns: each value writes
        * as a class-5 OPAQUE element of exactly `width` bytes
        * (shorter payloads zero-pad, longer truncate); the tag is the
        * datatype's ASCII label (netCDF `createOpaqueType` name) */
      opaques: Map[String, (Int, String)] = Map.empty,
      /** array columns emitted as a class-10 ARRAY datatype over a
        * rank-1 dataspace instead of a trailing dataspace dim — the
        * h5py `dtype=(base, (k,))` layout */
      arrayDatatype: Set[String] = Set.empty,
      /** dataset → (attribute name, referenced dataset names): emits a
        * class-7 OBJECT REFERENCE attribute whose payload is the
        * referenced datasets' header addresses — the
        * "coordinates"-style dataset link wild satellite products
        * carry in their metadata. v2-generation files only (the
        * sizing pass needs the address-free message length). */
      refAttrs: Map[String, (String, Seq[String])] = Map.empty) {
    require(h5ver == 0 || h5ver == 2, s"h5ver must be 0 or 2, got $h5ver")
    require(refAttrs.isEmpty || h5ver == 2,
      "refattr needs the v2-generation writer (h5ver=2)")
    refAttrs.foreach { case (c, (_, targets)) =>
      require(schema.fieldNames.contains(c), s"refattr column $c not in schema")
      targets.foreach(tn => require(schema.fieldNames.contains(tn),
        s"refattr target $tn of $c is not a dataset in this file"))
    }
    bitfields.foreach { case (c, w) =>
      require(Seq(1, 2, 4, 8).contains(w), s"bitfield width for $c must be 1|2|4|8, got $w")
    }
    opaques.foreach { case (c, (w, _)) =>
      require(w >= 1 && w <= 65536, s"opaque width for $c must be in [1, 65536], got $w")
    }
    arrayDatatype.foreach { c =>
      require(schema.fieldNames.contains(c), s"arraydt column $c not in schema")
      require(!vlenSeqs, s"arraydt.$c excludes vlenseqs (a vlen is not a fixed array)")
      require(!trailDims.contains(c) && chunkCols == 0,
        s"arraydt.$c is rank-1 by construction — traildims/chunkcols do not apply")
      require(!dimScales.contains(c),
        s"arraydt.$c has no trailing dataspace dim for a dimension scale to name")
      require(!bigEndian, "arraydt bases are little-endian (class-10 wraps an LE atomic)")
    }
    require(chunkCols >= 0, s"chunkCols must be >= 0, got $chunkCols")
    private val index = ChunkIndex.byName(chunkIndex, h5ver)
    require(chunkCols == 0 || index.holdsTiles,
      s"partial-width tiling produces several chunks per row block — ${index.name} index excluded")
    require(layout == "chunked" || layout == "contiguous" || layout == "compact",
      s"layout must be chunked, contiguous, or compact, got $layout")
    /** contiguous (class 1) data layout — what the netCDF4 library
      * emits for small and coordinate variables; the HDF5 contract
      * admits no filter pipeline outside chunked storage */
    private val contiguousLayout = layout == "contiguous"
    /** compact (class 0): data inline in the object header, ≤64 KiB */
    private val compactLayout = layout == "compact"
    require(!(contiguousLayout || compactLayout) ||
      (!deflate && !shuffle && !fletcher && zstdLevel == 0 && !vlenStrings && !vlenSeqs && chunkCols == 0),
      s"$layout layout admits no filters, vlen data, or tiling (HDF5 contract)")
    require(!denseRoot || h5ver == 2, "dense root groups require the 1.8+ layout (h5ver=2)")
    require(index.holdsFilters || (!deflate && !shuffle && !fletcher && zstdLevel == 0),
      s"${index.name} chunk indexes admit no filter pipeline (HDF5 contract)")
    require(!denseAttrs || h5ver == 2,
      "dense attribute storage requires the 1.8+ layout (h5ver=2)")
    require(!commitTypes || (h5ver == 2 && !denseRoot),
      "committed datatypes require the 1.8+ layout with compact root links")

    private def kindOf(f: StructField): H5Kind = f.dataType match {
      case LongType if bitfields.contains(f.name) => KBitfield(bitfields(f.name))
      case BinaryType =>
        val (w, tag) = opaques.getOrElse(f.name, throw new IllegalArgumentException(
          s"binary column ${f.name} needs opaque.${f.name}=width[:tag] " +
            "(HDF5 opaque elements are fixed-width)"))
        KOpaque(w, tag)
      case LongType if enumTypes.contains(f.name) => KEnum(KLong, enumTypes(f.name))
      case IntegerType if enumTypes.contains(f.name) => KEnum(KInt, enumTypes(f.name))
      case ShortType if enumTypes.contains(f.name) => KEnum(KShort, enumTypes(f.name))
      case LongType => KLong
      case IntegerType => KInt
      case ShortType => KShort
      case DoubleType => KDouble
      case FloatType => KFloat
      case StringType => if (vlenStrings) KVlenStr else KString(stringWidth)
      case ArrayType(FloatType, _) if vlenSeqs => KVlenSeq(KFloat)
      case ArrayType(DoubleType, _) if vlenSeqs => KVlenSeq(KDouble)
      case ArrayType(LongType, _) if vlenSeqs => KVlenSeq(KLong)
      case ArrayType(IntegerType, _) if vlenSeqs => KVlenSeq(KInt)
      case ArrayType(FloatType, _) => KFloatArr(arrayLens(f.name))
      case ArrayType(DoubleType, _) => KDoubleArr(arrayLens(f.name))
      case ArrayType(LongType, _) => KLongArr(arrayLens(f.name))
      case st: StructType =>
        // Spark struct → HDF5 compound (class 6), members packed in
        // field order with no alignment gaps
        var off = 0
        val ms = st.fields.toSeq.map { mf =>
          val mk: H5Kind = mf.dataType match {
            case LongType => KLong
            case IntegerType => KInt
            case ShortType => KShort
            case DoubleType => KDouble
            case FloatType => KFloat
            case StringType => KString(stringWidth)
            case o => throw new IllegalArgumentException(
              s"unsupported compound member type $o for ${f.name}.${mf.name}")
          }
          val m = (mf.name, mk, off)
          off += mk.elemSize
          m
        }
        KCompound(ms, off)
      case other => throw new IllegalArgumentException(s"unsupported HDF5 type $other")
    }

    require(!bigEndian || schema.fields.forall(f => kindOf(f) match {
      case KLong | KInt | KShort | KDouble | KFloat |
           KFloatArr(_) | KDoubleArr(_) | KLongArr(_) | KBitfield(_) => true
      case _ => false
    }), "big-endian output is numeric-only (strings/vlen/compound/enum stay LE)")

    quantize.foreach { case (c, (m, p)) =>
      require(m == "bitgroom" || m == "bitround",
        s"quantize mode for $c must be bitgroom or bitround, got $m")
      require(p >= 1, s"quantize parameter for $c must be >= 1, got $p")
      require(schema.fields.exists(f => f.name == c && (kindOf(f) match {
        case KDouble | KFloat | KDoubleArr(_) | KFloatArr(_) => true
        case _ => false
      })), s"quantize targets a float/double column, got $c")
    }
    /** the standard attribute `nc_def_var_quantize` leaves on the
      * variable (numeric attrs serialize as doubles here — the codec's
      * single numeric attr type; readers compare values, not types) */
    private def quantAttr(col: String): Seq[H5Attr] = quantize.get(col).toSeq.map {
      case ("bitround", nsb) =>
        H5Attr("_QuantizeBitRoundNumberOfSignificantBits", None, Array(nsb.toDouble))
      case (_, nsd) =>
        H5Attr("_QuantizeBitGroomNumberOfSignificantDigits", None, Array(nsd.toDouble))
    }

    trailChunks.keys.foreach(c => require(trailDims.contains(c),
      s"trailChunks for $c needs matching trailDims"))
    require(trailChunks.isEmpty || layout == "chunked",
      "trailing-dim chunking needs chunked storage (HDF5 contract)")
    trailDims.foreach { case (c, ds) =>
      require(ds.nonEmpty && ds.forall(_ >= 1) && ds.length <= 7,
        s"bad trailing dims ${ds.mkString("x")} for $c")
      require(schema.fields.exists(f => f.name == c && (kindOf(f) match {
        case KDoubleArr(_) | KFloatArr(_) | KLongArr(_) => true
        case _ => false
      })), s"trailDims targets a fixed-width numeric array column: $c")
    }

    require(!sparse || (layout == "chunked" && index.holdsGaps && !vlenStrings && !vlenSeqs),
      "sparse writes need a chunked layout with a gap-capable chunk index")
    require(dimScales.isEmpty || (h5ver == 2 && !denseRoot && !denseAttrs),
      "dimension scales need the 1.8+ layout with compact links/attrs")
    dimScales.foreach { case (c, ds) =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"dimnames for unknown column $c"))
      val wantRank = 1 + (kindOf(f) match {
        case KFloatArr(_) | KDoubleArr(_) | KLongArr(_) =>
          math.max(1, trailDims.getOrElse(c, Seq(0)).length)
        case _ => 0
      })
      require(ds.length == wantRank && ds.forall(_.nonEmpty),
        s"dimnames for $c must name $wantRank dims, got ${ds.mkString(",")}")
    }
    /** the coordinate variables: data columns that ARE a named dim */
    private val coordCols: Set[String] =
      dimScales.values.flatten.toSet.intersect(schema.fieldNames.toSet)
    /** element-size fill pattern in file byte order (empty = undefined) */
    private def fillBytesOf(f: StructField): Array[Byte] = fillValues.get(f.name) match {
      case None => Array.emptyByteArray
      case Some(d) =>
        val k = kindOf(f)
        val bb = ByteBuffer.allocate(k.elemSize).order(
          if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
        k match {
          case KDouble | KDoubleArr(_) => bb.putDouble(d)
          case KFloat | KFloatArr(_) => bb.putFloat(d.toFloat)
          case KLong | KLongArr(_) => bb.putLong(d.toLong)
          case KInt => bb.putInt(d.toInt)
          case KShort => bb.putShort(d.toShort)
          case other => throw new IllegalArgumentException(
            s"fill value for non-numeric kind $other on ${f.name}")
        }
        bb.array()
    }

    /** Column `f`'s chunk grid: its trailing dims (rank 2: the one
      * array width) chunked by `trailChunks`, or at rank 2 by
      * `chunkCols`; none for scalars and class-10 arrays. */
    private def geomOf(f: StructField): TileGeom = {
      val width = kindOf(f) match {
        case k @ (KFloatArr(_) | KDoubleArr(_) | KLongArr(_)) => k.rowElems
        case _ => 0
      }
      require(!arrayDatatype(f.name) || width > 0,
        s"arraydt needs an array column, ${f.name} is scalar")
      if (width == 0 || arrayDatatype(f.name)) TileGeom(Nil, Nil)
      else {
        val dims = trailDims.getOrElse(f.name, Seq(width))
        require(dims.product == width,
          s"trailing dims ${dims.mkString("x")} must flatten to $width for ${f.name}")
        val ext = trailChunks.getOrElse(f.name,
          if (chunkCols > 0 && !trailDims.contains(f.name)) Seq(chunkCols) else dims)
        require(ext.length == dims.length &&
          ext.zip(dims).forall { case (c, d) => c >= 1 && c <= d },
          s"trailing chunk dims ${ext.mkString("x")} out of range for ${f.name}")
        TileGeom(dims, ext)
      }
    }

    /** one chunk codec for every variable, ended by finish() or
      * discard(): a zlib stream per chunk is a JNI allocation, and was the
      * sf1 smoke's 4x super-linear term on nc4_extensible_array */
    private val codec = new ChunkCodec

    private val vars: Array[VarState] = schema.fields.map { f =>
      // a data column that IS a named dim is that dim's coordinate
      // variable — it carries the dimension-scale CLASS marker itself
      val scaleAttr =
        if (coordCols(f.name)) Seq(H5Attr("CLASS", Some("DIMENSION_SCALE"), Array.empty))
        else Nil
      new VarState(f.name, kindOf(f), chunkRecs, deflate,
        varAttrs.getOrElse(f.name, Nil) ++ quantAttr(f.name) ++ scaleAttr,
        shuffle, fletcher, bigEndian, quantize.get(f.name), geomOf(f),
        fillBytesOf(f), sparse, zstdLevel,
        arrayDt = arrayDatatype.contains(f.name), codec = codec)
    }

    def writeRow(get: Int => Any): Unit = {
      var i = 0
      while (i < vars.length) { vars(i).putValue(get(i)); i += 1 }
    }

    /** Kind-resolved fast-path tag per column (r17): the DSv2 writer
      * binds one typed put per column instead of boxing every cell
      * through putValue(Any). 0 = general path (strings, vlens,
      * enums, bitfields, compounds, opaques). */
    def fastTag(i: Int): Int = vars(i).kind match {
      case KLong => 1
      case KInt => 2
      case KShort => 3
      case KDouble => 4
      case KFloat => 5
      case KFloatArr(_) => 6
      case KDoubleArr(_) => 7
      case KLongArr(_) => 8
      case _ => 0
    }
    def putLongAt(i: Int, x: Long): Unit = vars(i).putLongV(x)
    def putIntAt(i: Int, x: Int): Unit = vars(i).putIntV(x)
    def putShortAt(i: Int, x: Short): Unit = vars(i).putShortV(x)
    def putDoubleAt(i: Int, x: Double): Unit = vars(i).putDoubleV(x)
    def putFloatAt(i: Int, x: Float): Unit = vars(i).putFloatV(x)
    def putFloatArrAt(i: Int, a: Array[Float]): Unit = vars(i).putFloatArrV(a)
    def putDoubleArrAt(i: Int, a: Array[Double]): Unit = vars(i).putDoubleArrV(a)
    def putLongArrAt(i: Int, a: Array[Long]): Unit = vars(i).putLongArrV(a)
    def putAnyAt(i: Int, v: Any): Unit = vars(i).putValue(v)

    /** The dataset's message set — shared by the v1 and v2 header
      * framings; sizes depend on no address and no chunk entry, so the
      * sizing pass (btreeAddr = 0, no entries) and the render pass both
      * call it. */
    private def datasetMsgs(v: VarState, btreeAddr: Long,
        entries: ChunkIndex.Entries,
        attrInfoAddr: Long = UNDEF,
        typeAddr: Long = UNDEF,
        dimRefs: Seq[(Long, Int)] = Nil,
        objRefs: Seq[(String, Seq[Long])] = Nil): Seq[(Int, Array[Byte])] = {
      val dims: Seq[Long] = v.kind match {
        case KFloatArr(_) | KDoubleArr(_) | KLongArr(_) =>
          v.numRecs +: v.geom.dims.map(_.toLong)
        case _ => Seq(v.numRecs)
      }
      val msgs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      msgs += MSG_DATASPACE -> dataspaceBytes(dims, withMax = true)
      msgs += MSG_DATATYPE -> (
        if (typeAddr != UNDEF) {
          // shared v3 stub: the real datatype lives in the COMMITTED
          // (named) type object — the library's user-type layout
          val sh = new Buf
          sh.u8(3).u8(2).u64(typeAddr)
          sh.result()
        } else datatypeBytes(v.kind, bigEndian, arrayDt = v.arrayDt))
      // fill value v2: defined when the variable carries one (what
      // unallocated sparse chunks read as), else undefined
      msgs += MSG_FILL -> (
        if (v.fillBytes.isEmpty) Array[Byte](2, 2, 2, 0)
        else {
          val fb = new Buf
          fb.u8(2).u8(2).u8(2).u8(1).u32(v.fillBytes.length)
          fb.bytes(v.fillBytes)
          fb.result()
        })
      if (v.deflate || v.shuffle || v.fletcher || v.zstd > 0) {
        val nf = (if (v.fletcher) 1 else 0) + (if (v.shuffle) 1 else 0) +
          (if (v.deflate) 1 else 0) + (if (v.zstd > 0) 1 else 0)
        val f = new Buf
        f.u8(1).u8(nf).zeros(6) // filter pipeline v1
        if (v.fletcher) {
          // fletcher32 (id 3), no name, mandatory, zero client values
          f.u16(3).u16(0).u16(0).u16(0)
        }
        if (v.shuffle) {
          // shuffle (id 2), no name, mandatory, 1 client value = element
          // size in bytes; odd client-value count pads 4 bytes (spec)
          f.u16(2).u16(0).u16(0).u16(1).u32(v.kind.elemSize).u32(0)
        }
        if (v.deflate) {
          f.u16(1).u16(0).u16(0).u16(1).u32(DEFLATE_LEVEL) // deflate, no name, mandatory, level
          f.u32(0) // spec-mandated pad after an ODD client-value count,
          // unconditionally — v1 headers' 8-byte message padding used to
          // mask its absence, but v2 OHDR framing is byte-exact
        }
        if (v.zstd > 0) {
          // zstandard (registered filter 32015 — netCDF-4.9's
          // `nc_def_var_zstandard`): 8-byte NUL-padded name per the
          // v1 framing, 1 client value = compression level (+ the
          // odd-count pad)
          f.u16(32015).u16(5).u16(0).u16(1)
          f.bytes("zstd".getBytes("ASCII")).u8(0).zeros(3)
          f.u32(v.zstd).u32(0)
        }
        msgs += MSG_FILTER -> f.result()
      }
      val lay = new Buf
      val chunkDims: Seq[Int] = v.kind match {
        case KFloatArr(_) | KDoubleArr(_) | KLongArr(_) =>
          v.chunkRecs +: v.geom.chunk
        case _ => Seq(v.chunkRecs)
      }
      if (compactLayout) {
        // layout v3 class 0: the data itself rides in the message,
        // trimmed to the logical size (the final buffered chunk is
        // zero-padded past numRecs)
        val logical = (v.numRecs * v.kind.rowBytes).toInt
        require(logical <= 60000,
          s"compact layout bound for ${v.name}: $logical bytes > 60000 — use contiguous or chunked")
        val data = new Array[Byte](logical)
        var off = 0
        v.stored.foreach { case (bytes, _) =>
          val nb = math.min(bytes.length, logical - off)
          if (nb > 0) System.arraycopy(bytes, 0, data, off, nb)
          off += nb
        }
        lay.u8(3).u8(0).u16(logical).bytes(data)
      } else if (contiguousLayout) {
        // layout v3 class 1: data address + logical byte count (the
        // on-disk run may carry the final row block's zero padding
        // beyond the logical size — readers bound by the dataspace)
        lay.u8(3).u8(1).u64(btreeAddr).u64(v.numRecs * v.kind.rowBytes)
      } else {
        // the element-size dim of layout v3: for a class-10 array
        // datatype the ELEMENT is the whole k-vector, so its size is rowBytes
        index.writeLayout(lay, chunkDims, if (v.arrayDt) v.kind.rowBytes.toInt else v.kind.elemSize,
          btreeAddr, entries, v.indexShape(eaPageBits))
      }
      msgs += MSG_LAYOUT -> lay.result()
      if (denseAttrs && allAttrs(v).nonEmpty) {
        // Attribute Info v0, no creation-order tracking: fractal heap
        // + name-index v2 B-tree replace the inline attribute messages
        val ai = new Buf
        ai.u8(0).u8(0).u64(attrInfoAddr)
        ai.u64(attrInfoAddr + 146 + denseAttrGeom(v)._1)
        msgs += MSG_ATTR_INFO -> ai.result()
      } else
        allAttrs(v).foreach(a => msgs += MSG_ATTRIBUTE -> attributeBytes(a))
      if (dimRefs.nonEmpty)
        msgs += MSG_ATTRIBUTE -> dimListAttrBytes(dimRefs)
      objRefs.foreach { case (an, addrs) =>
        msgs += MSG_ATTRIBUTE -> refAttrBytes(an, addrs)
      }
      msgs.toSeq
    }

    /** Declared attributes + the automatic CF actual_range zone map
      * for scalar numerics — what makes value filters prunable at
      * file level on the read side. INT64 endpoints widen one ulp
      * OUTWARD (a long need not roundtrip through double above 2^53;
      * the r5 zone-map lesson). */
    private def allAttrs(v: VarState): Seq[H5Attr] = {
      val autoRange: Seq[H5Attr] = v.kind match {
        case KLong if v.numRecs > 0 =>
          Seq(H5Attr("actual_range", None,
            Array(math.nextDown(v.vMin), math.nextUp(v.vMax))))
        case KInt | KShort | KDouble | KFloat if v.numRecs > 0 =>
          Seq(H5Attr("actual_range", None, Array(v.vMin, v.vMax)))
        case _ => Nil
      }
      v.attrs ++ autoRange
    }

    /** Dense-attribute segment geometry: (direct block size, total
      * segment size) — address-free, so the sizing pass can lay out
      * var regions before any address exists. */
    private def denseAttrGeom(v: VarState): (Long, Long) = {
      val bodiesLen = allAttrs(v).map(attributeBytes(_).length).sum
      var bs = 512L
      while (bs < 17 + bodiesLen) bs <<= 1
      (bs, 146 + bs + 38 + (6 + allAttrs(v).size * 17 + 4))
    }

    /** Render one variable's dense-attribute segment at `selfAddr`:
      * FRHP (8-byte padded heap ids, the dense-attr convention) + one
      * direct block of serialized attribute messages + a type-8 v2
      * B-tree (heap id, message flags, creation order, name hash). */
    private def denseAttrSegment(v: VarState, selfAddr: Long): Array[Byte] = {
      val bodies = allAttrs(v).map(a => a.name -> attributeBytes(a))
      val (blockSize, segSize) = denseAttrGeom(v)
      val fhdbAddr = selfAddr + 146
      val btLeafAddr = fhdbAddr + blockSize + 38
      val b = new Buf
      val frhp = new Buf
      frhp.bytes("FRHP".getBytes("ASCII")).u8(0)
      frhp.u16(8).u16(0).u8(0) // 8-byte ids (1+4+2 encoded + 1 pad)
      frhp.u32(4096)
      frhp.u64(0L).u64(UNDEF)
      frhp.u64(blockSize - 17 - bodies.map(_._2.length).sum).u64(UNDEF)
      frhp.u64(blockSize).u64(blockSize)
      frhp.u64(blockSize)
      frhp.u64(bodies.size.toLong)
      frhp.u64(0L).u64(0L).u64(0L).u64(0L)
      frhp.u16(4).u64(blockSize).u64(math.max(64L << 10, blockSize))
      frhp.u16(32).u16(1)
      frhp.u64(fhdbAddr).u16(0)
      val frhpBytes = frhp.result()
      b.bytes(frhpBytes).u32(lookup3(frhpBytes))
      require(b.size == 146, s"FRHP size ${b.size}")
      val dbl = new Buf
      dbl.bytes("FHDB".getBytes("ASCII")).u8(0).u64(selfAddr).u32(0)
      bodies.foreach { case (_, body) => dbl.bytes(body) }
      while (dbl.size < blockSize) dbl.u8(0)
      b.bytes(dbl.result())
      var off = 17L
      val recs = bodies.zipWithIndex.map { case ((name, body), i) =>
        val o = off
        off += body.length
        (lookup3(name.getBytes("UTF-8")), o, body.length, i)
      }
      // single-leaf writer: stay inside the declared 512-byte node
      // ((512-10)/17 = 29 records) — the reader handles depth-1 trees
      // but this writer does not emit them for attributes
      require(recs.size <= (512 - 10) / 17,
        s"dense-attribute writer leaf bound: ${recs.size} attributes > 29")
      val hd = new Buf
      hd.bytes("BTHD".getBytes("ASCII")).u8(0).u8(8)
      hd.u32(512).u16(17).u16(0).u8(100).u8(40)
      hd.u64(btLeafAddr).u16(recs.size).u64(recs.size.toLong)
      val hdBytes = hd.result()
      b.bytes(hdBytes).u32(lookup3(hdBytes))
      val lf = new Buf
      lf.bytes("BTLF".getBytes("ASCII")).u8(0).u8(8)
      recs.sortBy { case (h, _, _, _) => h.toLong & 0xffffffffL }.foreach {
        case (h, o, l, i) =>
          lf.u8(0).u32(o.toInt).u16(l).u8(0) // padded 8-byte managed id
          lf.u8(0).u32(i).u32(h) // message flags, creation order, hash
      }
      val lfBytes = lf.result()
      b.bytes(lfBytes).u32(lookup3(lfBytes))
      require(b.size == segSize, s"dense attr segment ${b.size} != $segSize")
      b.result()
    }

    private def datasetHeaderV1(v: VarState, btreeAddr: Long,
        entries: ChunkIndex.Entries): Array[Byte] =
      objectHeaderV1(datasetMsgs(v, btreeAddr, entries))

    /** v1 object header: 12-byte prefix + 4 pad + message block, each
      * message 8-byte header + 8-padded body (spec IV.A.1.a). */
    private def objectHeaderV1(msgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
      val body = new Buf
      msgs.foreach { case (tpe, data) =>
        body.u16(tpe).u16(pad8(data.length)).u8(0).zeros(3)
        body.bytes(data).padTo8()
      }
      val blk = body.result()
      val b = new Buf
      b.u8(1).u8(0).u16(msgs.size).u32(1).u32(blk.length).zeros(4)
      b.bytes(blk)
      b.result()
    }

    /** v2 object header (`OHDR`): flags=0x02 (4-byte chunk0 size, no
      * times, no creation order), lookup3 checksum over the whole
      * header (spec IV.A.1.b). Messages whose type is in
      * `sharedTypes` get the SHARED flag (bit 1) — their body is a
      * committed-object pointer, not the message itself. */
    private def objectHeaderV2(msgs: Seq[(Int, Array[Byte])],
        sharedTypes: Set[Int] = Set.empty): Array[Byte] = {
      val body = new Buf
      msgs.foreach { case (tpe, data) =>
        body.u8(tpe).u16(data.length).u8(if (sharedTypes(tpe)) 2 else 0)
        body.bytes(data)
      }
      val blk = body.result()
      val b = new Buf
      b.bytes("OHDR".getBytes("ASCII")).u8(2).u8(0x02).u32(blk.length)
      b.bytes(blk)
      val pre = b.result()
      val out = new Buf
      out.bytes(pre).u32(lookup3(pre))
      out.result()
    }

    private def datasetHeaderV2(v: VarState, btreeAddr: Long,
        entries: ChunkIndex.Entries, attrInfoAddr: Long = UNDEF, typeAddr: Long,
        dimRefs: Seq[(Long, Int)], objRefs: Seq[(String, Seq[Long])]): Array[Byte] =
      objectHeaderV2(datasetMsgs(v, btreeAddr, entries, attrInfoAddr, typeAddr, dimRefs, objRefs),
        if (typeAddr != UNDEF) Set(MSG_DATATYPE) else Set.empty)

    /** The variable's chunk index over `entries`, at `selfAddr`; the
      * contiguous and compact layouts have none. */
    private def indexBytes(v: VarState, entries: ChunkIndex.Entries,
        selfAddr: Long): Array[Byte] =
      if (contiguousLayout || compactLayout) Array.emptyByteArray
      else index.encode(entries, v.indexShape(eaPageBits), selfAddr)

    /** The address the layout message carries: the contiguous run's or
      * the index kind's (per-var chunk payloads are consecutive). */
    private def layoutAddr(entries: ChunkIndex.Entries, indexAddr: Long): Long = {
      val first = entries.headOption.fold(UNDEF)(_.addr)
      if (contiguousLayout) first else index.layoutAddr(first, indexAddr)
    }

    /** Assemble and return the complete file. */
    def finish(): Array[Byte] = {
      vars.foreach(_.flushChunk())
      val rootAttrMsgs: Seq[(Int, Array[Byte])] =
        rootAttrs.map { case (k, s) => MSG_ATTRIBUTE -> attributeBytes(H5Attr(k, Some(s), Array.empty)) }

      // vlen refs encode through the chunk pipeline inside finishV*,
      // so the codec is ended only once all bytes exist
      try if (h5ver == 0) finishV0(rootAttrMsgs) else finishV2(rootAttrMsgs)
      finally codec.end()
    }

    /** Give up on the file: free the codec's native state. */
    def discard(): Unit = codec.end()

    private final val GCOL_MAX = 64 << 10

    /** Assemble GCOL global-heap collections for every vlen string
      * value, starting at file offset `base`, and push each vlen var's
      * materialized refs through its chunk pipeline. The heap sits at
      * the HEAD of the variable region on purpose: its size depends
      * only on the string payloads (already known), so reference
      * addresses — which live inside the filtered chunks — are
      * computable before the layout pass needs those chunks' stored
      * sizes. Collections are ≥4 KiB (spec III.E; shortfall becomes a
      * free-space pseudo-object 0) and close at ~64 KiB so one huge
      * corpus never builds one huge collection. */
    /** true for both vlen flavors (strings and ragged sequences) */
    private def isVlen(k: H5Kind): Boolean = k match {
      case KVlenStr | KVlenSeq(_) => true
      case _ => false
    }

    private def materializeVlen(base: Long): Array[Byte] = {
      if (!vars.exists(v => isVlen(v.kind))) return Array.emptyByteArray
      val heap = new Buf
      var collStart = 0
      var objs = new Buf
      var nObjs = 0
      def closeColl(): Unit = if (nObjs > 0) {
        val used = 16 + objs.size
        val total =
          if (used >= 4096) used
          else if (4096 - used >= 16) 4096
          else used + 16
        heap.bytes("GCOL".getBytes("ASCII")).u8(1).zeros(3).u64(total.toLong)
        heap.bytes(objs.result())
        val free = total - used
        if (free > 0) {
          // free-space pseudo-object 0; its size includes its own
          // 16-byte header and terminates the object walk
          heap.u16(0).u16(0).u32(0).u64(free.toLong)
          heap.zeros(free - 16)
        }
        collStart = heap.size
        objs = new Buf
        nObjs = 0
      }
      vars.foreach { v =>
        if (isVlen(v.kind)) {
          // sequence refs carry ELEMENT counts; string refs byte counts
          val refElems = v.kind match {
            case KVlenSeq(b) => b.elemSize
            case _ => 1
          }
          val refs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
          v.vlenValues.foreach { bytes =>
            val objSize = 16 + pad8(bytes.length)
            if (nObjs > 0 && 16 + objs.size + objSize + 16 > GCOL_MAX) closeColl()
            nObjs += 1
            objs.u16(nObjs).u16(1).u32(0).u64(bytes.length.toLong)
            objs.bytes(bytes).padTo8()
            refs += ((bytes.length / refElems, base + collStart, nObjs))
          }
          v.flushVlenRefs(refs.toSeq)
        }
      }
      closeColl()
      heap.result()
    }

    /** v0 layout with REAL HDF5 groups (netCDF4 `createGroup` parity):
      * '/'-pathed variable names become one level of old-style
      * subgroups — each group (root included) carries its own local
      * heap + B-tree v1 + SNOD, and the root's SNOD links subgroup
      * object headers next to root-level datasets. */
    private def finishV0(rootAttrMsgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
      // ---- group tree from '/'-pathed names (one level deep)
      val groupNames = scala.collection.mutable.LinkedHashSet.empty[String]
      val groupVarIdx = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
      val rootVarIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      def linkName(i: Int): String = {
        val n = vars(i).name
        val si = n.indexOf('/')
        if (si < 0) n else n.substring(si + 1)
      }
      vars.zipWithIndex.foreach { case (v, i) =>
        val si = v.name.indexOf('/')
        if (si < 0) rootVarIdx += i
        else {
          require(v.name.indexOf('/', si + 1) < 0,
            s"only one group level supported, got ${v.name}")
          val g = v.name.substring(0, si)
          groupNames += g
          groupVarIdx.getOrElseUpdate(g, scala.collection.mutable.ArrayBuffer()) += i
        }
      }
      val groups = groupNames.toSeq

      /** heap segment + per-name offsets for one group's link names */
      def heapOf(names: Seq[String]): (Array[Byte], Map[String, Long]) = {
        val hd = new Buf
        hd.zeros(8)
        val offs = names.map { n =>
          val off = hd.size
          hd.bytes(n.getBytes("UTF-8")).u8(0).padTo8()
          n -> off.toLong
        }.toMap
        (hd.result(), offs)
      }

      val BTREE_SIZE = 24 + 3 * 8 // one leaf entry: key0, child0, key1
      val SUBHDR_SIZE = objectHeaderV1(Seq(
        MSG_SYMBOL_TABLE -> new Buf().u64(0L).u64(0L).result())).length

      // ---- sizing pass: addresses laid out sequentially
      val SUPER = 96
      val rootChildNames = rootVarIdx.map(linkName).toSeq ++ groups
      val (rootHeapSeg, rootHeapOffs) = heapOf(rootChildNames)
      val rootHdrSize = objectHeaderV1(
        (MSG_SYMBOL_TABLE -> new Buf().u64(0L).u64(0L).result()) +: rootAttrMsgs).length
      val rootHdrAddr = SUPER.toLong
      val rootHeapAddr = rootHdrAddr + rootHdrSize
      val rootBtreeAddr = rootHeapAddr + 32 + rootHeapSeg.length
      val rootSnodAddr = rootBtreeAddr + BTREE_SIZE
      var cursor = rootSnodAddr + 8 + rootChildNames.size * 40

      // subgroup structures
      case class GroupLayout(hdrAddr: Long, heapAddr: Long, btreeAddr: Long,
        snodAddr: Long, heapSeg: Array[Byte], heapOffs: Map[String, Long])
      val glay = groups.map { g =>
        val names = groupVarIdx(g).map(linkName).toSeq
        val (seg, offs) = heapOf(names)
        val hdrAddr = cursor
        val heapAddr = hdrAddr + SUBHDR_SIZE
        val btreeAddr = heapAddr + 32 + seg.length
        val snodAddr = btreeAddr + BTREE_SIZE
        cursor = snodAddr + 8 + names.size * 40
        g -> GroupLayout(hdrAddr, heapAddr, btreeAddr, snodAddr, seg, offs)
      }.toMap

      // vlen global heap at the head of the var region (see
      // materializeVlen): refs resolve, vlen chunks filter, and only
      // then does the per-var layout below read their stored sizes
      val gcolAddr = cursor
      val gcolSeg = materializeVlen(gcolAddr)
      cursor += gcolSeg.length

      val varHdrAddrs = new Array[Long](vars.length)
      val varBtreeAddrs = new Array[Long](vars.length)
      val varEntries = new Array[ChunkIndex.Entries](vars.length)
      vars.zipWithIndex.foreach { case (v, i) =>
        varHdrAddrs(i) = cursor
        cursor += datasetHeaderV1(v, 0L, Vector.empty).length // size is address-independent
        // a compact layout's data rides in its header
        varEntries(i) = if (compactLayout) Vector.empty else v.entries(cursor)
        cursor += varEntries(i).map(_.storedSize).sum
        varBtreeAddrs(i) = cursor
        cursor += indexBytes(v, varEntries(i), 0L).length
      }
      val eof = cursor

      /** render one group's heap + btree + snod given child links */
      def renderGroup(out: Buf, heapAddr: Long, btreeAddr: Long, snodAddr: Long,
          heapSeg: Array[Byte], heapOffs: Map[String, Long],
          children: Seq[(String, Long)]): Unit = {
        val _ = btreeAddr
        // local heap (spec III.D)
        out.bytes("HEAP".getBytes("ASCII")).u8(0).zeros(3)
        out.u64(heapSeg.length.toLong).u64(UNDEF).u64(heapAddr + 32)
        out.bytes(heapSeg)
        // group B-tree v1, one leaf entry → the SNOD (spec III.A.1)
        val sorted = children.sortBy(_._1)
        out.bytes("TREE".getBytes("ASCII")).u8(0).u8(0).u16(1)
        out.u64(UNDEF).u64(UNDEF)
        out.u64(0L) // key0: empty-string heap offset (sorts first)
        out.u64(snodAddr)
        out.u64(heapOffs(sorted.last._1)) // key1: greatest name in child
        // SNOD (spec III.C), entries sorted by link name
        out.bytes("SNOD".getBytes("ASCII")).u8(1).u8(0).u16(children.size)
        sorted.foreach { case (nm, addr) =>
          out.u64(heapOffs(nm)).u64(addr).u32(0).u32(0).zeros(16)
        }
      }

      // ---- render
      val out = new Buf
      // superblock v0 (spec II.A.1)
      out.bytes(Array[Byte](0x89.toByte, 'H', 'D', 'F', 0x0d, 0x0a, 0x1a, 0x0a))
      out.u8(0).u8(0).u8(0).u8(0).u8(0) // versions + reserved
      out.u8(8).u8(8).u8(0) // sizeof offsets/lengths
      out.u16(4).u16(16) // group leaf/internal K
      out.u32(0) // consistency flags
      out.u64(0L).u64(UNDEF).u64(eof).u64(UNDEF)
      // root symbol table entry: cache type 0 → header's STAB message rules
      out.u64(0L).u64(rootHdrAddr).u32(0).u32(0).zeros(16)
      require(out.size == SUPER, s"superblock size ${out.size}")
      // root object header
      val stab = new Buf
      stab.u64(rootBtreeAddr).u64(rootHeapAddr)
      out.bytes(objectHeaderV1((MSG_SYMBOL_TABLE -> stab.result()) +: rootAttrMsgs))
      val rootChildren: Seq[(String, Long)] =
        rootVarIdx.map(i => linkName(i) -> varHdrAddrs(i)).toSeq ++
          groups.map(g => g -> glay(g).hdrAddr)
      renderGroup(out, rootHeapAddr, rootBtreeAddr, rootSnodAddr,
        rootHeapSeg, rootHeapOffs, rootChildren)
      // subgroups: object header (STAB only) + their own heap/btree/snod
      groups.foreach { g =>
        val gl = glay(g)
        require(out.size == gl.hdrAddr, s"group $g layout drift")
        val gstab = new Buf
        gstab.u64(gl.btreeAddr).u64(gl.heapAddr)
        out.bytes(objectHeaderV1(Seq(MSG_SYMBOL_TABLE -> gstab.result())))
        renderGroup(out, gl.heapAddr, gl.btreeAddr, gl.snodAddr, gl.heapSeg, gl.heapOffs,
          groupVarIdx(g).map(i => linkName(i) -> varHdrAddrs(i)).toSeq)
      }
      if (gcolSeg.nonEmpty) {
        require(out.size == gcolAddr, s"gcol layout drift: ${out.size} != $gcolAddr")
        out.bytes(gcolSeg)
      }
      // datasets
      vars.zipWithIndex.foreach { case (v, i) =>
        out.bytes(datasetHeaderV1(v, layoutAddr(varEntries(i), varBtreeAddrs(i)), varEntries(i)))
        if (!compactLayout)
          v.stored.foreach { case (bytes, _) => if (bytes != null) out.bytes(bytes) }
        out.bytes(indexBytes(v, varEntries(i), varBtreeAddrs(i)))
      }
      val res = out.result()
      require(res.length == eof, s"layout drift: ${res.length} != $eof")
      res
    }

    private def finishV2(rootAttrMsgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
      require(vars.forall(_.name.indexOf('/') < 0),
        "grouped ('/'-pathed) variables are supported in the v0 layout only")
      val SUPER = 48
      // link messages: v1, flags=0 (1-byte name length, hard link)
      def linkMsg(name: String, addr: Long): Array[Byte] = {
        val nb = name.getBytes("UTF-8")
        val b = new Buf
        b.u8(1).u8(0).u8(nb.length).bytes(nb).u64(addr)
        b.result()
      }
      // dense-root geometry (all address-independent): one FRHP +
      // one root DIRECT block holding every serialized link body +
      // a depth-0 v2 B-tree (type 5) over (name-hash, heap id)
      val denseBodiesLen = vars.map(v => linkMsg(v.name, 0L).length).sum
      val denseBlockSize: Long =
        if (!denseRoot) 0L
        else { var s = 512L; while (s < 17 + denseBodiesLen) s <<= 1; s }
      val denseSize: Long =
        if (!denseRoot) 0L
        else 146 + denseBlockSize + 38 + (6 + vars.length * 11 + 4)

      // committed user-defined types: one named-type object per
      // distinct kind, linked from the root; datasets reference them
      // via shared datatype messages (the library's user-type layout)
      val commitKinds: Seq[H5Kind] =
        if (!commitTypes) Nil
        else vars.map(_.kind).collect {
          case k @ (KEnum(_, _) | KCompound(_, _) | KVlenSeq(_)) => k
        }.distinct
      val typeHdrs: Seq[Array[Byte]] =
        commitKinds.map(k => objectHeaderV2(Seq(MSG_DATATYPE -> datatypeBytes(k))))
      def typeName(i: Int): String = s"_type$i"

      // ---- netCDF dimension scales: ordered dim table, per-dim
      // length (record dim = numRecs, trailing dims from the array
      // geometry), PHONY scale datasets for dims without a coordinate
      // variable (contiguous layout, data address UNDEF — zero
      // storage, the library's shape for never-written dims), and one
      // global-heap collection holding the per-dim reference payloads
      // the DIMENSION_LIST attributes point into ----
      val dimNames: Seq[String] = dimScales.values.flatten.toSeq.distinct
      val dimLen: Map[String, Long] = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        dimScales.foreach { case (c, ds) =>
          val v = vars.find(_.name == c).get
          ds.zipWithIndex.foreach { case (d, i) =>
            val n = if (i == 0) v.numRecs else v.geom.dims(i - 1).toLong
            require(m.getOrElse(d, n) == n,
              s"dim $d length drift: ${m.getOrElse(d, n)} vs $n")
            m(d) = n
          }
        }
        m.toMap
      }
      def phonyDimHdr(len: Long): Array[Byte] = {
        val l = new Buf
        l.u8(3).u8(1).u64(UNDEF).u64(len * 8)
        objectHeaderV2(Seq(
          MSG_DATASPACE -> dataspaceBytes(Seq(len), withMax = true),
          MSG_DATATYPE -> datatypeBytes(KDouble),
          MSG_FILL -> Array[Byte](2, 2, 2, 0),
          MSG_LAYOUT -> l.result(),
          MSG_ATTRIBUTE -> attributeBytes(H5Attr("CLASS", Some("DIMENSION_SCALE"), Array.empty)),
          MSG_ATTRIBUTE -> attributeBytes(H5Attr("NAME", Some(phonyDimName(len)), Array.empty))))
      }
      val phonyDims: Seq[String] = dimNames.filterNot(coordCols)
      val phonyHdrs: Seq[Array[Byte]] = phonyDims.map(d => phonyDimHdr(dimLen(d)))
      def dimGcolSeg(scaleAddrs: Seq[Long]): Array[Byte] = {
        if (scaleAddrs.isEmpty) return Array.emptyByteArray
        val objs = new Buf
        scaleAddrs.zipWithIndex.foreach { case (a, i) =>
          objs.u16(i + 1).u16(1).u32(0).u64(8L)
          objs.u64(a) // the 8-byte object-reference payload
        }
        val used = 16 + objs.size
        val total =
          if (used >= 4096) used
          else if (4096 - used >= 16) 4096 else used + 16
        val b = new Buf
        b.bytes("GCOL".getBytes("ASCII")).u8(1).zeros(3).u64(total.toLong)
        b.bytes(objs.result())
        val free = total - used
        if (free > 0) { b.u16(0).u16(0).u32(0).u64(free.toLong); b.zeros(free - 16) }
        b.result()
      }

      // sizing: root header size depends only on message sizes
      def rootMsgs(addrs: Seq[Long], fheapAddr: Long,
          typeAddrs: Seq[Long], phonyAddrs: Seq[Long]): Seq[(Int, Array[Byte])] =
        if (denseRoot) {
          // Link Info v0, no creation-order tracking: fractal heap
          // address + name-index v2 B-tree address
          val b = new Buf
          b.u8(0).u8(0).u64(fheapAddr).u64(fheapAddr + 146 + denseBlockSize)
          (MSG_LINK_INFO -> b.result()) +: rootAttrMsgs
        } else
          vars.zipWithIndex.map { case (v, i) => MSG_LINK -> linkMsg(v.name, addrs(i)) }.toSeq ++
            typeAddrs.zipWithIndex.map { case (a, i) => MSG_LINK -> linkMsg(typeName(i), a) } ++
            phonyDims.zip(phonyAddrs).map { case (d, a) => MSG_LINK -> linkMsg(d, a) } ++
            rootAttrMsgs
      val rootHdrSize = objectHeaderV2(
        rootMsgs(vars.map(_ => 0L).toSeq, 0L, commitKinds.map(_ => 0L),
          phonyDims.map(_ => 0L))).length
      var cursor = SUPER.toLong + rootHdrSize
      val typeAddrs: Seq[Long] = typeHdrs.map { th =>
        val a = cursor; cursor += th.length; a
      }
      val typeAddrOf: Map[H5Kind, Long] = commitKinds.zip(typeAddrs).toMap
      val phonyAddrs: Seq[Long] = phonyHdrs.map { h =>
        val a = cursor; cursor += h.length; a
      }
      val dimGcolAddr = cursor
      cursor += dimGcolSeg(dimNames.map(_ => 0L)).length
      /** DIMENSION_LIST refs for one variable (coordinate variables
        * are scales themselves — no list, per the library) */
      def dimRefsFor(v: VarState): Seq[(Long, Int)] =
        if (coordCols(v.name)) Nil
        else dimScales.getOrElse(v.name, Nil).map(d =>
          (dimGcolAddr, dimNames.indexOf(d) + 1))
      /** class-7 reference attrs for one variable: target names
        * resolve to final header addresses (zeros in the sizing pass
        * — the message length is address-free). */
      def objRefsFor(v: VarState, hdrAddrs: Seq[Long]): Seq[(String, Seq[Long])] =
        refAttrs.get(v.name).toSeq.map { case (an, targets) =>
          an -> targets.map(tn => hdrAddrs(vars.indexWhere(_.name == tn)))
        }
      // vlen global heap ahead of the var region (see materializeVlen)
      val gcolAddr = cursor
      val gcolSeg = materializeVlen(gcolAddr)
      cursor += gcolSeg.length
      val denseAddr = cursor
      cursor += denseSize

      /** Render the dense-root segment at `fheapAddr` given final
        * dataset header addresses. */
      def denseSeg(addrs: Seq[Long], fheapAddr: Long): Array[Byte] = {
        val bodies = vars.zipWithIndex.map { case (v, i) => linkMsg(v.name, addrs(i)) }
        val fhdbAddr = fheapAddr + 146
        val btLeafAddr = fhdbAddr + denseBlockSize + 38
        val b = new Buf
        // FRHP (spec III.G): heap id = 1 flag + 4 offset (32-bit max
        // heap size) + 2 length (4096 max managed object) = 7 bytes
        val frhp = new Buf
        frhp.bytes("FRHP".getBytes("ASCII")).u8(0)
        frhp.u16(7).u16(0).u8(0)
        frhp.u32(4096)
        frhp.u64(0L).u64(UNDEF) // next huge id, huge-object B-tree
        frhp.u64(denseBlockSize - 17 - denseBodiesLen).u64(UNDEF) // free space, fs manager
        frhp.u64(denseBlockSize).u64(denseBlockSize) // managed space, allocated
        frhp.u64(denseBlockSize) // direct-block iterator offset
        frhp.u64(bodies.size.toLong)
        frhp.u64(0L).u64(0L).u64(0L).u64(0L) // huge/tiny size+count
        frhp.u16(4).u64(denseBlockSize).u64(math.max(64L << 10, denseBlockSize))
        frhp.u16(32).u16(1) // max heap size (bits), starting rows
        frhp.u64(fhdbAddr).u16(0) // root block is a DIRECT block
        val frhpBytes = frhp.result()
        b.bytes(frhpBytes).u32(lookup3(frhpBytes))
        require(b.size == 146, s"FRHP size ${b.size}")
        // FHDB root direct block: header + link bodies, zero-padded
        val dbl = new Buf
        dbl.bytes("FHDB".getBytes("ASCII")).u8(0).u64(fheapAddr).u32(0)
        bodies.foreach(dbl.bytes(_))
        while (dbl.size < denseBlockSize) dbl.u8(0)
        b.bytes(dbl.result())
        // heap ids in insertion order; B-tree records sort by hash
        var off = 17L
        val recs = vars.zipWithIndex.map { case (v, i) =>
          val o = off
          off += bodies(i).length
          (lookup3(v.name.getBytes("UTF-8")), o, bodies(i).length)
        }
        // single-leaf writer: stay inside the declared 512-byte node
        // ((512-10)/11 = 45 records) — the reader handles depth-1
        // trees but this writer does not emit them for links
        require(recs.size <= (512 - 10) / 11,
          s"dense-link writer leaf bound: ${recs.size} variables > 45")
        val hd = new Buf
        hd.bytes("BTHD".getBytes("ASCII")).u8(0).u8(5)
        hd.u32(512).u16(11).u16(0).u8(100).u8(40)
        hd.u64(btLeafAddr).u16(recs.size).u64(recs.size.toLong)
        val hdBytes = hd.result()
        b.bytes(hdBytes).u32(lookup3(hdBytes))
        val lf = new Buf
        lf.bytes("BTLF".getBytes("ASCII")).u8(0).u8(5)
        recs.sortBy { case (h, _, _) => h.toLong & 0xffffffffL }.foreach {
          case (h, o, l) => lf.u32(h).u8(0).u32(o.toInt).u16(l)
        }
        val lfBytes = lf.result()
        b.bytes(lfBytes).u32(lookup3(lfBytes))
        require(b.size == denseSize, s"dense segment size ${b.size} != $denseSize")
        b.result()
      }

      val varHdrAddrs = new Array[Long](vars.length)
      val varAttrAddrs = new Array[Long](vars.length)
      val varBtreeAddrs = new Array[Long](vars.length)
      val varEntries = new Array[ChunkIndex.Entries](vars.length)
      vars.zipWithIndex.foreach { case (v, i) =>
        varHdrAddrs(i) = cursor
        cursor += datasetHeaderV2(v, 0L, Vector.empty,
          typeAddr = typeAddrOf.getOrElse(v.kind, UNDEF),
          dimRefs = dimRefsFor(v),
          objRefs = objRefsFor(v, vars.map(_ => 0L))).length
        varAttrAddrs(i) = cursor
        if (denseAttrs && allAttrs(v).nonEmpty) cursor += denseAttrGeom(v)._2
        // a compact layout's data rides in its header
        varEntries(i) = if (compactLayout) Vector.empty else v.entries(cursor)
        cursor += varEntries(i).map(_.storedSize).sum
        varBtreeAddrs(i) = cursor
        cursor += indexBytes(v, varEntries(i), 0L).length
      }
      val eof = cursor

      val out = new Buf
      // superblock v2 (spec II.A.2): checksummed
      val sb = new Buf
      sb.bytes(Array[Byte](0x89.toByte, 'H', 'D', 'F', 0x0d, 0x0a, 0x1a, 0x0a))
      sb.u8(2).u8(8).u8(8).u8(0)
      sb.u64(0L).u64(UNDEF).u64(eof).u64(SUPER.toLong + 0) // root header follows
      val sbBytes = sb.result()
      out.bytes(sbBytes).u32(lookup3(sbBytes))
      require(out.size == SUPER, s"superblock v2 size ${out.size}")
      out.bytes(objectHeaderV2(
        rootMsgs(varHdrAddrs.toSeq, denseAddr, typeAddrs, phonyAddrs)))
      typeHdrs.zip(typeAddrs).foreach { case (th, a) =>
        require(out.size == a, s"named-type layout drift: ${out.size} != $a")
        out.bytes(th)
      }
      phonyHdrs.zip(phonyAddrs).foreach { case (ph, a) =>
        require(out.size == a, s"phony-dim layout drift: ${out.size} != $a")
        out.bytes(ph)
      }
      if (dimNames.nonEmpty) {
        require(out.size == dimGcolAddr,
          s"dim gcol layout drift: ${out.size} != $dimGcolAddr")
        // each dim's reference payload: the scale object's header
        // address — the coordinate VARIABLE's header when the dim has
        // one, else the phony scale dataset
        out.bytes(dimGcolSeg(dimNames.map { d =>
          vars.indexWhere(_.name == d) match {
            case -1 => phonyAddrs(phonyDims.indexOf(d))
            case vi => varHdrAddrs(vi)
          }
        }))
      }
      if (gcolSeg.nonEmpty) {
        require(out.size == gcolAddr, s"gcol layout drift: ${out.size} != $gcolAddr")
        out.bytes(gcolSeg)
      }
      if (denseRoot) {
        require(out.size == denseAddr, s"dense layout drift: ${out.size} != $denseAddr")
        out.bytes(denseSeg(varHdrAddrs.toSeq, denseAddr))
      }
      vars.zipWithIndex.foreach { case (v, i) =>
        out.bytes(datasetHeaderV2(v, layoutAddr(varEntries(i), varBtreeAddrs(i)), varEntries(i),
          varAttrAddrs(i), typeAddrOf.getOrElse(v.kind, UNDEF), dimRefsFor(v),
          objRefsFor(v, varHdrAddrs.toSeq)))
        if (denseAttrs && allAttrs(v).nonEmpty) {
          require(out.size == varAttrAddrs(i),
            s"dense attr layout drift: ${out.size} != ${varAttrAddrs(i)}")
          out.bytes(denseAttrSegment(v, varAttrAddrs(i)))
        }
        if (!compactLayout)
          v.stored.foreach { case (bytes, _) => if (bytes != null) out.bytes(bytes) }
        out.bytes(indexBytes(v, varEntries(i), varBtreeAddrs(i)))
      }
      val res = out.result()
      require(res.length == eof, s"layout drift: ${res.length} != $eof")
      res
    }
  }

  // ---------------------------------------------------------------
  // reader
  // ---------------------------------------------------------------

  /** Positioned reads of a file opened by [[openShifted]]; `eof` is its
    * length from the superblock, where [[readMeta]] knows it. */
  private[netcdf] final class R(in: FSDataInputStream, val eof: Long = Long.MaxValue) {
    def seek(pos: Long): Unit = in.seek(pos)
    def pos: Long = in.getPos
    def readFully(b: Array[Byte]): Array[Byte] = { in.readFully(b, 0, b.length); b }
    def bytesAt(addr: Long, n: Int): Array[Byte] = {
      val b = new Array[Byte](n); in.readFully(addr, b, 0, n); b
    }
  }

  private[netcdf] final class BB(val data: Array[Byte]) {
    var off = 0
    def u8(): Int = { val v = data(off) & 0xff; off += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = (u16() | (u16() << 16)).toLong & 0xffffffffL
    def u64(): Long = u32() | (u32() << 32)
    def skip(n: Int): Unit = off += n
    def remaining: Int = data.length - off
    def slice(n: Int): Array[Byte] = { val b = java.util.Arrays.copyOfRange(data, off, off + n); off += n; b }
  }

  /** Parse one nested (compound-member) datatype message in place —
    * scalar subset only (LE int 2/4/8, IEEE float 4/8, fixed string). */
  private def parseMemberDt(b: BB, ctx: String): H5Kind = {
    val clsVer = b.u8()
    val cls = clsVer & 0x0f
    val bf0 = b.u8()
    b.skip(2)
    val size = b.u32().toInt
    if (cls <= 1 && (bf0 & 1) != 0)
      throw new java.io.IOException(s"big-endian compound member unsupported in $ctx")
    (cls, size) match {
      case (0, 8) => b.skip(4); KLong
      case (0, 4) => b.skip(4); KInt
      case (0, 2) => b.skip(4); KShort
      case (1, 8) => b.skip(12); KDouble
      case (1, 4) => b.skip(12); KFloat
      case (3, w) => KString(w)
      case other => throw new java.io.IOException(
        s"unsupported compound member datatype $other in $ctx")
    }
  }

  /** Test hook: parse a full class-6 datatype MESSAGE body (prefix +
    * members) — lets specs pin the v2/v3 wild-file member framings the
    * in-repo writer does not emit. */
  private[graft] def parseCompoundMessage(body: Array[Byte]): Seq[(String, H5Kind, Int)] = {
    val b = new BB(body)
    val clsVer = b.u8()
    require((clsVer & 0x0f) == 6, s"not a compound datatype: class ${clsVer & 0x0f}")
    val bf0 = b.u8(); val bf1 = b.u8(); b.skip(1)
    val size = b.u32().toInt
    parseCompoundMembers(b, clsVer >> 4, bf0 | (bf1 << 8), size, "test")
  }

  /** Compound (class 6) member list: all three on-disk message
    * versions — v1 (8-padded names + dimensionality block), v2
    * (8-padded names, no dims), v3 (unpadded names, minimal-byte
    * offsets — what HDF5 1.8+ writers emit). */
  private def parseCompoundMembers(b: BB, ver: Int, nMembers: Int,
      elemSize: Int, ctx: String): Seq[(String, H5Kind, Int)] = {
    require(ver >= 1 && ver <= 3, s"compound datatype v$ver unsupported in $ctx")
    (0 until nMembers).map { _ =>
      val start = b.off
      var len = 0
      while (b.data(start + len) != 0) len += 1
      val name = new String(b.data, start, len, "UTF-8")
      // the name FIELD pads to 8 bytes of its own length in v1/v2
      if (ver <= 2) b.skip(((len + 1 + 7) / 8) * 8)
      else b.skip(len + 1)
      val off =
        if (ver <= 2) b.u32().toInt
        else {
          var nb = 1
          while (nb < 8 && (1L << (8 * nb)) < elemSize) nb += 1
          var v = 0L
          (0 until nb).foreach(i => v |= (b.u8().toLong << (8 * i)))
          v.toInt
        }
      if (ver == 1) b.skip(28) // dimensionality block (scalar members)
      (name, parseMemberDt(b, s"$ctx.$name"), off)
    }
  }

  /** All (type, body) messages of an object header, following both v1
    * and v2 framing and continuation blocks. */
  /** Test probe: parse an object header's messages from a file —
    * exercises the v1/v2 framing INCLUDING continuation blocks, which
    * this repo's writer never emits (single-block headers) but wild
    * files produced by the HDF5 library routinely do. */
  private[graft] def readMessagesAt(fs: FileSystem, path: Path,
      addr: Long): Seq[(Int, Array[Byte])] = {
    val in = fs.open(path)
    try readMessages(new R(in), addr) finally in.close()
  }

  /** A SHARED message (header flags bit 1): the body is a pointer at
    * a COMMITTED (named) object — how the netCDF4 library stores
    * every user-defined type (`createCompoundType`/`createVLType`/
    * `createEnumType` commit the datatype and datasets reference it).
    * Resolve by reading the named object's header (shared resolution
    * off — one level, per the format) and substituting its message of
    * the same type. */
  private def resolveShared(r: R, tpe: Int, body: Array[Byte]): Array[Byte] = {
    val b = new BB(body)
    val ver = b.u8()
    require(ver >= 1 && ver <= 3, s"shared message v$ver unsupported")
    val stype = b.u8()
    if (ver == 1) b.skip(6) // reserved
    require(ver == 3 || stype != 1,
      "shared-message-heap storage unsupported (committed objects only)")
    require(ver != 3 || stype == 2,
      s"shared message v3 type $stype unsupported (committed objects only)")
    val target = b.u64()
    readMessages(r, target, resolve = false).collectFirst {
      case (t, bd) if t == tpe => bd
    }.getOrElse(throw new java.io.IOException(
      s"committed object at $target has no message of type $tpe"))
  }

  private def readMessages(r: R, addr: Long,
      resolve: Boolean = true): Seq[(Int, Array[Byte])] = {
    val first = r.bytesAt(addr, 16)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    def append(tpe: Int, body: Array[Byte], mflags: Int): Unit =
      msgs += tpe -> (
        if (resolve && (mflags & 2) != 0) resolveShared(r, tpe, body) else body)
    if (first(0) == 1) {
      // v1: prefix then hdrSize bytes of messages at addr+16
      val h = new BB(first)
      h.skip(2)
      var nmsgs = h.u16()
      h.skip(4)
      val hdrSize = h.u32().toInt
      var blocks = List((addr + 16, hdrSize))
      while (blocks.nonEmpty && nmsgs > 0) {
        val (ba, bl) = blocks.head
        blocks = blocks.tail
        val b = new BB(r.bytesAt(ba, bl))
        while (b.remaining >= 8 && nmsgs > 0) {
          val tpe = b.u16()
          val sz = b.u16()
          val mflags = b.u8()
          b.skip(3)
          if (sz > b.remaining) { nmsgs = 0 }
          else {
            val body = b.slice(sz)
            nmsgs -= 1
            if (tpe == MSG_CONTINUATION) {
              val c = new BB(body)
              blocks = (c.u64(), c.u64().toInt) :: blocks
            } else append(tpe, body, mflags)
          }
        }
      }
    } else if (first(0) == 'O' && first(1) == 'H' && first(2) == 'D' && first(3) == 'R') {
      val flags = first(5) & 0xff
      var p = addr + 6
      if ((flags & 0x20) != 0) p += 16 // times
      if ((flags & 0x10) != 0) p += 4 // attr phase-change
      val szLen = 1 << (flags & 3)
      val szB = new BB(r.bytesAt(p, szLen))
      val chunk0 = szLen match {
        case 1 => szB.u8().toLong
        case 2 => szB.u16().toLong
        case 4 => szB.u32()
        case 8 => szB.u64()
      }
      p += szLen
      var blocks = List((p, chunk0.toInt, false))
      while (blocks.nonEmpty) {
        val (ba, bl, isOchk) = blocks.head
        blocks = blocks.tail
        val raw = r.bytesAt(ba, bl)
        val b = new BB(raw)
        if (isOchk) b.skip(4) // 'OCHK' signature
        val limit = if (isOchk) bl - 4 else bl // trailing checksum in OCHK
        // v2 message header: type(1), size(2), flags(1) [+2 creation order]
        val mh = 4 + (if ((flags & 0x04) != 0) 2 else 0)
        while (limit - b.off >= mh) {
          val tpe = b.u8()
          val sz = b.u16()
          val mflags = b.u8()
          b.skip(mh - 4)
          if (sz > limit - b.off) b.off = limit
          else {
            val body = b.slice(sz)
            if (tpe == MSG_CONTINUATION) {
              val c = new BB(body)
              blocks = (c.u64(), c.u64().toInt, true) :: blocks
            } else append(tpe, body, mflags)
          }
        }
      }
    } else throw new java.io.IOException(s"not an object header at $addr")
    msgs.toSeq
  }

  /** Verify a v2-generation structure's trailing lookup3 checksum:
    * `bytes[0, upto)` must hash to the LE u32 at `upto`. Corruption
    * fails LOUDLY — a flipped bit in a chunk-index node must never
    * silently misaddress data. */
  private[netcdf] def verifyCk(bytes: Array[Byte], upto: Int, what: String, addr: Long): Unit = {
    val stored = (bytes(upto) & 0xff) | ((bytes(upto + 1) & 0xff) << 8) |
      ((bytes(upto + 2) & 0xff) << 16) | ((bytes(upto + 3) & 0xff) << 24)
    val computed = lookup3(java.util.Arrays.copyOfRange(bytes, 0, upto))
    if (stored != computed) throw new java.io.IOException(
      f"$what checksum mismatch at $addr (stored 0x$stored%08x, computed 0x$computed%08x)")
  }

  /** Fractal heap access (spec III.G): header parse + managed-object
    * resolution, shared by dense links and dense attributes. Root is
    * either one direct block (curRows == 0) or an indirect block whose
    * rows follow the doubling table: rows 0,1 at startBlockSize, row
    * i≥2 at startBlockSize << (i-1). Block offsets include block
    * headers, so position = blockAddr + (objOff - blockOff),
    * header-agnostic. */
  private final class FractalHeap(r: R, fheapAddr: Long) {
    private val fh = new BB(r.bytesAt(fheapAddr, 146))
    require(fh.u8() == 'F' && fh.u8() == 'R' && fh.u8() == 'H' && fh.u8() == 'P',
      s"bad fractal heap signature at $fheapAddr")
    locally { fh.skip(1) } // version
    val heapIdLen: Int = fh.u16()
    private val ioFilterLen = fh.u16()
    require(ioFilterLen == 0, "filtered fractal heaps unsupported")
    locally { fh.skip(1) } // flags (checksums do not move object offsets)
    private val maxManaged = fh.u32()
    locally { fh.skip(12 * 8) } // huge/tiny/free-space bookkeeping
    private val tableWidth = fh.u16()
    private val startBlockSize = fh.u64()
    private val maxDirectSize = fh.u64()
    private val maxHeapBits = fh.u16()
    locally { fh.skip(2) } // starting # rows
    private val rootBlockAddr = fh.u64()
    private val curRows = fh.u16()
    val offSize: Int = (maxHeapBits + 7) / 8
    val lenSize: Int = {
      var n = 1
      while (n < 8 && (1L << (8 * n)) < maxManaged) n += 1
      n
    }
    // ids may be padded past the encoded fields (dense-attribute heaps
    // declare 8-byte ids over the same 1+offset+length encoding)
    require(1 + offSize + lenSize <= heapIdLen,
      s"heap id length $heapIdLen < 1+$offSize+$lenSize")

    /** Walk one indirect block (`nrows` rows of the doubling table —
      * row sizes restart at `startBlockSize` in every indirect block,
      * per the spec's recursive definition) down to the direct block
      * holding `objOff`. Rows whose block size exceeds
      * `maxDirectSize` hold CHILD INDIRECT blocks; a child covering S
      * bytes has log2(S) − log2(startBlockSize·tableWidth) + 1 rows
      * (the row sum telescopes to exactly S), so many-thousand-link
      * wild groups resolve through arbitrarily nested tables. */
    private def locate(iblockAddr: Long, nrows: Int, objOff: Long): Long = {
      val ib = new BB(r.bytesAt(iblockAddr, 13 + offSize + nrows * tableWidth * 8))
      require(ib.u8() == 'F' && ib.u8() == 'H' && ib.u8() == 'I' && ib.u8() == 'B',
        s"bad indirect block signature at $iblockAddr")
      ib.skip(1 + 8 + offSize) // version, heap header address, block offset
      var row = 0
      var blockOff = 0L
      while (row < nrows) {
        val rowSize = if (row < 2) startBlockSize else startBlockSize << (row - 1)
        var col = 0
        while (col < tableWidth) {
          val childAddr = ib.u64()
          if (objOff >= blockOff && objOff < blockOff + rowSize) {
            if (childAddr == UNDEF) throw new java.io.IOException(
              s"heap offset $objOff lands in an unallocated block")
            return if (rowSize <= maxDirectSize) childAddr + (objOff - blockOff)
            else {
              val span = startBlockSize * tableWidth
              require((rowSize & (rowSize - 1)) == 0 && (span & (span - 1)) == 0,
                s"non-power-of-two doubling table ($rowSize / $span)")
              val subRows = (java.lang.Long.numberOfTrailingZeros(rowSize) -
                java.lang.Long.numberOfTrailingZeros(span) + 1).toInt
              locate(childAddr, subRows, objOff - blockOff)
            }
          }
          blockOff += rowSize
          col += 1
        }
        row += 1
      }
      throw new java.io.IOException(s"heap offset $objOff beyond mapped blocks")
    }

    private def filePos(objOff: Long): Long =
      if (curRows == 0) rootBlockAddr + objOff
      else locate(rootBlockAddr, curRows, objOff)

    /** Resolve a managed heap ID (as laid out in B-tree v2 records)
      * read from `b` to the object's bytes. */
    def objectAt(b: BB): Array[Byte] = {
      val idFlags = b.u8()
      require((idFlags & 0x30) == 0, s"non-managed heap id (flags $idFlags) unsupported")
      var objOff = 0L
      (0 until offSize).foreach(i => objOff |= (b.u8().toLong << (8 * i)))
      var objLen = 0L
      (0 until lenSize).foreach(i => objLen |= (b.u8().toLong << (8 * i)))
      b.skip(heapIdLen - 1 - offSize - lenSize) // id padding, if any
      r.bytesAt(filePos(objOff), objLen.toInt)
    }
  }

  /** Test hook: resolve a managed heap id against a fractal heap at
    * `fheapAddr` in `path` — exercises the full heap walk (incl.
    * NESTED indirect blocks, which the writer never emits, so the
    * spec drives this path with a hand-assembled fixture exactly like
    * the continuation-header precedent). */
  private[graft] def heapObjectAt(fs: FileSystem, path: Path, fheapAddr: Long,
      heapId: Array[Byte]): Array[Byte] = {
    val in = fs.open(path)
    try new FractalHeap(new R(in), fheapAddr).objectAt(new BB(heapId))
    finally in.close()
  }

  /** Parse one whole GCOL global-heap collection (spec III.E): object
    * index → payload bytes, walking {index u16, refcount+reserved,
    * size u64, 8-padded data} entries until the index-0 free-space
    * pseudo-object. Static (shared by VarReader's cached vlen
    * resolution and the reader-independent fixture specs) so a
    * matched writer/reader padding-law bug cannot self-cancel
    * untested. */
  private[graft] def gcolAll(in: FSDataInputStream, addr: Long,
      ctx: String): Map[Int, Array[Byte]] = {
    val hdr = new Array[Byte](16)
    in.readFully(addr, hdr, 0, 16)
    require(hdr(0) == 'G' && hdr(1) == 'C' && hdr(2) == 'O' && hdr(3) == 'L',
      s"bad global heap signature at $addr in $ctx")
    val hb = new BB(hdr)
    hb.skip(8)
    val total = hb.u64()
    val body = new Array[Byte]((total - 16).toInt)
    in.readFully(addr + 16, body, 0, body.length)
    val b = new BB(body)
    val objs = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
    var off = 0
    var done = false
    while (!done && off + 16 <= body.length) {
      val idx = b.u16()
      b.skip(6) // refcount + reserved
      val size = b.u64().toInt
      if (idx == 0) done = true // free-space pseudo-object ends the walk
      else {
        // trust-but-verify the per-object size: copyOfRange zero-pads
        // past the array end, which would serve silently zero-filled
        // vlen payloads from a truncated/corrupt heap — reject loudly
        // like every checksum mismatch does
        require(off + 16 + size <= body.length,
          s"global heap object $idx overruns collection body " +
            s"(off=$off size=$size body=${body.length}) at $addr in $ctx")
        objs(idx) = java.util.Arrays.copyOfRange(body, off + 16, off + 16 + size)
        val skip = pad8(size)
        b.skip(skip)
        off += 16 + skip
      }
    }
    objs.toMap
  }

  /** Test hook: parse a GCOL collection at `addr` — drives the global
    * heap walk against hand-assembled spec-literal fixtures. */
  private[graft] def gcolForTest(fs: FileSystem, path: Path, addr: Long): Map[Int, Array[Byte]] = {
    val in = fs.open(path)
    try gcolAll(in, addr, "test") finally in.close()
  }

  /** Test hook: resolve dense attributes from a hand-built Attribute
    * Info message body against fixture heap + B-tree bytes in `path`. */
  private[graft] def denseAttrsForTest(fs: FileSystem, path: Path,
      body: Array[Byte]): Seq[H5Attr] = {
    val in = fs.open(path)
    try readDenseAttrs(new R(in), body) finally in.close()
  }

  /** A v2 B-tree's records, raw and concatenated in key order:
    * (recordSize, count, BB positioned at the first record) — the one
    * walk of chunk indexes, dense links and dense attributes. Depth 0
    * reads the root leaf directly; deeper trees walk their BTIN
    * internal nodes, interleaving each child subtree's records with
    * the node's own separator records (child0 < rec0 < child1 < …).
    * Child pointers store their counts at the widths the capacity law
    * ([[ChunkIndex.Bt2Capacity]]) gives for the declared node size. */
  private[netcdf] def btree2Records(r: R, addr: Long, expectType: Int): (Int, Int, BB) = {
    val bt = new BB(r.bytesAt(addr, 38))
    verifyCk(bt.data, 34, "v2 B-tree header", addr)
    require(bt.u8() == 'B' && bt.u8() == 'T' && bt.u8() == 'H' && bt.u8() == 'D',
      s"bad v2 B-tree signature at $addr")
    bt.skip(1) // version
    val btType = bt.u8()
    require(btType == expectType, s"expected B-tree record type $expectType, got $btType")
    val nodeSize = bt.u32().toInt
    val recSize = bt.u16()
    val depth = bt.u16()
    bt.skip(2) // split/merge percents
    val btRootAddr = bt.u64()
    val rootNRecs = bt.u16()
    def leafBytes(a: Long, n: Int): Array[Byte] = {
      val used = 6 + n * recSize
      val leaf = r.bytesAt(a, used + 4)
      verifyCk(leaf, used, "v2 B-tree leaf", a)
      require(leaf(0) == 'B' && leaf(1) == 'T' && leaf(2) == 'L' && leaf(3) == 'F',
        s"bad v2 B-tree leaf signature at $a")
      require((leaf(5) & 0xff) == expectType,
        s"v2 B-tree leaf type ${leaf(5)} != $expectType at $a")
      java.util.Arrays.copyOfRange(leaf, 6, used)
    }
    if (depth == 0) (recSize, rootNRecs, new BB(leafBytes(btRootAddr, rootNRecs)))
    else {
      // internal child pointers carry (address, child record count,
      // and — when the child is itself internal — the child SUBTREE's
      // total record count)
      val cap = new ChunkIndex.Bt2Capacity(nodeSize, recSize)
      val out = new java.io.ByteArrayOutputStream()
      var total = 0
      def walk(a: Long, nrec: Int, d: Int): Unit =
        if (d == 0) {
          out.write(leafBytes(a, nrec))
          total += nrec
        } else {
          val n1 = cap.countBytes(d)
          val n2 = cap.totalBytes(d)
          val sz = 6 + nrec * recSize + (nrec + 1) * (8 + n1 + n2) + 4
          val nb = r.bytesAt(a, sz)
          verifyCk(nb, sz - 4, "v2 B-tree internal node", a)
          require(nb(0) == 'B' && nb(1) == 'T' && nb(2) == 'I' && nb(3) == 'N',
            s"bad v2 B-tree internal node signature at $a")
          require((nb(5) & 0xff) == expectType,
            s"v2 B-tree internal type ${nb(5)} != $expectType at $a")
          val ptrs = new BB(nb)
          ptrs.skip(6 + nrec * recSize) // to the child pointer block
          val childAddrs = new Array[Long](nrec + 1)
          val childN = new Array[Int](nrec + 1)
          (0 to nrec).foreach { c =>
            childAddrs(c) = ptrs.u64()
            var cn = 0
            (0 until n1).foreach(k => cn |= (ptrs.u8() << (8 * k)))
            childN(c) = cn
            (0 until n2).foreach(_ => ptrs.u8()) // subtree total (unused)
          }
          // key order: child0 < rec0 < child1 < rec1 < …
          (0 to nrec).foreach { c =>
            walk(childAddrs(c), childN(c), d - 1)
            if (c < nrec) {
              out.write(nb, 6 + c * recSize, recSize)
              total += 1
            }
          }
        }
      walk(btRootAddr, rootNRecs, depth)
      (recSize, total, new BB(out.toByteArray))
    }
  }

  /** DENSE group links (HDF5 ≥1.8 `Link Info` storage — what the
    * library switches to above its compact-link threshold, so
    * many-variable wild files are unreadable without it): the Link
    * Info message carries a FRACTAL HEAP holding the serialized link
    * messages and a v2 B-TREE (record type 5) indexing them by name
    * hash. The walk is header-only like the rest of readMeta: B-tree
    * leaf records → managed heap IDs → heap offsets → link bodies.
    * Filtered heaps are a loud reject. */
  private def readDenseLinks(r: R, body: Array[Byte]): Seq[(String, Long)] = {
    val li = new BB(body)
    val liVer = li.u8()
    require(liVer == 0, s"link info message v$liVer unsupported")
    val liFlags = li.u8()
    if ((liFlags & 1) != 0) li.skip(8) // max creation index
    val fheapAddr = li.u64()
    val nameBtAddr = li.u64()
    if (fheapAddr == UNDEF || nameBtAddr == UNDEF) return Nil // empty dense group
    val heap = new FractalHeap(r, fheapAddr)
    // record type 5 (link name): hash(4) + heap id
    val (recSize, n, leaf) = btree2Records(r, nameBtAddr, 5)
    require(recSize == 4 + heap.heapIdLen,
      s"type-5 record size $recSize != ${4 + heap.heapIdLen}")
    (0 until n).flatMap { _ =>
      leaf.skip(4) // name hash
      parseLinkBody(heap.objectAt(leaf))
    }
  }

  /** DENSE attributes (Attribute Info message 0x0015 — where HDF5
    * ≥1.8 objects park attributes past the compact threshold, so
    * heavily-annotated wild files lose metadata without it): same
    * fractal-heap + v2 B-tree machinery as dense links, record type 8
    * (heap id + message flags + creation order + name hash), heap
    * objects = serialized attribute messages. */
  private def readDenseAttrs(r: R, body: Array[Byte]): Seq[H5Attr] = {
    val ai = new BB(body)
    val aiVer = ai.u8()
    require(aiVer == 0, s"attribute info message v$aiVer unsupported")
    val aiFlags = ai.u8()
    if ((aiFlags & 1) != 0) ai.skip(2) // max creation index
    val fheapAddr = ai.u64()
    val nameBtAddr = ai.u64()
    if (fheapAddr == UNDEF || nameBtAddr == UNDEF) return Nil
    val heap = new FractalHeap(r, fheapAddr)
    val (recSize, n, leaf) = btree2Records(r, nameBtAddr, 8)
    require(recSize == heap.heapIdLen + 1 + 4 + 4,
      s"type-8 record size $recSize != ${heap.heapIdLen + 9}")
    (0 until n).flatMap { _ =>
      val bytes = heap.objectAt(leaf)
      leaf.skip(1 + 4 + 4) // message flags, creation order, name hash
      readAttr(bytes)
    }
  }

  /** One serialized Link message body (v1) → (name, header address)
    * for hard links; soft/external links yield None. The same framing
    * appears inline in object headers AND as fractal-heap objects in
    * dense groups. */
  private def parseLinkBody(body: Array[Byte]): Option[(String, Long)] = {
    val b = new BB(body)
    val ver = b.u8()
    val flags = b.u8()
    if (ver != 1) return None
    val linkType = if ((flags & 0x08) != 0) b.u8() else 0
    if ((flags & 0x04) != 0) b.skip(8)
    if ((flags & 0x10) != 0) b.skip(1)
    val nameLen = (flags & 3) match {
      case 0 => b.u8().toLong
      case 1 => b.u16().toLong
      case 2 => b.u32()
      case 3 => b.u64()
    }
    val name = new String(b.slice(nameLen.toInt), "UTF-8")
    if (linkType == 0) Some(name -> b.u64()) else None
  }

  /** (name → object header address) links of a group header: old-style
    * symbol table or new-style compact Link messages. */
  private def readLinks(r: R, msgs: Seq[(Int, Array[Byte])]): Seq[(String, Long)] = {
    val links = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    msgs.foreach {
      case (MSG_LINK, body) =>
        parseLinkBody(body).foreach(links += _)
      case (MSG_LINK_INFO, body) =>
        links ++= readDenseLinks(r, body)
      case (MSG_SYMBOL_TABLE, body) =>
        val b = new BB(body)
        val btreeAddr = b.u64()
        val heapAddr = b.u64()
        // local heap: data segment address at header offset 24
        val hh = new BB(r.bytesAt(heapAddr, 32))
        hh.skip(8)
        val segSize = hh.u64()
        hh.skip(8)
        val segAddr = hh.u64()
        val seg = r.bytesAt(segAddr, segSize.toInt)
        def nameAt(off: Long): String = {
          var e = off.toInt
          while (e < seg.length && seg(e) != 0) e += 1
          new String(seg, off.toInt, e - off.toInt, "UTF-8")
        }
        def walk(nodeAddr: Long): Unit = {
          val hdr = new BB(r.bytesAt(nodeAddr, 24))
          hdr.skip(4)
          val nodeType = hdr.u8()
          val level = hdr.u8()
          val entries = hdr.u16()
          require(nodeType == 0, s"expected group B-tree node, got type $nodeType")
          // keys/children: (2*entries+1) keys of 8, entries children of 8
          val body = new BB(r.bytesAt(nodeAddr + 24, (2 * entries + 1) * 8))
          body.u64() // key0
          (0 until entries).foreach { _ =>
            val child = body.u64()
            body.u64() // next key
            if (level > 0) walk(child)
            else {
              val sh = new BB(r.bytesAt(child, 8))
              sh.skip(6)
              val nsym = sh.u16()
              val se = new BB(r.bytesAt(child + 8, nsym * 40))
              (0 until nsym).foreach { _ =>
                val nameOff = se.u64()
                val hdrAddr = se.u64()
                se.skip(24)
                links += nameAt(nameOff) -> hdrAddr
              }
            }
          }
        }
        walk(btreeAddr)
      case _ =>
    }
    links.toSeq
  }

  private def readAttr(body: Array[Byte]): Option[H5Attr] = {
    val b = new BB(body)
    val ver = b.u8()
    if (ver != 1 && ver != 3) return None
    val flags = b.u8() // v1: reserved (0)
    if (ver == 1 && flags != 0) return None // shared datatypes unsupported
    val nameSize = b.u16()
    val dtSize = b.u16()
    val dsSize = b.u16()
    if (ver == 3) b.skip(1) // name charset
    val p8 = ver == 1
    def take(n: Int): Array[Byte] = {
      val raw = b.slice(if (p8) pad8(n) else n)
      java.util.Arrays.copyOf(raw, n)
    }
    val nameB = take(nameSize)
    var nl = nameB.length
    while (nl > 0 && nameB(nl - 1) == 0) nl -= 1
    val name = new String(nameB, 0, nl, "UTF-8")
    val dt = new BB(take(dtSize))
    val clsVer = dt.u8()
    val cls = clsVer & 0x0f
    dt.skip(3)
    val elemSize = dt.u32().toInt
    val ds = new BB(take(dsSize))
    ds.skip(1)
    val rank = ds.u8()
    val dsFlags = ds.u8()
    ds.skip(if ((ds.data(0) & 0xff) >= 2) 1 else 5) // v2: type byte; v1: reserved
    val dims = (0 until rank).map(_ => ds.u64())
    val n = dims.product max 1L
    cls match {
      case 3 =>
        val raw = b.slice(math.min(elemSize, b.remaining))
        var e = raw.length
        while (e > 0 && raw(e - 1) == 0) e -= 1
        Some(H5Attr(name, Some(new String(raw, 0, e, "UTF-8")), Array.empty))
      case 1 if elemSize == 8 =>
        val vals = new Array[Double](n.toInt)
        val vb = ByteBuffer.wrap(b.slice(math.min(8 * n.toInt, b.remaining)))
          .order(ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < vals.length && vb.remaining() >= 8) { vals(i) = vb.getDouble; i += 1 }
        Some(H5Attr(name, None, vals))
      case 7 if elemSize == 8 =>
        // OBJECT REFERENCE attribute (plain, non-vlen — the
        // "coordinates"-style dataset link wild satellite products
        // carry): N raw 8-byte header addresses; readMeta resolves
        // them to dataset names (file offsets are well under 2^53)
        val addrs = new Array[Double](n.toInt)
        val rb = new BB(b.slice(math.min(8 * n.toInt, b.remaining)))
        var i = 0
        while (i < addrs.length && rb.remaining >= 8) { addrs(i) = rb.u64().toDouble; i += 1 }
        Some(H5Attr(name, None, addrs, isRef = true))
      case _ =>
        val _ = dsFlags
        None // other attribute types: ignored, not load-bearing
    }
  }

  /** Test hook: parse one serialized attribute message — drives the
    * attribute parser (incl. the class-7 reference arm) against
    * hand-assembled spec-literal fixtures, reader-independently. */
  private[graft] def readAttrForTest(body: Array[Byte]): Option[H5Attr] = readAttr(body)

  /** Fetch one global-heap object's payload (standalone twin of the
    * VarReader's cached gcol walk — metadata-path use only). */
  private def gcolObject(r: R, addr: Long, idx: Int): Array[Byte] = {
    val hdr = new BB(r.bytesAt(addr, 16))
    require(hdr.u8() == 'G' && hdr.u8() == 'C' && hdr.u8() == 'O' && hdr.u8() == 'L',
      s"bad global heap signature at $addr")
    hdr.skip(4)
    val total = hdr.u64()
    val b = new BB(r.bytesAt(addr + 16, (total - 16).toInt))
    while (b.remaining >= 16) {
      val oid = b.u16()
      b.skip(6)
      val size = b.u64().toInt
      if (oid == 0) throw new java.io.IOException(s"global heap object $idx missing at $addr")
      val body = b.slice(pad8(size))
      if (oid == idx) return java.util.Arrays.copyOf(body, size)
    }
    throw new java.io.IOException(s"global heap object $idx missing at $addr")
  }

  /** VLEN-of-OBJECT-REFERENCE attribute (`DIMENSION_LIST` — the
    * netCDF-4 dimension-scale attachment): resolve each element's
    * heap payload into the referenced object header ADDRESSES, served
    * as nums (file offsets are well under 2^53). [[readMeta]] maps
    * them to dataset names afterwards. */
  private def readVlenRefAttr(r: R, body: Array[Byte]): Option[H5Attr] = {
    val b = new BB(body)
    val ver = b.u8()
    if (ver != 1 && ver != 3) return None
    val flags = b.u8()
    if (ver == 1 && flags != 0) return None
    val nameSize = b.u16()
    val dtSize = b.u16()
    val dsSize = b.u16()
    if (ver == 3) b.skip(1)
    val p8 = ver == 1
    def take(n: Int): Array[Byte] = {
      val raw = b.slice(if (p8) pad8(n) else n)
      java.util.Arrays.copyOf(raw, n)
    }
    val nameB = take(nameSize)
    var nl = nameB.length
    while (nl > 0 && nameB(nl - 1) == 0) nl -= 1
    val name = new String(nameB, 0, nl, "UTF-8")
    val dt = new BB(take(dtSize))
    val cls = dt.u8() & 0x0f
    dt.skip(3)
    dt.u32() // vlen element size (16)
    if (cls != 9 || dt.remaining < 8) return None
    val baseCls = dt.u8() & 0x0f
    if (baseCls != 7) return None
    val ds = new BB(take(dsSize))
    ds.skip(1)
    val rank = ds.u8()
    ds.skip(1)
    ds.skip(if ((ds.data(0) & 0xff) >= 2) 1 else 5)
    val n = (0 until rank).map(_ => ds.u64()).product max 1L
    val addrs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0L until n).foreach { _ =>
      if (b.remaining >= 16) {
        val len = b.u32().toInt
        val gaddr = b.u64()
        val idx = b.u32().toInt
        if (len > 0 && gaddr != 0L && gaddr != UNDEF) {
          val payload = new BB(gcolObject(r, gaddr, idx))
          (0 until len).foreach(_ => if (payload.remaining >= 8) addrs += payload.u64().toDouble)
        }
      }
    }
    Some(H5Attr(name, None, addrs.toArray))
  }

  /** Parse one dataset's object header into an H5Var. */
  private def readDataset(r: R, path: Path, name: String, addr: Long): Option[H5Var] = {
    val where = s"$path: variable $name"
    val msgs = readMessages(r, addr)
    var dims: Seq[Long] = Nil
    var kindCls = -1
    var compMembers: Seq[(String, H5Kind, Int)] = Nil
    var elemSize = 0
    var strWidth = 0
    var chunked: Option[ChunkIndex.Layout] = None
    var contiguous = UNDEF
    var compactBytes: Array[Byte] = Array.emptyByteArray
    var vlenBase: Option[H5Kind] = None
    var enumInfo: Option[(H5Kind, Seq[(String, Long)])] = None
    var opaqueTag = ""
    var arrInfo: Option[(H5Kind, Int)] = None
    var bigEndian = false
    var deflate = false
    var zstdF = false
    var shuffle = false
    var fletcher = false
    var fillBytes: Array[Byte] = Array.emptyByteArray
    val attrs = scala.collection.mutable.ArrayBuffer.empty[H5Attr]
    msgs.foreach {
      case (MSG_FILL, body) =>
        // fill value message (spec IV.A.2.f): UNALLOCATED chunks of a
        // sparse wild file read as this value (zeros when undefined) —
        // the library only allocates chunks that were actually written
        val b = new BB(body)
        val ver = b.u8()
        if (ver == 1 || ver == 2) {
          b.skip(2) // space allocation time, fill write time
          val defined = b.u8()
          if ((defined == 1 || ver == 1) && b.remaining >= 4) {
            val sz = b.u32().toInt
            if (defined == 1 && sz > 0 && sz <= b.remaining) fillBytes = b.slice(sz)
          }
        } else if (ver == 3) {
          val flags = b.u8()
          if ((flags & 0x20) != 0) { // fill value defined
            val sz = b.u32().toInt
            if (sz > 0 && sz <= b.remaining) fillBytes = b.slice(sz)
          }
        }
      case (MSG_FILL_OLD, body) =>
        // pre-1.6 framing: bare size + value
        val b = new BB(body)
        if (b.remaining >= 4) {
          val sz = b.u32().toInt
          if (sz > 0 && sz <= b.remaining) fillBytes = b.slice(sz)
        }
      case (MSG_DATASPACE, body) =>
        val b = new BB(body)
        val ver = b.u8()
        val rank = b.u8()
        val flags = b.u8()
        if (ver >= 2) b.skip(1) else b.skip(5)
        val _ = flags
        dims = (0 until rank).map(_ => b.u64())
      case (MSG_DATATYPE, body) =>
        val b = new BB(body)
        val clsVer = b.u8()
        kindCls = clsVer & 0x0f
        val bf0 = b.u8()
        val bf1 = b.u8()
        b.skip(1)
        elemSize = b.u32().toInt
        // bit 0 is the byte-order flag only for the atomic classes
        // (fixed/float/bitfield); for class 9 (variable-length) bits
        // 0-3 are the vlen TYPE. Big-endian numerics (POWER/SPARC-
        // written wild files) are served by order-aware accessors in
        // the range reader.
        if ((kindCls <= 1 || kindCls == 4) && (bf0 & 1) != 0) bigEndian = true
        if (kindCls == 3) strWidth = elemSize
        if (kindCls == 5) {
          // opaque: the class bit field is the ASCII tag length; the
          // NUL-padded tag is the only property
          val tagLen = bf0 | (bf1 << 8)
          if (tagLen > 0 && tagLen <= b.remaining) {
            val tb = b.slice(tagLen)
            var n = 0
            while (n < tb.length && tb(n) != 0) n += 1
            opaqueTag = new String(tb, 0, n, "ASCII")
          }
        }
        if (kindCls == 10) {
          // array: rank (+ v2's reserved bytes and permutation
          // indexes), per-dim u32 sizes, then the base datatype —
          // the element is the flattened base array, exactly what a
          // trailing dataspace dim would express
          val arrVer = clsVer >> 4
          if (arrVer != 2 && arrVer != 3) throw new java.io.IOException(
            s"array (class 10) datatype version $arrVer unsupported for $name")
          val rank = b.u8()
          require(rank >= 1 && rank <= 4,
            s"array (class 10) rank $rank out of range for $name")
          if (arrVer == 2) b.skip(3)
          val adims = (0 until rank).map(_ => b.u32().toInt)
          if (arrVer == 2) b.skip(4 * rank) // permutation indexes (unused by the spec)
          require(adims.forall(_ >= 1),
            s"array (class 10) dims ${adims.mkString("x")} invalid for $name")
          val base = parseMemberDt(b, s"$name (array base)")
          arrInfo = Some((base, adims.product))
        }
        if (kindCls == 9) {
          val vt = bf0 & 0x0f
          if (vt == 0) // SEQUENCE: ragged arrays; base datatype follows
            vlenBase = Some(parseMemberDt(b, s"$name (vlen base)"))
          else if (vt != 1) throw new java.io.IOException(
            s"unknown vlen type $vt for $name (sequence and string only)")
        }
        if (kindCls == 8) {
          // enumeration: base datatype, then NUL-terminated names
          // (8-padded before v3), then base-sized LE values
          val nMembers = bf0 | (bf1 << 8)
          val enumVer = clsVer >> 4
          val base = parseMemberDt(b, s"$name (enum base)")
          val names = (0 until nMembers).map { _ =>
            val sb = new StringBuilder
            var c = b.u8(); var used = 1
            while (c != 0) { sb.append(c.toChar); c = b.u8(); used += 1 }
            if (enumVer < 3) b.skip((8 - (used % 8)) % 8)
            sb.toString
          }
          val values = (0 until nMembers).map { _ =>
            var ev = 0L
            (0 until base.elemSize).foreach(k => ev |= (b.u8().toLong << (8 * k)))
            ev
          }
          enumInfo = Some((base, names.zip(values)))
        }
        if (kindCls == 6)
          compMembers = parseCompoundMembers(b, clsVer >> 4,
            bf0 | (bf1 << 8), elemSize, name)
      case (MSG_LAYOUT, body) =>
        val b = new BB(body)
        val ver = b.u8()
        require(ver == 3 || ver == 4, s"only data layout v3/v4 supported, got v$ver")
        val cls = b.u8()
        if (cls == 2) chunked = Some(ChunkIndex.byLayout(b, ver, where))
        else if (cls == 1) {
          contiguous = b.u64()
        } else if (cls == 0) {
          // compact (class 0): the data is inline, right here in the
          // layout message — what small coordinate-style variables use
          val sz = b.u16()
          compactBytes = b.slice(sz)
        } else throw new java.io.IOException(s"unknown layout class $cls for $name")
      case (MSG_FILTER, body) =>
        val b = new BB(body)
        val ver = b.u8()
        val nf = b.u8()
        if (ver == 1) b.skip(6)
        (0 until nf).foreach { fi =>
          val id = b.u16()
          val nameLen = if (ver == 1 || id >= 256) b.u16() else 0
          b.skip(2) // flags
          val ncd = b.u16()
          if (nameLen > 0) b.skip(if (ver == 1) pad8(nameLen) else nameLen)
          b.skip(4 * ncd)
          if (ver == 1 && ncd % 2 == 1) b.skip(4)
          // the range reader assumes netCDF4's pipeline call order
          // (fletcher32, shuffle, then the terminal compressor —
          // deflate or zstd) for filter-mask bit slots
          if (id == 1) deflate = true
          else if (id == 32015) {
            // ZSTANDARD (registered filter, netCDF-4.9's
            // nc_def_var_zstandard) — terminal slot like deflate
            require(!deflate, s"zstd and deflate both present for $name")
            zstdF = true
          } else if (id == 2) {
            require(!deflate && !zstdF,
              s"shuffle filter must precede the compressor in the pipeline for $name")
            shuffle = true
          } else if (id == 3) {
            require(fi == 0 && !deflate && !shuffle && !zstdF,
              s"fletcher32 filter must lead the pipeline for $name")
            fletcher = true
          } else if (id == 4)
            // named so the user knows to transcode: older NASA
            // products carry szip, and no public-domain codec exists
            // on this classpath (SURVEY §2 non-goals)
            throw new java.io.IOException(
              s"unsupported HDF5 filter: szip (id 4) for $name — transcode to deflate/zstd")
          else if (id != 0)
            throw new java.io.IOException(s"unsupported HDF5 filter id $id")
        }
      case (MSG_ATTRIBUTE, body) =>
        readAttr(body).orElse(readVlenRefAttr(r, body)).foreach(attrs += _)
      case (MSG_ATTR_INFO, body) => attrs ++= readDenseAttrs(r, body)
      case _ =>
    }
    if (dims.isEmpty || kindCls < 0) return None
    // ---- the chunk grid over the trailing dims: rank-2 partial-width
    // column tiles, or (time, lat, lon) with the library's default
    // chunking, partial in EVERY dim ----
    require(dims.length <= 8, s"rank ${dims.length} > 8 unsupported for $name")
    val flatW: Long = if (dims.length >= 2) dims.tail.product else 1L
    require(flatW <= Int.MaxValue,
      s"flattened trailing width $flatW exceeds array-column bound for $name")
    val trailAll: Seq[Int] = dims.drop(1).map(_.toInt)
    val chunkDims = chunked.fold(Seq.empty[Int])(_.chunkDims)
    val chunkRecs = math.max(1, chunkDims.headOption.getOrElse(1))
    val geom: TileGeom = {
      val ext =
        if (trailAll.isEmpty || chunkDims.isEmpty) trailAll // contiguous/compact: untiled
        else {
          require(chunkDims.length == dims.length,
            s"chunk rank ${chunkDims.length} != dataset rank ${dims.length} for $name")
          chunkDims.tail
        }
      TileGeom(trailAll, ext.zip(trailAll).map { case (c, d) => math.max(1, math.min(c, d)) })
    }
    val kind: H5Kind = (kindCls, elemSize, dims.size) match {
      case (0, 8, 1) => KLong
      case (0, 4, 1) => KInt
      case (0, 2, 1) => KShort
      case (1, 8, 1) => KDouble
      case (1, 4, 1) => KFloat
      case (3, w, 1) => KString(w)
      case (9, 16, 1) => vlenBase.map(KVlenSeq.apply).getOrElse(KVlenStr)
      case (8, sz, 1) =>
        val (base, ms) = enumInfo.getOrElse(throw new java.io.IOException(
          s"enum datatype without member table for $name"))
        require(base.elemSize == sz, s"enum base size ${base.elemSize} != $sz for $name")
        KEnum(base, ms)
      case (6, sz, 1) => KCompound(compMembers, sz)
      case (4, w, 1) if w == 1 || w == 2 || w == 4 || w == 8 => KBitfield(w)
      case (5, w, 1) => KOpaque(w, opaqueTag)
      case (10, _, 1) =>
        // class-10 array over a rank-1 dataspace: geometry below runs
        // off the datatype's TOTAL elemSize (= k * base size) with no
        // trailing dataspace dims, so rowBytes and chunk byte math
        // agree with the trailing-dim route by construction
        val (base, k) = arrInfo.getOrElse(throw new java.io.IOException(
          s"array (class 10) datatype without parsed geometry for $name"))
        base match {
          case KFloat => KFloatArr(k)
          case KDouble => KDoubleArr(k)
          case KLong => KLongArr(k)
          case o => throw new java.io.IOException(
            s"unsupported array (class 10) base $o for $name " +
              "(float/double/int64 bases only)")
        }
      // rank>=2 atomic datasets: trailing dataspace dims flatten to an
      // array column (the writer's default layout for grids/embeddings)
      case (1, 4, n) if n >= 2 => KFloatArr(flatW.toInt)
      case (1, 8, n) if n >= 2 => KDoubleArr(flatW.toInt)
      case (0, 8, n) if n >= 2 => KLongArr(flatW.toInt)
      case (c, sz, rk) => throw new java.io.IOException(
        s"unsupported dataset datatype ${classNameOf(c)} " +
          s"(elemSize=$sz, rank=$rk) for $name")
    }
    /** stored bytes of ONE chunk = one tile (full-width when untiled),
      * bounded so every reader buffer fits one array */
    val shape = ChunkIndex.Shape(geom, chunkRecs,
      ((dims.head + chunkRecs - 1) / chunkRecs) * geom.nTiles,
      filtered = deflate || shuffle || fletcher || zstdF,
      geom.chunkBytes(elemSize, chunkRecs, where), where)
    val chunks: Array[H5Chunk] =
      chunked.fold(Array.empty[H5Chunk])(l => ChunkIndex.toChunks(l.decode(r, shape), shape, r.eof))
    // the enum member table surfaces as a synthetic attribute so the
    // metadata path (readAttrs) can gate it — derived from the
    // datatype message, never stored as a real attribute
    val attrsOut = attrs.toSeq ++ enumInfo.map { case (_, ms) =>
      H5Attr("_enum_members",
        Some(ms.map { case (n2, ev) => s"$n2=$ev" }.mkString(",")), Array.empty)
    } ++ (kind match {
      // the opaque datatype's ASCII tag, surfaced like _enum_members
      // so metadata readers can gate on it
      case KOpaque(_, tag) if tag.nonEmpty =>
        Seq(H5Attr("_opaque_tag", Some(tag), Array.empty))
      case _ => Nil
    })
    Some(H5Var(name, kind, dims.head, chunkRecs, deflate,
      contiguous, chunks, attrsOut, shuffle = shuffle, fletcher = fletcher,
      geom = geom, compactData = compactBytes,
      bigEndian = bigEndian,
      fill = if (fillBytes.length == elemSize) fillBytes else Array.emptyByteArray,
      zstd = zstdF))
  }

  /** File metadata: superblock (v0-v3) → root group → datasets. Only
    * headers and chunk B-trees are read. */
  def readMeta(fs: FileSystem, path: Path): H5Meta = {
    val in = openShifted(fs, path)
    try {
      val shift = in.getWrappedStream match { case s: ShiftedInput => s.base; case _ => 0L }
      val r = new R(in, fs.getFileStatus(path).getLen - shift)
      val sig = r.bytesAt(0L, 9)
      require((sig(0) & 0xff) == 0x89 && sig(1) == 'H' && sig(2) == 'D' && sig(3) == 'F',
        s"$path is not an HDF5 file")
      val ver = sig(8) & 0xff
      val rootHdrAddr = ver match {
        case 0 | 1 =>
          val b = new BB(r.bytesAt(0, 100))
          // sig(8) versions(5) sizes(3) K(4) flags(4); v1 inserts
          // indexed-storage K + reserved (4) before the flags
          b.skip(if (ver == 1) 28 else 24)
          b.skip(8 * 4) // base, free-space, EOF, driver-info
          b.u64() // root symbol-table entry: link name offset (ignored)
          b.u64() // object header address
        case 2 | 3 =>
          val b = new BB(r.bytesAt(0, 48))
          b.skip(12) // sig(8) ver(1) sizeoff(1) sizelen(1) flags(1)
          b.skip(24) // base, extension, EOF
          b.u64() // root group object header address
        case v => throw new java.io.IOException(s"unsupported superblock version $v")
      }
      val rootMsgs = readMessages(r, rootHdrAddr)
      val rootAttrs = rootMsgs.collect { case (MSG_ATTRIBUTE, body) => body }
        .flatMap(readAttr) ++
        rootMsgs.collect { case (MSG_ATTR_INFO, body) => body }
          .flatMap(readDenseAttrs(r, _))
      // recursive group walk: a link whose header carries no dataspace
      // is a (sub)group — its datasets surface under "group/name" path
      // names, the same flat-path presentation the classic source uses
      val nameOfAddr = scala.collection.mutable.HashMap.empty[Long, String]
      def walk(prefix: String, msgs: Seq[(Int, Array[Byte])]): Seq[H5Var] =
        readLinks(r, msgs).sortBy(_._1).flatMap { case (nm, a) =>
          nameOfAddr(a) = prefix + nm
          readDataset(r, path, prefix + nm, a) match {
            case Some(v) => Seq(v)
            case None => walk(prefix + nm + "/", readMessages(r, a))
          }
        }
      val raw = walk("", rootMsgs)
      // netCDF dimension scales: resolve DIMENSION_LIST object
      // references into a synthetic `_dims` name-list attribute, and
      // HIDE pure dims (scales carrying the library's "not a netCDF
      // variable" NAME marker) exactly as the library does —
      // coordinate VARIABLES (scales without the marker) stay visible
      val vars = raw
        .filterNot(_.attrs.exists(a => a.name == "NAME" &&
          a.text.exists(_.startsWith("This is a netCDF dimension"))))
        .map { v =>
          val dl = v.attrs.find(_.name == "DIMENSION_LIST")
          val v1 = dl match {
            case Some(a) if a.nums.nonEmpty =>
              val names = a.nums.toSeq.map(d => nameOfAddr.getOrElse(d.toLong, "?"))
              v.copy(attrs = v.attrs.filterNot(_.name == "DIMENSION_LIST") :+
                H5Attr("_dims", Some(names.mkString(",")), Array.empty))
            case _ => v
          }
          // plain class-7 reference attributes resolve the same way:
          // addresses -> dataset names, surfaced as text under the
          // attribute's own name
          v1.copy(attrs = v1.attrs.map { a =>
            if (!a.isRef) a
            else H5Attr(a.name,
              Some(a.nums.toSeq.map(d => nameOfAddr.getOrElse(d.toLong, "?")).mkString(",")),
              Array.empty)
          })
        }
      H5Meta(vars, rootAttrs)
    } finally in.close()
  }

  /** Range reader for one variable: loads + inflates exactly the
    * chunks covering [r0, r1), and fills runs of records into column
    * vectors ([[fill]]) or serves per-record typed accessors. One
    * instance per (task, variable); chunks stream through a single
    * reusable raw buffer. */
  final class VarReader(fs: FileSystem, path: Path, v: H5Var, r0: Long, r1: Long) {
    private val in = openShifted(fs, path)
    /** Contiguous layout is presented as synthetic raw "chunks" of
      * bounded slab size, so a huge unchunked variable never needs a
      * whole-variable buffer; real chunked vars use the B-tree list,
      * and a compact variable is one block. */
    private val slabRecs: Int =
      if (v.compactData.nonEmpty) math.max(1L, v.numRecs).toInt
      else if (v.contiguousAddr == UNDEF) v.chunkRecs
      else math.max(1, ((4 << 20) / v.kind.rowBytes).toInt)

    /** Records per chunk, slab or row block: the grid runs must not cross. */
    def blockRecs: Int = slabRecs
    /** The record after the chunk, slab or row block holding `rec`. */
    def blockEnd(rec: Long): Long = (rec / slabRecs + 1) * slabRecs
    private val covering: Array[H5Chunk] =
      if (v.contiguousAddr == UNDEF)
        v.chunks.filter(c => c.startRec < r1 && c.startRec + v.chunkRecs > r0)
      else {
        val acc = scala.collection.mutable.ArrayBuffer.empty[H5Chunk]
        var s = (r0 / slabRecs) * slabRecs
        while (s < r1 && s < v.numRecs) {
          val n = math.min(slabRecs.toLong, v.numRecs - s)
          acc += H5Chunk(s, v.contiguousAddr + s * v.kind.rowBytes,
            (n * v.kind.rowBytes).toInt, 1)
          s += slabRecs
        }
        acc.toArray
      }
    // ---- tiled chunk layout (`v.geom`): rows assemble across the
    // trailing-dim tiles; the current row block's tiles decode lazily ----
    private val tiled: Boolean = v.geom.tiled
    private val tileRowBytes: Int =
      if (tiled) v.geom.tileRowElems * v.kind.elemSize else 0
    private val tileLen: Int = tileRowBytes * v.chunkRecs
    /** covering row blocks → tile-indexed chunk list (tiled mode) */
    private val tilesByBlock: Map[Long, Array[H5Chunk]] =
      if (!tiled) Map.empty
      else v.chunks.filter(c => c.startRec < r1 && c.startRec + v.chunkRecs > r0)
        .groupBy(_.startRec).map { case (sr, cs) =>
          val arr = new Array[H5Chunk](v.geom.nTiles)
          cs.foreach(c => arr(v.geom.tileOfCorner(c.startCol)) = c)
          (sr / v.chunkRecs, arr)
        }
    private var curBlock: Long = -1L
    /** the current row block's decoded tiles, null until first used;
      * their arrays are reused from block to block */
    private val tileBBs: Array[ByteBuffer] =
      if (tiled) new Array[ByteBuffer](v.geom.nTiles) else null
    private val tileBufs: Array[Array[Byte]] =
      if (tiled) new Array[Array[Byte]](v.geom.nTiles) else null

    /** Reset `buf` to the variable's fill pattern (zeros when the fill
      * value is undefined). */
    private def fillBuf(buf: Array[Byte]): Unit = {
      java.util.Arrays.fill(buf, 0.toByte)
      if (v.fill.nonEmpty) {
        val es = v.fill.length
        var o = 0
        while (o + es <= buf.length) {
          System.arraycopy(v.fill, 0, buf, o, es)
          o += es
        }
      }
    }

    /** The decoded tile holding (rec, tile j) in tiled mode;
      * unallocated tiles (sparse wild files) read as the fill value. */
    private def tileBB(rec: Long, j: Int): ByteBuffer = {
      val blk = rec / v.chunkRecs
      if (blk != curBlock) {
        java.util.Arrays.fill(tileBBs.asInstanceOf[Array[AnyRef]], null)
        curBlock = blk
      }
      if (tileBBs(j) == null) {
        if (tileBufs(j) == null) tileBufs(j) = new Array[Byte](tileLen + extra)
        val buf = tileBufs(j)
        tilesByBlock.get(blk).flatMap(a => Option(a(j))) match {
          case Some(c) =>
            if (decodeChunk(c, buf, tileLen) != tileLen) throw new java.io.IOException(
              s"$path: variable ${v.name}: stored tile at record ${c.startRec} is short")
          case None => fillBuf(buf)
        }
        tileBBs(j) = ByteBuffer.wrap(buf).order(ord)
      }
      tileBBs(j)
    }

    private var ci = 0
    /** trailing bytes beyond the data itself (the fletcher32 word) */
    private val extra = if (v.fletcher) 4 else 0
    /** compact variables (class 0) carry their whole payload in the
      * metadata: the "chunk buffer" IS the inline data, pre-loaded.
      * Otherwise chunks decode straight into it, checksum word
      * included; a tiled variable's elements read through its tiles,
      * so it needs none (its row block may exceed what one array holds). */
    private val raw =
      if (v.compactData.nonEmpty) v.compactData
      else if (tiled) Array.emptyByteArray
      else new Array[Byte]((v.kind.rowBytes * slabRecs).toInt + extra)
    /** one codec per reader: its inflate state and stored-bytes array
      * are reused for every chunk */
    private val codec = new ChunkCodec
    /** element byte order — LE for everything the modern library
      * writes, BE for POWER/SPARC-era wild files */
    private val ord =
      if (v.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    private val bb = ByteBuffer.wrap(raw).order(ord)
    private var chunkStart = 0L
    private var chunkEnd =
      if (v.compactData.nonEmpty) v.numRecs else Long.MinValue

    /** total stored bytes this reader will fetch — the I/O-pruning
      * evidence the spec asserts on */
    def plannedStoredBytes: Long = covering.map(_.storedSize.toLong).sum

    /** Decode stored chunk or tile `c` into `dst[0, len + extra)`,
      * inverting every filter its mask does not skip: decompress, then
      * unshuffle, then check fletcher32. Returns the data bytes decoded,
      * checksum word excluded; a compressed chunk must decode to exactly
      * `len` of them. */
    private def decodeChunk(c: H5Chunk, dst: Array[Byte], len: Int): Int = {
      // filter-mask bit positions follow the pipeline call order
      // (fletcher32, shuffle, compression): each present leading
      // filter shifts the later filters' skip-bits one slot right
      val shufBit = 1 << (if (v.fletcher) 1 else 0)
      val compBit = shufBit << (if (v.shuffle) 1 else 0)
      def where = s"$path: variable ${v.name}, chunk at record ${c.startRec}, element ${c.startCol}"
      val stored = codec.staging(c.storedSize)
      in.readFully(c.addr, stored, 0, c.storedSize)
      val es = if (v.shuffle && (c.filterMask & shufBit) == 0) v.kind.elemSize else 1
      val n =
        if ((v.deflate || v.zstd) && (c.filterMask & compBit) == 0) {
          if (v.zstd) codec.unzstd(stored, c.storedSize, dst, len + extra, es, where)
          else codec.inflate(stored, c.storedSize, dst, len + extra, es, where)
          len + extra
        } else {
          require(c.storedSize <= len + extra,
            s"stored chunk ${c.storedSize} > buffer ${len + extra}")
          ChunkCodec.unshuffle(stored, 0, c.storedSize, dst, c.storedSize, es)
          c.storedSize
        }
      if (v.fletcher && (c.filterMask & 1) == 0) {
        val exp = ChunkCodec.fletcher32(dst, n - 4)
        val got = ByteBuffer.wrap(dst).order(ByteOrder.LITTLE_ENDIAN).getInt(n - 4)
        if (exp != got) throw new java.io.IOException(
          f"fletcher32 mismatch in ${v.name}: stored 0x$got%08x computed 0x$exp%08x")
      }
      n - extra
    }

    /** Position the buffer on the chunk containing `rec`. A record
      * block with no allocated chunk (sparse wild file: the library
      * only allocates chunks that were written) serves the variable's
      * fill value — zeros when undefined, per the format contract. */
    private def ensure(rec: Long): Int = {
      if (rec < chunkStart || rec >= chunkEnd) {
        while (ci < covering.length && covering(ci).startRec + slabRecs <= rec) ci += 1
        if (ci < covering.length && covering(ci).startRec <= rec) {
          val c = covering(ci)
          chunkStart = c.startRec
          chunkEnd = c.startRec + decodeChunk(c, raw, raw.length - extra) / v.kind.rowBytes
        } else {
          // chunks are block-aligned, so the whole block is absent
          fillBuf(raw)
          chunkStart = (rec / slabRecs) * slabRecs
          chunkEnd = chunkStart + slabRecs
        }
      }
      ((rec - chunkStart) * v.kind.rowBytes).toInt
    }

    def getLong(rec: Long): Long = bb.getLong(ensure(rec))
    def getInt(rec: Long): Int = bb.getInt(ensure(rec))
    def getShort(rec: Long): Short = bb.getShort(ensure(rec))
    def getDouble(rec: Long): Double = bb.getDouble(ensure(rec))
    def getFloat(rec: Long): Float = bb.getFloat(ensure(rec))
    def getString(rec: Long): Array[Byte] = {
      val off = ensure(rec)
      var len = v.kind.elemSize
      while (len > 0 && raw(off + len - 1) == 0) len -= 1
      java.util.Arrays.copyOfRange(raw, off, off + len)
    }

    /** Parsed GCOL collections, cached per collection address — a
      * collection serves many refs (it packs ~4-64 KiB of payloads),
      * so each is fetched and walked once per reader. */
    private val gcols = scala.collection.mutable.HashMap.empty[Long, Map[Int, Array[Byte]]]

    private def gcol(addr: Long): Map[Int, Array[Byte]] =
      gcols.getOrElseUpdate(addr, gcolAll(in, addr, v.name))

    /** Compound element → member values in declaration order (fixed
      * strings arrive NUL-trimmed as byte arrays). */
    def getCompound(rec: Long): Array[Any] = {
      val base = ensure(rec)
      val ms = v.kind.asInstanceOf[KCompound].members
      val out = new Array[Any](ms.length)
      var i = 0
      while (i < ms.length) {
        val (_, k, moff) = ms(i)
        val o = base + moff
        out(i) = k match {
          case KLong => bb.getLong(o)
          case KInt => bb.getInt(o)
          case KShort => bb.getShort(o)
          case KDouble => bb.getDouble(o)
          case KFloat => bb.getFloat(o)
          case KString(w) =>
            var len = w
            while (len > 0 && raw(o + len - 1) == 0) len -= 1
            java.util.Arrays.copyOfRange(raw, o, o + len)
          case other => throw new java.io.IOException(
            s"unsupported nested kind $other in compound ${v.name}")
        }
        i += 1
      }
      out
    }

    /** The global-heap payload the 16-byte vlen reference at `off` names
      * (length, collection address, object index); null for an empty or
      * null reference. */
    private def heapObject(off: Int): Array[Byte] = {
      val addr = bb.getLong(off + 4)
      val idx = bb.getInt(off + 12)
      if (bb.getInt(off) == 0 || addr == 0L || addr == UNDEF) null
      else gcol(addr).getOrElse(idx,
        throw new java.io.IOException(s"global heap object $idx missing at $addr for ${v.name}"))
    }

    /** Resolve a vlen-string element: 16-byte ref → heap payload bytes. */
    def getVlenString(rec: Long): Array[Byte] = {
      val off = ensure(rec)
      val len = bb.getInt(off)
      val bytes = heapObject(off)
      if (bytes == null) Array.emptyByteArray
      else if (bytes.length == len) bytes else java.util.Arrays.copyOf(bytes, len)
    }

    /** A vlen-SEQUENCE element's payload and element count: the ref's
      * length field counts base-type elements, stored as a raw LE run. */
    private def vlenSeq(off: Int, base: H5Kind): (Array[Byte], Int) = {
      val bytes = heapObject(off)
      if (bytes == null) return (Array.emptyByteArray, 0)
      val n = bb.getInt(off)
      require(bytes.length >= n * base.elemSize,
        s"vlen sequence payload ${bytes.length} < ${n * base.elemSize} for ${v.name}")
      (bytes, n)
    }

    /** Resolve a vlen-SEQUENCE element into boxed base-type values. */
    def getVlenSeq(rec: Long, base: H5Kind): Array[Any] = {
      val (bytes, n) = vlenSeq(ensure(rec), base)
      val pb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = base match {
          case KLong => pb.getLong(i * 8)
          case KInt => pb.getInt(i * 4)
          case KShort => pb.getShort(i * 2)
          case KDouble => pb.getDouble(i * 8)
          case KFloat => pb.getFloat(i * 4)
          case o => throw new java.io.IOException(
            s"unsupported vlen sequence base $o for ${v.name}")
        }
        i += 1
      }
      out
    }
    /** Locate element (rec, flattened k) in tiled mode: leaves the
      * owning tile's buffer in `curTileBB` and returns the byte offset. */
    private var curTileBB: ByteBuffer = null
    @inline private def tileLocate(rec: Long, k: Int): Int = {
      val loc = v.geom.locate(k)
      curTileBB = tileBB(rec, (loc >>> 32).toInt)
      (rec % v.chunkRecs).toInt * tileRowBytes + loc.toInt * v.kind.elemSize
    }
    def getFloatElem(rec: Long, k: Int): Float =
      if (tiled) { val o = tileLocate(rec, k); curTileBB.getFloat(o) }
      else bb.getFloat(ensure(rec) + 4 * k)
    def getDoubleElem(rec: Long, k: Int): Double =
      if (tiled) { val o = tileLocate(rec, k); curTileBB.getDouble(o) }
      else bb.getDouble(ensure(rec) + 8 * k)
    def getLongElem(rec: Long, k: Int): Long =
      if (tiled) { val o = tileLocate(rec, k); curTileBB.getLong(o) }
      else bb.getLong(ensure(rec) + 8 * k)

    /** Fills rows [0, n) of `c` with records [rec, rec + n), which lie in
      * one chunk, slab or row block ([[blockEnd]]). Fixed-size kinds go
      * through [[ColumnFill]]; the rest fill here:
      *  - a bitfield narrower than 8 bytes zero-extends (a bag of bits is
      *    unsigned by construction: a stored 0x80 byte reads as 128);
      *  - vlen strings and sequences resolve through the cached GCOL walk;
      *  - a compound fills the members of the (possibly pruned and
      *    reordered) struct `c` by name;
      *  - a tiled array assembles each row across its tiles. */
    def fill(rec: Long, n: Int, c: WritableColumnVector): Unit = v.kind match {
      case KBitfield(w) if w < 8 =>
        val off = ensure(rec)
        val mask = (1L << (8 * w)) - 1
        var i = 0
        while (i < n) {
          val o = off + i * w
          c.putLong(i, mask & (if (w == 1) raw(o).toInt else if (w == 2) bb.getShort(o).toInt
            else bb.getInt(o)))
          i += 1
        }
      case KVlenStr =>
        var i = 0
        while (i < n) { val b = getVlenString(rec + i); c.putByteArray(i, b, 0, b.length); i += 1 }
      case KVlenSeq(base) =>
        val child = c.arrayData()
        var at = 0
        var i = 0
        while (i < n) {
          val (bytes, m) = vlenSeq(ensure(rec + i), base)
          child.reserve(at + m)
          ColumnFill.put(child, at, m, ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN), 0,
            base.elemSize)
          c.putArray(i, at, m)
          at += m
          i += 1
        }
      case KCompound(ms, size) =>
        val off = ensure(rec)
        val st = c.dataType.asInstanceOf[StructType]
        var j = 0
        while (j < st.length) {
          val (_, k, moff) = ms.find(_._1 == st(j).name).getOrElse(throw new java.io.IOException(
            s"compound member ${st(j).name} not in ${v.name} of $path"))
          ColumnFill.fixed(c.getChild(j), n, raw, ord, off + moff, size, widthOf(k))
          j += 1
        }
      case k if tiled =>
        val w = k.rowElems
        val child = c.arrayData()
        ColumnFill.reserve(child, n * w)
        var i = 0
        while (i < n) {
          c.putArray(i, i * w, w)
          var j = 0
          while (j < w) {
            val o = tileLocate(rec + i, j)
            ColumnFill.put(child, i * w + j, 1, curTileBB, o, k.elemSize)
            j += 1
          }
          i += 1
        }
      case k => ColumnFill.fixed(c, n, raw, ord, ensure(rec), k.rowBytes.toInt, widthOf(k))
    }

    /** Elements per record of a fixed-size kind; bytes, for strings and opaque. */
    private def widthOf(k: H5Kind): Int = k match {
      case _: KString | _: KOpaque => k.elemSize
      case _ => k.rowElems
    }

    def close(): Unit =
      try in.close()
      finally codec.end()
  }
}

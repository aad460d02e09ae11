package graft.sources.netcdf

import java.io.IOException

import scala.collection.mutable.ArrayBuffer

import graft.sources.netcdf.Hdf5Format.{BB, Buf, H5Chunk, R, TileGeom, UNDEF, lookup3, verifyCk}

/** One HDF5 chunk index kind (spec III.A.1, III.A.2, III.J and III.K):
  * the writer encodes a variable's chunks
  * through it and `readDataset` decodes them back, over the same
  * [[ChunkIndex.Entry]] list. Each kind owns its option name, its part
  * of the chunked data layout message, its encoder and its decoder. */
private[graft] sealed abstract class ChunkIndex(
    /** the `chunkindex` option value */
    val name: String,
    /** the layout-v4 index type (0: the layout-v3 B-tree) */
    val layoutType: Int,
    /** bytes of the creation params after the type byte, which the
      * index structure itself re-states and the decoder re-reads */
    paramBytes: Int) {
  import ChunkIndex._

  /** Whether an unallocated chunk can be left out (sparse writes). */
  def holdsGaps: Boolean = true
  /** Whether a row block may split into several tiles. */
  def holdsTiles: Boolean = true
  /** Whether entries may be filtered (stored at their own sizes). */
  def holdsFilters: Boolean = true

  /** The index structure at `selfAddr` over the allocated `entries`, in
    * position order; empty when the layout message's address points at
    * the data itself. Sizes do not depend on any address, so a sizing
    * pass may pass 0 for `selfAddr` and the chunk addresses. */
  def encode(entries: Entries, s: Shape, selfAddr: Long): Array[Byte] =
    Array.emptyByteArray

  /** The allocated chunks of the index at `addr`, in position order. */
  def decode(r: R, addr: Long, s: Shape): Entries

  /** The address the layout message carries: the index, or the first
    * chunk where the layout message is the whole index. */
  def layoutAddr(firstChunk: Long, indexAddr: Long): Long = indexAddr

  /** The chunked (class 2) data layout message: layout v4 (HDF5 ≥1.10),
    * whose chunk dims exclude the element dim, with the index type and
    * its creation params. */
  def writeLayout(lay: Buf, chunkDims: Seq[Int], elemBytes: Int, addr: Long,
      entries: Entries, s: Shape): Unit = {
    lay.u8(4).u8(2).u8(layoutFlags(s)).u8(chunkDims.size).u8(4)
    chunkDims.foreach(lay.u32)
    lay.u8(layoutType)
    writeParams(lay, entries, s)
    lay.u64(addr)
  }

  protected def layoutFlags(s: Shape): Int = 0
  protected def writeParams(lay: Buf, entries: Entries, s: Shape): Unit = ()

  /** Read this kind's creation params from a layout v4 message (`flags`
    * is its flags byte): the kind as the file declares it. */
  protected[netcdf] def readParams(b: BB, flags: Int): ChunkIndex = { b.skip(paramBytes); this }
}

private[graft] object ChunkIndex {

  /** One allocated chunk as an index records it: its position in the
    * variable's chunk grid (row block × `nTiles` + tile, the row-major
    * order every index linearizes scaled offsets in), its address, its
    * stored byte count and its filter mask (bit i set: pipeline filter i
    * skipped). Sizes stay `Long` until [[toChunks]] bounds them. */
  final case class Entry(pos: Long, addr: Long, storedSize: Long, filterMask: Int)

  /** A variable's entries, in position order. */
  type Entries = scala.collection.IndexedSeq[Entry]

  /** What both directions know of one variable's index: its tile grid,
    * its records per row block, its chunk count (row blocks × tiles,
    * allocated or not), whether a filter runs (then entries store their
    * size and mask; else every chunk stores `chunkBytes`), `where` to
    * name it in errors, and the extensible array's page bits (the
    * writer's creation param; a decoder reads the file's own). */
  final case class Shape(geom: TileGeom, chunkRecs: Int, nChunks: Long, filtered: Boolean,
      chunkBytes: Int, where: String, eaPageBits: Int = 13)

  /** A chunked data layout message read back: the index as declared,
    * the chunk dims without v3's trailing element-size dim, and the
    * address it carries. */
  final case class Layout(index: ChunkIndex, chunkDims: Seq[Int], addr: Long) {
    def decode(r: R, s: Shape): Entries =
      if (addr == UNDEF) Vector.empty else index.decode(r, addr, s)
  }

  val kinds: Seq[ChunkIndex] = Seq(BtreeV1, FixedArray, BtreeV2, Single, Implicit, ExtArray)

  /** The kind a writer option names; every kind but the B-tree v1 needs
    * the 1.8+/1.10 layout (`h5ver` 2). */
  def byName(name: String, h5ver: Int): ChunkIndex = {
    val index = kinds.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"chunkindex must be one of ${kinds.map(_.name).mkString(", ")}; got '$name'"))
    require(index == BtreeV1 || h5ver == 2,
      s"chunkindex=$name needs the 1.8+/1.10 layout (h5ver=2), got h5ver=$h5ver")
    index
  }

  /** Parse a chunked (class 2) data layout message after its version
    * and class bytes. */
  def byLayout(b: BB, ver: Int, where: => String): Layout =
    if (ver == 3) {
      val rank = b.u8()
      val addr = b.u64()
      Layout(BtreeV1, (0 until rank).map(_ => b.u32().toInt).dropRight(1), addr)
    } else {
      val flags = b.u8()
      val rank = b.u8()
      val encLen = b.u8()
      val dims = (0 until rank).map(_ => uN(b, encLen).toInt)
      val index = b.u8() match {
        case t if t >= 1 && t <= 5 => kinds.find(_.layoutType == t).get.readParams(b, flags)
        case t => throw new IOException(s"$where: unknown chunk index type $t")
      }
      Layout(index, dims, b.u64())
    }

  /** The variable's chunks from its index entries, each bounded first:
    * a stored size that is negative, past the array bound or past the
    * end of the file (`eof`) is an IOException naming `s.where` before
    * any reader sizes a buffer from it. */
  def toChunks(entries: Entries, s: Shape, eof: Long): Array[H5Chunk] = {
    val g = s.geom
    val out = new Array[H5Chunk](entries.length)
    var i = 0
    while (i < out.length) {
      val e = entries(i)
      val startRec = (e.pos / g.nTiles) * s.chunkRecs
      if (e.storedSize < 0 || e.storedSize > TileGeom.MaxChunkBytes || e.addr < 0 ||
          e.addr > eof - e.storedSize) throw new IOException(s"${s.where}: chunk at record " +
        s"$startRec stores ${e.storedSize} bytes at ${e.addr}, past the file's $eof bytes " +
        s"or the ${TileGeom.MaxChunkBytes}-byte array bound")
      out(i) = H5Chunk(startRec, e.addr, e.storedSize.toInt, e.filterMask,
        g.cornerOfTile(e.pos % g.nTiles))
      i += 1
    }
    out
  }

  // ---- entry fields shared by the array and v2 B-tree encodings ----

  /** `n` little-endian bytes: a stored size, at the width the file chose. */
  private def uN(b: BB, n: Int): Long = {
    var v = 0L
    var k = 0
    while (k < n) { v |= b.u8().toLong << (8 * k); k += 1 }
    v
  }

  /** An address, then — filtered — a `szBytes`-wide stored size and a
    * u32 filter mask; unfiltered chunks are stored full-size. */
  private def readEntry(b: BB, pos: Long, s: Shape, szBytes: Int): Entry = {
    val addr = b.u64()
    if (s.filtered) Entry(pos, addr, uN(b, szBytes), b.u32().toInt)
    else Entry(pos, addr, s.chunkBytes, 0)
  }

  /** The writer's side of [[readEntry]] (4-byte sizes); `e == null` is an
    * unallocated element, the undefined address. */
  private def writeEntry(b: Buf, e: Entry, s: Shape): Unit =
    if (e == null) { b.u64(UNDEF); if (s.filtered) b.u32(0).u32(0) }
    else { b.u64(e.addr); if (s.filtered) b.u32(e.storedSize.toInt).u32(e.filterMask) }

  /** Entries looked up at ascending positions: null where unallocated. */
  private final class Cursor(entries: Entries) {
    private var next = 0
    def at(pos: Long): Entry = {
      while (next < entries.length && entries(next).pos < pos) next += 1
      if (next < entries.length && entries(next).pos == pos) entries(next) else null
    }
  }

  private def inOrder(es: ArrayBuffer[Entry]): Entries = {
    var i = 1
    while (i < es.length && es(i - 1).pos < es(i).pos) i += 1
    if (i >= es.length) es else es.sortBy(_.pos)
  }

  /** A checksummed v2-generation block: `body` then its lookup3. */
  private def checksummed(out: Buf, body: Buf): Unit = {
    val bytes = body.result()
    out.bytes(bytes).u32(lookup3(bytes))
  }

  private def signature(b: BB, sig: String, addr: Long, what: String, where: => String): Unit =
    if (!sig.forall(c => b.u8() == c)) throw new IOException(s"$where: bad $what signature at $addr")

  /** The v2 B-tree capacity law (spec III.A.2), from the declared node
    * and record sizes, as the library computes it. Per depth d:
    * {{{
    *   maxRec(0) = (nodeSize − 10) / recSize
    *   ptr(d)    = 8 + w(maxRec(d−1)) + (d ≥ 2 ? w(cum(d−1)) : 0)
    *   maxRec(d) = (nodeSize − 10 − ptr(d)) / (recSize + ptr(d))
    *   cum(d)    = (maxRec(d) + 1)·cum(d−1) + maxRec(d)
    * }}}
    * where w(x) is the fewest bytes holding x: an internal node's child
    * pointer stores its child's record count in w(maxRec(d−1)) bytes
    * and, from depth 2 up, the child subtree's total in w(cum(d−1)). */
  private[netcdf] final class Bt2Capacity(nodeSize: Int, recSize: Int) {
    private val maxRec = ArrayBuffer((nodeSize - 10).toLong / recSize)
    private val cum = ArrayBuffer(maxRec(0))
    private def grow(d: Int): Unit = while (cum.size <= d) {
      val k = cum.size
      val ptr = 8 + countBytes(k) + totalBytes(k)
      maxRec += (nodeSize - 10 - ptr).toLong / (recSize + ptr)
      cum += (maxRec(k) + 1) * cum(k - 1) + maxRec(k)
    }
    private def width(x: Long): Int = {
      var n = 1
      while (n < 8 && (1L << (8 * n)) <= x) n += 1
      n
    }
    /** the most records a subtree of depth `d` holds */
    def records(d: Int): Long = { grow(d); cum(d) }
    /** bytes of a depth-`d` node's per-child record count */
    def countBytes(d: Int): Int = { grow(d - 1); width(maxRec(d - 1)) }
    /** bytes of a depth-`d` node's per-child subtree total */
    def totalBytes(d: Int): Int = if (d >= 2) { grow(d - 1); width(cum(d - 1)) } else 0
  }

  // -----------------------------------------------------------------
  // the kinds
  // -----------------------------------------------------------------

  /** B-tree v1 (node type 1, spec III.A.1): the netCDF-4 library's
    * default. Keys carry (stored size, filter mask, one element offset
    * per dataset dim, the element-size dim's 0); the writer emits one
    * level-0 node, whose trailing key marks one past the last chunk. */
  case object BtreeV1 extends ChunkIndex("btree1", 0, 0) {
    /** entries of one node: its count is a u16 */
    val MaxEntries = 0xffff

    override def writeLayout(lay: Buf, chunkDims: Seq[Int], elemBytes: Int, addr: Long,
        entries: Entries, s: Shape): Unit = {
      // layout v3: the dims carry a trailing element-size dim — for a
      // class-10 array datatype the element is the whole k-vector
      lay.u8(3).u8(2).u8(chunkDims.size + 1).u64(addr)
      chunkDims.foreach(lay.u32)
      lay.u32(elemBytes)
    }

    override def encode(entries: Entries, s: Shape, selfAddr: Long): Array[Byte] = {
      require(entries.size <= MaxEntries, s"${s.where}: ${entries.size} chunks exceed the " +
        s"$MaxEntries entries of one B-tree v1 node; write it with chunkindex=extarray|btree2 " +
        "(h5ver=2) or larger chunks")
      val g = s.geom
      val b = new Buf
      b.bytes("TREE".getBytes("ASCII")).u8(1).u8(0).u16(entries.size)
      b.u64(UNDEF).u64(UNDEF)
      def key(pos: Long, size: Int, mask: Int): Unit = {
        b.u32(size).u32(mask)
        b.u64((pos / g.nTiles) * s.chunkRecs)
        (0 until g.rank).foreach(i => b.u64(g.tileCoord(pos % g.nTiles, i).toLong * g.chunk(i)))
        b.u64(0) // element-size dimension offset
      }
      entries.foreach { e => key(e.pos, e.storedSize.toInt, e.filterMask); b.u64(e.addr) }
      key(s.nChunks, 0, 0)
      b.result()
    }

    /** Walks the tree from `addr`: each child must sit exactly one level
      * below its parent, so a node that points back up or at itself is
      * an IOException, not an unbounded walk. */
    def decode(r: R, addr: Long, s: Shape): Entries = {
      val g = s.geom
      val acc = ArrayBuffer.empty[Entry]
      val keySize = 8 + (g.rank + 2) * 8 // size + mask, then record, trailing and element dims
      val start = new Array[Long](g.rank)
      def walk(nodeAddr: Long, wantLevel: Int): Unit = {
        val hdr = new BB(r.bytesAt(nodeAddr, 24))
        hdr.skip(4)
        val nodeType = hdr.u8()
        val level = hdr.u8()
        val n = hdr.u16()
        require(nodeType == 1, s"expected chunk B-tree node, got type $nodeType")
        if (wantLevel >= 0 && level != wantLevel) throw new IOException(s"${s.where}: chunk " +
          s"B-tree node at $nodeAddr is level $level, its parent's child level is $wantLevel")
        val body = new BB(r.bytesAt(nodeAddr + 24, n * (keySize + 8) + keySize))
        var k = 0
        while (k < n) {
          val size = body.u32()
          val mask = body.u32().toInt
          val startRec = body.u64()
          var i = 0
          while (i < g.rank) { start(i) = body.u64(); i += 1 }
          body.u64() // element-size dimension offset (always 0)
          val child = body.u64()
          if (level > 0) walk(child, level - 1)
          else {
            if (startRec < 0 || startRec % s.chunkRecs != 0) throw new IOException(
              s"${s.where}: chunk offset $startRec along the record dim is off the chunk grid")
            acc += Entry((startRec / s.chunkRecs) * g.nTiles +
              g.tileOf(start, scaled = false, s.where), child, size, mask)
          }
          k += 1
        }
      }
      walk(addr, -1)
      inOrder(acc)
    }
  }

  /** Single chunk (layout-v4 type 1): the layout address is the chunk. */
  case object Single extends ChunkIndex("single", 1, 0) {
    override def holdsGaps: Boolean = false
    override def holdsTiles: Boolean = false
    override def layoutAddr(firstChunk: Long, indexAddr: Long): Long = firstChunk

    override protected def layoutFlags(s: Shape): Int = if (s.filtered) 2 else 0

    /** the filtered variant stores its one chunk's size and mask inline */
    override protected def writeParams(lay: Buf, entries: Entries, s: Shape): Unit =
      if (s.filtered) {
        lay.u64(entries.headOption.map(_.storedSize).getOrElse(0L))
        lay.u32(entries.headOption.map(_.filterMask).getOrElse(0))
      }

    override protected[netcdf] def readParams(b: BB, flags: Int): ChunkIndex =
      if ((flags & 2) != 0) Inline(b.u64(), b.u32().toInt) else this

    override def encode(entries: Entries, s: Shape, selfAddr: Long): Array[Byte] = {
      require(s.nChunks <= 1, s"single-chunk index needs chunkRecs >= numRecs for ${s.where}")
      Array.emptyByteArray
    }

    def decode(r: R, addr: Long, s: Shape): Entries = {
      require(!s.geom.tiled, s"single-chunk index with partial-width tiling for ${s.where}")
      Vector(Entry(0L, addr, s.chunkBytes, 0))
    }

    /** A filtered single chunk as a file declares it: its stored size (0:
      * full-size) and filter mask ride in the layout message. */
    final case class Inline(size: Long, mask: Int) extends ChunkIndex("single", 1, 0) {
      def decode(r: R, addr: Long, s: Shape): Entries = Single.decode(r, addr, s)
        .map(_.copy(storedSize = if (size > 0) size else s.chunkBytes, filterMask = mask))
    }
  }

  /** Implicit (layout-v4 type 2): unfiltered chunks stored back to back
    * from the layout address, in position order; no index structure. */
  case object Implicit extends ChunkIndex("implicit", 2, 0) {
    override def holdsGaps: Boolean = false
    override def holdsFilters: Boolean = false
    override def layoutAddr(firstChunk: Long, indexAddr: Long): Long = firstChunk

    def decode(r: R, addr: Long, s: Shape): Entries = {
      require(!s.filtered, s"implicit chunk index with filters for ${s.where}")
      (0L until s.nChunks).map(i => Entry(i, addr + i * s.chunkBytes, s.chunkBytes, 0))
    }
  }

  /** Fixed array (layout-v4 type 3, spec III.K): an FAHD header and an
    * FADB data block with one element per position — its address, plus
    * size and mask when filtered; the undefined address marks an
    * unallocated chunk. Past 2^pageBits elements the FADB is PAGED: it
    * holds a page-init bitmap and each page follows with its own
    * lookup3 checksum. */
  case object FixedArray extends ChunkIndex("fixedarray", 3, 1) {
    /** the writer's page bits: unpaged up to 4096 chunks per variable */
    private val PageBits = 12
    /** the most elements either side accepts */
    private val MaxEntries = 1 << 24

    override protected def writeParams(lay: Buf, entries: Entries, s: Shape): Unit =
      lay.u8(PageBits)

    override def encode(entries: Entries, s: Shape, selfAddr: Long): Array[Byte] = {
      val entrySize = if (s.filtered) 16 else 8
      val n = s.nChunks.toInt
      val pageSize = 1 << PageBits
      require(s.nChunks <= MaxEntries, s"fixed array writer bound: ${s.nChunks} chunks > $MaxEntries")
      val client = if (s.filtered) 1 else 0
      val at = new Cursor(entries)
      val b = new Buf
      val hd = new Buf
      hd.bytes("FAHD".getBytes("ASCII")).u8(0).u8(client).u8(entrySize).u8(PageBits)
      hd.u64(n.toLong)
      hd.u64(selfAddr + 28) // FADB directly follows the 28-byte FAHD
      checksummed(b, hd)
      val db = new Buf
      db.bytes("FADB".getBytes("ASCII")).u8(0).u8(client).u64(selfAddr)
      if (n <= pageSize) {
        (0 until n).foreach(i => writeEntry(db, at.at(i), s))
        checksummed(b, db)
      } else {
        // every page initialized: unallocated chunks are undefined addresses
        val npages = (n + pageSize - 1) / pageSize
        (0 until (npages + 7) / 8).foreach { k =>
          db.u8((0 until 8).foldLeft(0)((bits, j) => if (k * 8 + j < npages) bits | (1 << j) else bits))
        }
        checksummed(b, db)
        (0 until npages).foreach { p =>
          val pg = new Buf
          (p * pageSize until math.min(n, (p + 1) * pageSize)).foreach(i => writeEntry(pg, at.at(i), s))
          checksummed(b, pg)
        }
      }
      b.result()
    }

    def decode(r: R, addr: Long, s: Shape): Entries = {
      val h = new BB(r.bytesAt(addr, 28))
      verifyCk(h.data, 24, "fixed array header", addr)
      signature(h, "FAHD", addr, "fixed array", s.where)
      h.skip(1) // version
      val clientId = h.u8()
      require((clientId == 0) == !s.filtered,
        s"fixed array client id $clientId inconsistent with filter pipeline of ${s.where}")
      val entrySize = h.u8()
      val pageBits = h.u8()
      val nEntries = h.u64()
      val dblkAddr = h.u64()
      require(nEntries <= MaxEntries, s"fixed array too large for ${s.where} ($nEntries entries)")
      val szBytes = entrySize - 12 // filtered element: addr(8) + size + mask(4)
      val acc = ArrayBuffer.empty[Entry]
      def element(db: BB, i: Long): Unit = {
        val e = readEntry(db, i, s, szBytes)
        if (e.addr != UNDEF) acc += e
      }
      val pageSize = 1L << pageBits
      if (nEntries <= pageSize) {
        // unpaged: sig + version + client id + header address, elements,
        // trailing checksum
        val used = 14 + (nEntries * entrySize).toInt
        val db = new BB(r.bytesAt(dblkAddr, used + 4))
        verifyCk(db.data, used, "fixed array data block", dblkAddr)
        signature(db, "FADB", dblkAddr, "fixed array data block", s.where)
        db.skip(2 + 8)
        (0L until nEntries).foreach(i => element(db, i))
      } else {
        val npages = ((nEntries + pageSize - 1) / pageSize).toInt
        val bitmapBytes = (npages + 7) / 8
        val total = 6 + 8 + bitmapBytes + 4 + nEntries * entrySize + npages.toLong * 4
        val db = new BB(r.bytesAt(dblkAddr, total.toInt))
        verifyCk(db.data, 14 + bitmapBytes, "fixed array data block", dblkAddr)
        signature(db, "FADB", dblkAddr, "fixed array data block", s.where)
        db.skip(2 + 8)
        val bitmap = Array.fill(bitmapBytes)(db.u8())
        db.skip(4) // FADB checksum (verified above)
        var i = 0L
        (0 until npages).foreach { p =>
          val inPage = math.min(pageSize, nEntries - p.toLong * pageSize)
          val pageBytes = (inPage * entrySize).toInt
          if ((bitmap(p / 8) & (1 << (p % 8))) != 0) {
            val pg = java.util.Arrays.copyOfRange(db.data, db.off, db.off + pageBytes + 4)
            verifyCk(pg, pageBytes, s"fixed array page $p", dblkAddr)
            (0L until inPage).foreach { _ => element(db, i); i += 1 }
          } else { db.skip(pageBytes); i += inPage } // uninit: bytes unchecked
          db.skip(4) // per-page checksum
        }
      }
      acc
    }
  }

  /** Extensible-array geometry (spec III.J — the ≥1.10 chunk index for
    * ONE unlimited dimension, i.e. exactly the shape of a record-streamed
    * variable): superblock s holds 2^(s/2) data blocks of
    * minElmts·2^((s+1)/2) elements each (so superblock s covers
    * minElmts·2^s elements); the index block stores the first idxElmts
    * elements inline, directly addresses the data blocks of the first
    * 2·log2(minPtrs) superblocks (2·(minPtrs−1) blocks), and holds
    * secondary-block pointers for the rest. */
  private final case class EaGeom(
      maxBits: Int, idxElmts: Int, minPtrs: Int, minElmts: Int, pageBits: Int) {
    require(Integer.bitCount(minElmts) == 1 && Integer.bitCount(minPtrs) == 1,
      s"extensible-array minElmts/minPtrs must be powers of two ($minElmts, $minPtrs)")
    val nSblks: Int = 2 * (maxBits - Integer.numberOfTrailingZeros(minElmts))
    /** first superblock whose data blocks live behind a secondary block */
    val firstSblk: Int = 2 * Integer.numberOfTrailingZeros(minPtrs)
    val nDblkAddrs: Int = 2 * (minPtrs - 1)
    val nSblkAddrs: Int = nSblks - firstSblk
    /** Int accessors serve only superblocks within the unpaged bound
      * (dblkNelmts ≤ 2^pageBits); span arithmetic over the FULL
      * superblock range must use the Long forms — the Int shift
      * overflows from s ≈ 53 (minElmts·2^27), and a wrapped span once
      * turned a 300-chunk index into a 2 GB render. */
    def ndblks(s: Int): Int = 1 << (s / 2)
    def dblkNelmts(s: Int): Int = minElmts << ((s + 1) / 2)
    def ndblksL(s: Int): Long = 1L << (s / 2)
    def dblkNelmtsL(s: Int): Long = minElmts.toLong << ((s + 1) / 2)
    /** block offsets are stored in ceil(maxBits/8) bytes */
    val arrOffSize: Int = (maxBits + 7) / 8
    /** elements per data-block page; blocks above this go PAGED */
    val pageNelmts: Int = 1 << pageBits
    def dblkPaged(s: Int): Boolean = dblkNelmtsL(s) > pageNelmts
    def dblkNpages(s: Int): Int = dblkNelmts(s) / pageNelmts
    /** per-data-block page-init bitmap bytes (lives in the EASB) */
    def pageInitSize(s: Int): Int = (dblkNpages(s) + 7) / 8
    def iblkSize(elemSize: Int): Int =
      6 + 8 + idxElmts * elemSize + (nDblkAddrs + nSblkAddrs) * 8 + 4
    /** unpaged data block: prefix + elements + checksum */
    def dblkSize(s: Int, elemSize: Int): Int =
      6 + 8 + arrOffSize + dblkNelmts(s) * elemSize + 4
    /** paged data block: bare prefix + checksum; pages follow it */
    def dblkPrefixSize: Int = 6 + 8 + arrOffSize + 4
    def pageBytes(elemSize: Int): Int = pageNelmts * elemSize + 4
    /** full on-disk extent of a data block, either form */
    def dblkExtent(s: Int, elemSize: Int): Int =
      if (dblkPaged(s)) dblkPrefixSize + dblkNpages(s) * pageBytes(elemSize)
      else dblkSize(s, elemSize)
    def sblkSize(s: Int): Int =
      6 + 8 + arrOffSize +
        (if (dblkPaged(s)) ndblks(s) * pageInitSize(s) else 0) +
        ndblks(s) * 8 + 4
  }

  /** Extensible array (layout-v4 type 4): an EAHD header, an EAIB index
    * block (the first elements inline, direct data-block pointers for
    * the first superblocks, secondary-block pointers beyond), EADB data
    * blocks and, once the direct region is exhausted, EASB secondary
    * blocks. Data blocks past 2^pageBits elements are PAGED: the owning
    * secondary block carries a page-init bitmap per block ahead of the
    * addresses, and each page ends in its own checksum. Undefined
    * addresses and uninitialized pages are unallocated chunks. */
  case object ExtArray extends ChunkIndex("extarray", 4, 5) {
    // creation params: library-like defaults; the page bits are the
    // writer's `eaPageBits` (default 13: data blocks stay unpaged
    // through superblock 18, ≈ 8.4M chunks per variable)
    private val MaxBits = 32
    private val IdxElmts = 4
    private val MinPtrs = 4
    private val MinElmts = 16
    private val MaxEntries = 1 << 24

    override protected def writeParams(lay: Buf, entries: Entries, s: Shape): Unit =
      lay.u8(MaxBits).u8(IdxElmts).u8(MinPtrs).u8(MinElmts).u8(s.eaPageBits)

    /** All blocks in one contiguous run whose internal addresses derive
      * from `selfAddr`; the layout depends only on the chunk count. */
    override def encode(entries: Entries, s: Shape, selfAddr: Long): Array[Byte] = {
      val elemSize = if (s.filtered) 16 else 8 // addr + (size u32 + mask u32)
      val g = EaGeom(MaxBits, IdxElmts, MinPtrs, MinElmts, s.eaPageBits)
      val n = s.nChunks
      val client = if (s.filtered) 1 else 0
      require(n <= MaxEntries, s"extensible-array writer bound: $n chunks > $MaxEntries for ${s.where}")
      // directly-addressed data blocks (superblocks < firstSblk) must
      // stay unpaged — their page bitmaps would have nowhere to live
      require(g.firstSblk == 0 || !g.dblkPaged(g.firstSblk - 1),
        s"eaPageBits ${s.eaPageBits} pages the index block's direct data blocks")
      // plan: a data block is allocated iff its element range starts
      // before n; allocation is monotone, so planning stops once pos
      // reaches n (the full superblock table would need Long spans)
      final case class Db(sb: Int, startElem: Long)
      var pos: Long = g.idxElmts
      def blocks(sb: Int): Seq[Option[Db]] = Seq.fill(g.ndblks(sb)) {
        val p = if (pos < n) Some(Db(sb, pos)) else None
        pos += g.dblkNelmts(sb); p
      }
      val directDbs = (0 until g.firstSblk).flatMap(blocks)
      val sblks: Seq[Option[(Int, Long, Seq[Option[Db]])]] =
        (g.firstSblk until g.nSblks).map { sb =>
          if (pos >= n) None else { val start = pos; Some((sb, start, blocks(sb))) }
        }
      // address assignment: EAHD | EAIB | direct DBs | (EASB | its DBs)*
      val iblkAddr = selfAddr + 72
      var cur = iblkAddr + g.iblkSize(elemSize)
      val directAddrs: Seq[Long] = directDbs.map {
        case Some(db) => val a = cur; cur += g.dblkSize(db.sb, elemSize); a
        case None => UNDEF
      }
      val sblkAddrs: Seq[(Long, Seq[Long])] = sblks.map {
        case Some((sb, _, dbs)) =>
          val sa = cur; cur += g.sblkSize(sb)
          (sa, dbs.map {
            case Some(db) => val a = cur; cur += g.dblkExtent(db.sb, elemSize); a
            case None => UNDEF
          })
        case None => (UNDEF, Nil)
      }
      val at = new Cursor(entries)
      def elem(b: Buf, i: Long): Unit = writeEntry(b, if (i < n) at.at(i) else null, s)
      def prefix(sig: String): Buf = {
        val b = new Buf
        b.bytes(sig.getBytes("ASCII")).u8(0).u8(client).u64(selfAddr)
      }
      def blockOff(b: Buf, off: Long): Unit =
        (0 until g.arrOffSize).foreach(k => b.u8(((off >> (8 * k)) & 0xff).toInt))
      val out = new Buf
      // EAHD: params, then statistics (allocated secondary/data block
      // counts and byte totals, max index set, realized elements)
      val nDbAlloc = directAddrs.count(_ != UNDEF) + sblkAddrs.flatMap(_._2).count(_ != UNDEF)
      val dbBytes = directDbs.flatten.map(db => g.dblkSize(db.sb, elemSize).toLong).sum +
        sblks.flatten.flatMap(_._3.flatten).map(db => g.dblkExtent(db.sb, elemSize).toLong).sum
      val nSbAlloc = sblks.count(_.isDefined)
      val sbBytes = sblks.flatten.map { case (sb, _, _) => g.sblkSize(sb).toLong }.sum
      val hd = new Buf
      hd.bytes("EAHD".getBytes("ASCII")).u8(0).u8(client)
      hd.u8(elemSize).u8(MaxBits).u8(IdxElmts).u8(MinElmts).u8(MinPtrs).u8(s.eaPageBits)
      hd.u64(nSbAlloc.toLong).u64(sbBytes).u64(nDbAlloc.toLong).u64(dbBytes)
      hd.u64(n).u64(n)
      hd.u64(iblkAddr)
      checksummed(out, hd)
      val ib = prefix("EAIB")
      (0 until g.idxElmts).foreach(i => elem(ib, i.toLong))
      directAddrs.foreach(ib.u64)
      sblkAddrs.foreach { case (sa, _) => ib.u64(sa) }
      checksummed(out, ib)
      // data blocks: unpaged inline elements, or — past 2^eaPageBits
      // elements — a bare prefix followed by per-checksummed pages
      def dataBlock(db: Db): Unit = {
        val b = prefix("EADB")
        blockOff(b, db.startElem)
        if (g.dblkPaged(db.sb)) {
          checksummed(out, b)
          (0 until g.dblkNpages(db.sb)).foreach { p =>
            val pg = new Buf
            val base = db.startElem + p.toLong * g.pageNelmts
            (0 until g.pageNelmts).foreach(i => elem(pg, base + i))
            checksummed(out, pg)
          }
        } else {
          (0 until g.dblkNelmts(db.sb)).foreach(i => elem(b, db.startElem + i))
          checksummed(out, b)
        }
      }
      directDbs.flatten.foreach(dataBlock)
      sblks.flatten.zip(sblkAddrs.filter(_._1 != UNDEF)).foreach {
        case ((sb, sblkStart, dbs), (_, das)) =>
          val b = prefix("EASB")
          blockOff(b, sblkStart)
          if (g.dblkPaged(sb)) {
            // per-data-block page-init bitmaps: every page of an
            // ALLOCATED block is initialized (unset elements are
            // undefined addresses); unallocated blocks' pages are not
            dbs.foreach { d =>
              val bits = if (d.isDefined) 0xff else 0x00
              (0 until g.pageInitSize(sb)).foreach { k =>
                val rem = g.dblkNpages(sb) - k * 8
                b.u8(bits & (if (rem >= 8) 0xff else (1 << rem) - 1))
              }
            }
          }
          das.foreach(b.u64)
          checksummed(out, b)
          dbs.flatten.foreach(dataBlock)
      }
      out.result()
    }

    /** The element → position law is the [[EaGeom]] table re-derived
      * from the header's own creation params, so any writer's choices
      * resolve. */
    def decode(r: R, addr: Long, s: Shape): Entries = {
      val h = new BB(r.bytesAt(addr, 72))
      verifyCk(h.data, 68, "extensible array header", addr)
      signature(h, "EAHD", addr, "extensible array", s.where)
      h.skip(1) // version
      val clientId = h.u8()
      require((clientId == 0) == !s.filtered,
        s"extensible array client id $clientId inconsistent with filter pipeline of ${s.where}")
      val elemSize = h.u8()
      val maxBits = h.u8(); val idxElmts = h.u8(); val minElmts = h.u8()
      val minPtrs = h.u8(); val pageBits = h.u8()
      h.skip(6 * 8) // statistics (block counts/sizes, max index, nelmts)
      val iblkAddr = h.u64()
      val g = EaGeom(maxBits, idxElmts, minPtrs, minElmts, pageBits)
      val szBytes = elemSize - 12 // filtered element: addr(8) + size + mask(4)
      val acc = ArrayBuffer.empty[Entry]
      def element(b: BB, pos: Long): Unit = {
        val e = readEntry(b, pos, s, szBytes)
        if (e.addr != UNDEF) acc += e
      }
      /** One data block's elements; `initBits` (the owning secondary
        * block's page bitmap) marks which pages of a paged block exist. */
      def readDb(dbAddr: Long, sb: Int, startPos: Long, initBits: Array[Int]): Unit = {
        val db = new BB(r.bytesAt(dbAddr, g.dblkExtent(sb, elemSize)))
        if (!g.dblkPaged(sb)) {
          verifyCk(db.data, g.dblkSize(sb, elemSize) - 4, "extensible array data block", dbAddr)
          signature(db, "EADB", dbAddr, "extensible array data block", s.where)
          db.skip(2 + 8 + g.arrOffSize) // version, client, header addr, block offset
          var i = 0
          while (i < g.dblkNelmts(sb)) { element(db, startPos + i); i += 1 }
        } else {
          verifyCk(db.data, g.dblkPrefixSize - 4, "extensible array data block prefix", dbAddr)
          signature(db, "EADB", dbAddr, "extensible array data block", s.where)
          db.skip(2 + 8 + g.arrOffSize + 4) // prefix + its checksum (verified)
          val pageBytes = g.pageNelmts * elemSize
          (0 until g.dblkNpages(sb)).foreach { p =>
            val base = startPos + p.toLong * g.pageNelmts
            if ((initBits(p / 8) & (1 << (p % 8))) != 0) {
              val pg = java.util.Arrays.copyOfRange(db.data, db.off, db.off + pageBytes + 4)
              verifyCk(pg, pageBytes, s"extensible array page $p", dbAddr)
              var i = 0
              while (i < g.pageNelmts) { element(db, base + i); i += 1 }
            } else db.skip(pageBytes) // uninit: bytes unchecked
            db.skip(4) // page checksum
          }
        }
      }
      val ib = new BB(r.bytesAt(iblkAddr, g.iblkSize(elemSize)))
      verifyCk(ib.data, g.iblkSize(elemSize) - 4, "extensible array index block", iblkAddr)
      signature(ib, "EAIB", iblkAddr, "extensible array index block", s.where)
      ib.skip(2 + 8)
      var pos = 0L
      (0 until idxElmts).foreach { _ => element(ib, pos); pos += 1 }
      val directAddrs = (0 until g.nDblkAddrs).map(_ => ib.u64())
      val sblkAddrs = (0 until g.nSblkAddrs).map(_ => ib.u64())
      var slot = 0
      (0 until g.firstSblk).foreach { sb =>
        (0 until g.ndblks(sb)).foreach { _ =>
          val a = directAddrs(slot); slot += 1
          if (a != UNDEF) {
            require(!g.dblkPaged(sb),
              s"paged directly-addressed extensible-array data block for ${s.where} (superblock $sb)")
            readDb(a, sb, pos, Array.empty)
          }
          pos += g.dblkNelmts(sb)
        }
      }
      val allInit = Array.fill(32)(0xff) // unpaged blocks need no bitmap
      (g.firstSblk until g.nSblks).foreach { sb =>
        if (pos < s.nChunks) {
          val sa = sblkAddrs(sb - g.firstSblk)
          if (sa == UNDEF) pos += g.ndblksL(sb) * g.dblkNelmtsL(sb)
          else {
            val b = new BB(r.bytesAt(sa, g.sblkSize(sb)))
            verifyCk(b.data, g.sblkSize(sb) - 4, "extensible array secondary block", sa)
            signature(b, "EASB", sa, "extensible array secondary block", s.where)
            b.skip(2 + 8 + g.arrOffSize)
            // paged superblocks carry per-data-block page-init bitmaps
            // AHEAD of the data block addresses
            val bitmaps: IndexedSeq[Array[Int]] =
              if (g.dblkPaged(sb)) (0 until g.ndblks(sb)).map(_ => Array.fill(g.pageInitSize(sb))(b.u8()))
              else (0 until g.ndblks(sb)).map(_ => allInit)
            (0 until g.ndblks(sb)).foreach { d =>
              val a = b.u64()
              if (a != UNDEF) readDb(a, sb, pos, bitmaps(d))
              pos += g.dblkNelmts(sb)
            }
          }
        }
      }
      acc
    }
  }

  /** v2 B-tree (layout-v4 type 5, record types 10 and 11): records of
    * (address, [stored size, filter mask,] one scaled offset per dataset
    * dim) in ascending scaled-offset order. One leaf holds what fits the
    * declared node size; past that the writer builds a uniform-depth tree
    * of internal (BTIN) nodes by [[Bt2Capacity]], to any depth. */
  case object BtreeV2 extends ChunkIndex("btree2", 5, 6) {
    private val NodeSize = 2048

    override protected def writeParams(lay: Buf, entries: Entries, s: Shape): Unit =
      lay.u32(NodeSize).u8(100).u8(40) // node size, split and merge percents

    private def recSize(s: Shape): Int = 8 + (if (s.filtered) 8 else 0) + 8 * (1 + s.geom.rank)

    override def encode(entries: Entries, s: Shape, selfAddr: Long): Array[Byte] = {
      val g = s.geom
      val rs = recSize(s)
      val n = entries.length
      val typ = if (s.filtered) 11 else 10
      val cap = new Bt2Capacity(NodeSize, rs)
      def record(out: Buf, p: Int): Unit = {
        val e = entries(p)
        writeEntry(out, e, s)
        out.u64(e.pos / g.nTiles) // scaled offset along the record dim
        (0 until g.rank).foreach(d => out.u64(g.tileCoord(e.pos % g.nTiles, d)))
      }
      def node(sig: String): Buf = {
        val b = new Buf
        b.bytes(sig.getBytes("ASCII")).u8(0).u8(typ)
      }
      var depth = 0
      while (cap.records(depth) < n) depth += 1
      // the uniform-depth tree: an internal subtree over `cnt` records
      // keeps m separators in the node and spreads the rest over m+1
      // children, m minimal so every child subtree fits
      final case class Plan(d: Int, start: Int, cnt: Int, children: Seq[Plan]) {
        val ownRecs: Int = if (d == 0) cnt else children.length - 1
      }
      def plan(d: Int, start: Int, cnt: Int): Plan =
        if (d == 0) Plan(0, start, cnt, Nil)
        else {
          val fit = cap.records(d - 1)
          val m = math.max(1L, cnt / (fit + 1)).toInt // ceil((cnt − fit)/(fit + 1))
          val kids = m + 1
          val inKids = cnt - m
          var st = start
          val children = (0 until kids).map { c =>
            val cc = inKids / kids + (if (c < inKids % kids) 1 else 0)
            val child = plan(d - 1, st, cc)
            st += cc + 1 // the record after each non-final child is its separator
            child
          }
          Plan(d, start, cnt, children)
        }
      def ptrBytes(d: Int): Int = 8 + cap.countBytes(d) + cap.totalBytes(d)
      def nodeSize(p: Plan): Int =
        6 + p.ownRecs * rs + (if (p.d == 0) 0 else p.children.length * ptrBytes(p.d)) + 4
      def subtreeSize(p: Plan): Int = nodeSize(p) + p.children.map(subtreeSize).sum
      // DFS pre-order layout: node, then each child's whole subtree
      def emit(p: Plan, addr: Long, out: Buf): Unit = {
        val b = node(if (p.d == 0) "BTLF" else "BTIN")
        if (p.d == 0) {
          (p.start until p.start + p.cnt).foreach(record(b, _))
          checksummed(out, b)
        } else {
          val childAddrs = p.children.scanLeft(addr + nodeSize(p))((a, c) => a + subtreeSize(c))
          p.children.dropRight(1).foreach(c => record(b, c.start + c.cnt))
          p.children.zip(childAddrs).foreach { case (c, a) =>
            b.u64(a)
            (0 until cap.countBytes(p.d)).foreach(k => b.u8((c.ownRecs >> (8 * k)) & 0xff))
            (0 until cap.totalBytes(p.d)).foreach(k => b.u8((c.cnt >> (8 * k)) & 0xff))
          }
          require(b.size + 4 == nodeSize(p), s"BTIN size ${b.size + 4} != ${nodeSize(p)}")
          checksummed(out, b)
          p.children.zip(childAddrs).foreach { case (c, a) => emit(c, a, out) }
        }
      }
      val root = plan(depth, 0, n)
      val out = new Buf
      val hd = node("BTHD")
      hd.u32(NodeSize).u16(rs).u16(depth).u8(100).u8(40)
      hd.u64(selfAddr + 38).u16(root.ownRecs).u64(n.toLong)
      checksummed(out, hd)
      require(out.size == 38, s"BTHD size ${out.size}")
      emit(root, selfAddr + 38, out)
      out.result()
    }

    /** Walks the tree through [[Hdf5Format.btree2Records]]; a scaled
      * offset off the tile grid is an IOException naming `s.where`. */
    def decode(r: R, addr: Long, s: Shape): Entries = {
      val g = s.geom
      val (rs, n, recs) = Hdf5Format.btree2Records(r, addr, if (s.filtered) 11 else 10)
      val szBytes = rs - 8 - 4 - 8 * (1 + g.rank) // type 11 chunk-size width
      val scaled = new Array[Long](g.rank)
      val acc = new ArrayBuffer[Entry](n)
      var k = 0
      while (k < n) {
        val e = readEntry(recs, 0L, s, szBytes)
        val row = recs.u64()
        var d = 0
        while (d < g.rank) { scaled(d) = recs.u64(); d += 1 }
        acc += e.copy(pos = row * g.nTiles + g.tileOf(scaled, scaled = true, s.where))
        k += 1
      }
      inOrder(acc)
    }
  }
}

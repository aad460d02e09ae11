package graft

import graft.sources.netcdf.{ChunkIndex, ChunkIndexSpec, Hdf5Format}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** READER-INDEPENDENT fixtures for the HDF5 structures the r8 read
  * path added (r8 verdict item 2): every byte below is hand-assembled
  * from the PUBLIC format spec (HDF5 File Format Specification v3.0),
  * never produced by this repo's writer — so a matched writer/reader
  * bug pair (a wrong padding law, a swapped field, an off-by-one page
  * bound encoded identically on both sides) cannot self-cancel. The
  * precedent is Hdf5Spec's depth-2 v2 B-tree and nested-fractal-heap
  * fixtures; this suite extends it to vlen-string global heaps, dense
  * attributes, paged fixed/extensible-array chunk indexes, and the
  * compound v1/v2 member framings, plus LOUD-failure pins for flipped
  * checksums and truncated pages (r8 verdict item 7). */
class Hdf5FixtureSpec extends AnyFunSuite {

  private def fs = new Path("/tmp").getFileSystem(new Configuration())

  private def writeFile(name: String, bytes: Array[Byte]): Path = {
    val p = new Path(s"/tmp/graft_h5/$name")
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    p
  }

  private def buf(n: Int): java.nio.ByteBuffer =
    java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)

  private def ck(bb: java.nio.ByteBuffer, pos: Int, used: Int): Unit = {
    bb.position(pos + used)
    bb.putInt(Hdf5Format.lookup3(java.util.Arrays.copyOfRange(bb.array(), pos, pos + used)))
  }

  // -----------------------------------------------------------------
  // compound datatype message framings v1 / v2 (the v3 pin lives in
  // Hdf5Spec) — 12-byte element {i64 a; f4 b}
  // -----------------------------------------------------------------

  private def memberDtI64(m: java.io.ByteArrayOutputStream): Unit =
    Seq(0x10, 0x08, 0, 0, 8, 0, 0, 0, /*props*/ 0, 0, 64, 0).foreach(m.write)

  private def memberDtF32(m: java.io.ByteArrayOutputStream): Unit = {
    Seq(0x11, 0x20, 0x1f, 0, 4, 0, 0, 0).foreach(m.write)
    Seq(0, 0, 32, 0, 23, 8, 0, 23, 127, 0, 0, 0).foreach(m.write) // 12 prop bytes
  }

  test("compound v1 member framing: 8-padded names + dimensionality block") {
    val m = new java.io.ByteArrayOutputStream()
    Seq(0x16, 2, 0, 0, 12, 0, 0, 0).foreach(m.write) // v1 compound, 2 members, size 12
    m.write('a'); (0 until 7).foreach(_ => m.write(0)) // name "a", padded to 8
    Seq(0, 0, 0, 0).foreach(m.write)                   // byte offset 0 (u32)
    (0 until 28).foreach(_ => m.write(0))              // v1 dimensionality block
    memberDtI64(m)
    m.write('b'); (0 until 7).foreach(_ => m.write(0))
    Seq(8, 0, 0, 0).foreach(m.write)                   // byte offset 8
    (0 until 28).foreach(_ => m.write(0))
    memberDtF32(m)
    val ms = Hdf5Format.parseCompoundMessage(m.toByteArray)
    assert(ms == Seq(("a", Hdf5Format.KLong, 0), ("b", Hdf5Format.KFloat, 8)), ms.toString)
  }

  test("compound v2 member framing: 8-padded names, no dimensionality block") {
    val m = new java.io.ByteArrayOutputStream()
    Seq(0x26, 2, 0, 0, 12, 0, 0, 0).foreach(m.write)
    m.write('a'); (0 until 7).foreach(_ => m.write(0))
    Seq(0, 0, 0, 0).foreach(m.write)
    memberDtI64(m)
    m.write('b'); (0 until 7).foreach(_ => m.write(0))
    Seq(8, 0, 0, 0).foreach(m.write)
    memberDtF32(m)
    val ms = Hdf5Format.parseCompoundMessage(m.toByteArray)
    assert(ms == Seq(("a", Hdf5Format.KLong, 0), ("b", Hdf5Format.KFloat, 8)), ms.toString)
  }

  // -----------------------------------------------------------------
  // GCOL global-heap collection (spec III.E) — the vlen-string payload
  // store: 16-byte entry headers, 8-padded data, index-0 terminator
  // -----------------------------------------------------------------

  test("GCOL walk resolves hand-assembled collections (vlen payload store)") {
    val bb = buf(96)
    bb.put("GCOL".getBytes("ASCII")).put(1.toByte).put(Array[Byte](0, 0, 0))
      .putLong(80L) // collection size incl. header
    // object 1: "hello" (5 bytes, padded to 8)
    bb.putShort(1).putShort(1).putInt(0).putLong(5L).put("hello".getBytes("ASCII"))
    bb.position(16 + 16 + 8)
    // object 2: "worlds!" (7 bytes, padded to 8)
    bb.putShort(2).putShort(1).putInt(0).putLong(7L).put("worlds!".getBytes("ASCII"))
    bb.position(16 + 24 + 16 + 8)
    // index-0 free-space pseudo-object terminates the walk
    bb.putShort(0).putShort(0).putInt(0).putLong(16L)
    val p = writeFile("gcol_fixture.bin", bb.array())
    val objs = Hdf5Format.gcolForTest(fs, p, 0L)
    assert(objs.keySet == Set(1, 2), objs.keySet.toString)
    assert(new String(objs(1), "ASCII") == "hello")
    assert(new String(objs(2), "ASCII") == "worlds!")
  }

  test("GCOL object whose size overruns the collection body rejects loudly " +
      "(no zero-padded vlen payloads from a truncated heap)") {
    val bb = buf(48)
    bb.put("GCOL".getBytes("ASCII")).put(1.toByte).put(Array[Byte](0, 0, 0))
      .putLong(48L) // collection size incl. header → 32-byte body
    // object 1 claims 100 bytes — far past the body end; the old walk
    // copyOfRange'd a zero-padded payload, the hardened walk rejects
    bb.putShort(1).putShort(1).putInt(0).putLong(100L)
    val p = writeFile("gcol_overrun.bin", bb.array())
    val e = intercept[IllegalArgumentException] {
      Hdf5Format.gcolForTest(fs, p, 0L)
    }
    assert(e.getMessage.contains("overruns collection body"), e.getMessage)
  }

  // -----------------------------------------------------------------
  // datatype-class dispatch on a patched class nibble (r9 verdict
  // item 5, updated for the r10 class-4/5/10 read support): a wild
  // file carrying time (class 2) data must fail with a message NAMING
  // the class; bitfield (class 4) and opaque (class 5) now READ as
  // KBitfield/KOpaque; a class-10 array whose datatype version is v1
  // (the spec only defines v2/v3) rejects naming the bad version.
  // Fixture: a real writer-produced file whose class-0 datatype
  // message byte is patched to the foreign class — v1 object headers
  // (h5ver=0) carry no checksum, so the patch isolates the
  // datatype-class dispatch and nothing else.
  // -----------------------------------------------------------------

  test("patched datatype classes: 2 rejects naming the class, 4/5 read " +
      "as bitfield/opaque, 10 rejects its v1 version") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val w = new Hdf5Format.Hdf5Writer(
      StructType(Seq(StructField("v", LongType))), chunkRecs = 8, deflate = false)
    (0 until 4).foreach(i => w.writeRow(_ => i.toLong))
    val base = w.finish()
    // the class-0 v1 datatype message for a signed i64: header
    // (clsVer=0x10, bits=0x08,0,0, size=8) + props (offset 0, prec 64)
    val pat = Array[Byte](0x10, 0x08, 0, 0, 8, 0, 0, 0, 0, 0, 0x40, 0)
    val at = base.indices.indexWhere(i => i + pat.length <= base.length &&
      pat.indices.forall(j => base(i + j) == pat(j)))
    assert(at > 0, "class-0 datatype message not found in writer output")
    def patchTo(cls: Int): org.apache.hadoop.fs.Path = {
      val patched = base.clone()
      patched(at) = (0x10 | cls).toByte
      writeFile(s"dtype_class_$cls.nc4", patched)
    }
    // class 2 (time): deliberate loud reject naming class AND dataset
    val e2 = intercept[java.io.IOException] { Hdf5Format.readMeta(fs, patchTo(2)) }
    assert(e2.getMessage.contains("time (class 2)"), e2.getMessage)
    assert(e2.getMessage.contains("for v"), e2.getMessage)
    // class 4 (bitfield): reads as a width-8 bitfield since r10
    val m4 = Hdf5Format.readMeta(fs, patchTo(4))
    assert(m4.vars.map(_.kind) == Seq(Hdf5Format.KBitfield(8)), m4.vars.toString)
    // class 5 (opaque): reads as width-8 opaque; the class-0 props
    // aren't a valid tag (claimed len 8 > 4 remaining) so tag is empty
    val m5 = Hdf5Format.readMeta(fs, patchTo(5))
    assert(m5.vars.map(_.kind) == Seq(Hdf5Format.KOpaque(8, "")), m5.vars.toString)
    // class 10 (array): the patched message keeps datatype version 1,
    // which the array class doesn't define — loud reject names it
    val e10 = intercept[java.io.IOException] { Hdf5Format.readMeta(fs, patchTo(10)) }
    assert(e10.getMessage.contains("array (class 10) datatype version 1"),
      e10.getMessage)
  }

  // -----------------------------------------------------------------
  // hostile chunk geometry in a writer-produced v1 file (no header
  // checksums, so each patch isolates one field): a chunk key off the
  // tile grid, and a chunk too large for one JVM array. Each must be
  // an IOException naming the file and the variable, not an index or
  // array-size error from inside the reader.
  // -----------------------------------------------------------------

  private def u64At(b: Array[Byte], off: Int, x: Long): Unit =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(off, x)
  private def u32Of(b: Array[Byte], off: Int): Int =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(off)

  /** Read every element of the one variable in `p`, metadata included. */
  private def readAll(p: Path): Unit = {
    val v = Hdf5Format.readMeta(fs, p).vars.head
    val rd = new Hdf5Format.VarReader(fs, p, v, 0L, v.numRecs)
    try (0L until v.numRecs).foreach { r =>
      v.kind match {
        case Hdf5Format.KFloatArr(k) => (0 until k).foreach(j => rd.getFloatElem(r, j))
        case _ => rd.getFloat(r)
      }
    } finally rd.close()
  }

  test("patched chunk B-tree key off the tile grid is an IOException naming it") {
    import org.apache.spark.sql.types._
    val w = new Hdf5Format.Hdf5Writer(StructType(Seq(StructField("vec",
      ArrayType(FloatType, containsNull = false), nullable = false))),
      chunkRecs = 32, arrayLens = Map("vec" -> 16), chunkCols = 4)
    (0 until 100).foreach(r => w.putFloatArrAt(0, Array.tabulate(16)(j => r * 16f + j)))
    val base = w.finish()
    // the chunk B-tree node: "TREE" with node type 1 (type 0 is the
    // root group's); its first key is (size u32, mask u32, record
    // offset u64, column offset u64, element offset u64)
    val tree = base.indices.indexWhere(i => i + 5 <= base.length &&
      base(i) == 'T' && base(i + 1) == 'R' && base(i + 2) == 'E' && base(i + 3) == 'E' &&
      base(i + 4) == 1)
    assert(tree > 0, "chunk B-tree not found in writer output")
    readAll(writeFile("tile_key_base.nc4", base)) // unpatched: reads
    // past the 16 columns, then inside them but off a 4-wide tile edge
    for (col <- Seq(16L, 2L)) {
      val patched = base.clone()
      u64At(patched, tree + 24 + 16, col)
      val e = intercept[java.io.IOException](readAll(writeFile(s"tile_key_$col.nc4", patched)))
      assert(e.getMessage.contains(s"tile_key_$col.nc4") && e.getMessage.contains("variable vec") &&
        e.getMessage.contains(s"offset $col"), e.getMessage)
    }
  }

  test("patched layout chunk too large to buffer is an IOException naming it") {
    import org.apache.spark.sql.types._
    val w = new Hdf5Format.Hdf5Writer(StructType(Seq(StructField("f", FloatType,
      nullable = false))), chunkRecs = 77)
    (0 until 200).foreach(r => w.putFloatAt(0, r * 0.5f))
    val base = w.finish()
    // layout message v3, chunked (class 2), rank 2: B-tree address,
    // then chunk dims (77 records, 4-byte element)
    val lay = base.indices.indexWhere(i => i + 19 <= base.length &&
      base(i) == 3 && base(i + 1) == 2 && base(i + 2) == 2 &&
      u32Of(base, i + 11) == 77 && u32Of(base, i + 15) == 4)
    assert(lay > 0, "layout message not found in writer output")
    readAll(writeFile("huge_chunk_base.nc4", base)) // unpatched: reads
    val patched = base.clone()
    java.nio.ByteBuffer.wrap(patched).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(lay + 11, 0x7FFFFFFF)
    val e = intercept[java.io.IOException](readAll(writeFile("huge_chunk.nc4", patched)))
    assert(e.getMessage.contains("huge_chunk.nc4") && e.getMessage.contains("variable f"),
      e.getMessage)
  }

  test("patched chunk B-tree stored size (negative, past EOF) is an IOException naming it") {
    import org.apache.spark.sql.types._
    val w = new Hdf5Format.Hdf5Writer(StructType(Seq(StructField("f", FloatType,
      nullable = false))), chunkRecs = 32)
    (0 until 100).foreach(r => w.putFloatAt(0, r * 0.5f))
    val base = w.finish()
    // the chunk B-tree node (type 1); its first key opens with the
    // chunk's stored size (u32) and its child pointer is the chunk's
    // address, after the key's mask and two offsets
    val tree = base.indices.indexWhere(i => i + 5 <= base.length &&
      base(i) == 'T' && base(i + 1) == 'R' && base(i + 2) == 'E' && base(i + 3) == 'E' &&
      base(i + 4) == 1)
    assert(tree > 0, "chunk B-tree not found in writer output")
    readAll(writeFile("stored_size_base.nc4", base)) // unpatched: reads
    val addr = java.nio.ByteBuffer.wrap(base).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .getLong(tree + 24 + 8 + 16)
    // 0xFFFFFFFF reads as a negative Int; the other ends one byte past EOF
    for ((tag, size) <- Seq("neg" -> -1, "eof" -> (base.length - addr + 1).toInt)) {
      val patched = base.clone()
      java.nio.ByteBuffer.wrap(patched).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(tree + 24, size)
      val e = intercept[java.io.IOException](readAll(writeFile(s"stored_size_$tag.nc4", patched)))
      assert(e.getMessage.contains(s"stored_size_$tag.nc4") && e.getMessage.contains("variable f"),
        e.getMessage)
    }
  }

  test("patched chunk B-tree node that points at itself is an IOException naming it") {
    import org.apache.spark.sql.types._
    val w = new Hdf5Format.Hdf5Writer(StructType(Seq(StructField("f", FloatType,
      nullable = false))), chunkRecs = 32)
    (0 until 100).foreach(r => w.putFloatAt(0, r * 0.5f))
    val base = w.finish()
    val tree = base.indices.indexWhere(i => i + 5 <= base.length &&
      base(i) == 'T' && base(i + 1) == 'R' && base(i + 2) == 'E' && base(i + 3) == 'E' &&
      base(i + 4) == 1)
    assert(tree > 0, "chunk B-tree not found in writer output")
    readAll(writeFile("btree_loop_base.nc4", base)) // unpatched: reads
    // level 1, so its entries point at child nodes, and the first child
    // (after the 24-byte header and a 24-byte key) is the node itself:
    // the walk used to recurse until the stack overflowed
    val patched = base.clone()
    patched(tree + 5) = 1
    u64At(patched, tree + 24 + 24, tree.toLong)
    val e = intercept[java.io.IOException](readAll(writeFile("btree_loop.nc4", patched)))
    assert(e.getMessage.contains("btree_loop.nc4") && e.getMessage.contains("variable f") &&
      e.getMessage.contains("level"), e.getMessage)
  }

  test("fixed-array stored size past the array bound is an IOException naming it") {
    import org.apache.spark.sql.types._
    val w = new Hdf5Format.Hdf5Writer(StructType(Seq(StructField("f", FloatType,
      nullable = false))), chunkRecs = 32, h5ver = 2, chunkIndex = "fixedarray")
    (0 until 100).foreach(r => w.putFloatAt(0, r * 0.5f))
    val base = w.finish()
    // the one variable's fixed array ends the file: a 28-byte FAHD, then
    // an FADB of 14 prefix bytes, 4 filtered 16-byte entries (address,
    // u32 size, u32 mask) and a checksum
    val fahd = base.indices.indexWhere(i => i + 4 <= base.length &&
      base(i) == 'F' && base(i + 1) == 'A' && base(i + 2) == 'H' && base(i + 3) == 'D')
    assert(fahd > 0 && fahd + 28 + 14 + 4 * 16 + 4 == base.length, s"FAHD at $fahd")
    readAll(writeFile("fa_size_base.nc4", base)) // unpatched: reads
    // rewrite it with 5-byte sizes (17-byte entries, as a file of larger
    // chunks has them); `wide` gives chunk 2 a size 2^32 past its real
    // one, whose low 32 bits alone used to pass as the stored size
    val bb = java.nio.ByteBuffer.wrap(base).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val entries = (0 until 4).map { i =>
      val e = fahd + 28 + 14 + i * 16
      (bb.getLong(e), bb.getInt(e + 8).toLong & 0xffffffffL, bb.getInt(e + 12))
    }
    def fiveByteSizes(wide: Boolean): Array[Byte] = {
      val fa = buf(28 + 14 + 4 * 17 + 4)
      fa.put("FAHD".getBytes("ASCII")).put(0.toByte).put(1.toByte).put(17.toByte)
        .put(12.toByte).putLong(4L).putLong(fahd + 28L)
      ck(fa, 0, 24)
      fa.position(28)
      fa.put("FADB".getBytes("ASCII")).put(0.toByte).put(1.toByte).putLong(fahd.toLong)
      entries.zipWithIndex.foreach { case ((addr, size, mask), i) =>
        val sz = if (wide && i == 2) size + (1L << 32) else size
        fa.putLong(addr)
        (0 until 5).foreach(k => fa.put((sz >>> (8 * k)).toByte))
        fa.putInt(mask)
      }
      ck(fa, 28, 14 + 4 * 17)
      java.util.Arrays.copyOf(base, fahd) ++ fa.array()
    }
    readAll(writeFile("fa_size_5byte.nc4", fiveByteSizes(wide = false)))
    val e = intercept[java.io.IOException](
      readAll(writeFile("fa_size_wide.nc4", fiveByteSizes(wide = true))))
    assert(e.getMessage.contains("fa_size_wide.nc4") && e.getMessage.contains("variable f"),
      e.getMessage)
  }

  // -----------------------------------------------------------------
  // dense attributes: FRHP (root direct block) + v2 B-tree type 8 +
  // serialized v3 AND v1 attribute messages as managed heap objects
  // -----------------------------------------------------------------

  test("dense attributes resolve from hand-assembled heap + type-8 B-tree") {
    val bb = buf(600)
    def at(pos: Int): java.nio.ByteBuffer = { bb.position(pos); bb }
    // FRHP @0: idLen 8, no filters, maxManaged 4096, width 2,
    // start/maxDirect 512, maxHeapBits 32 (offSize 4), root DIRECT
    // block @150 (curRows 0)
    at(0).put("FRHP".getBytes("ASCII")).put(0.toByte).putShort(8).putShort(0)
      .put(0.toByte).putInt(4096)
    at(110).putShort(2).putLong(512L).putLong(512L).putShort(32)
    at(132).putLong(150L).putShort(0)
    // attr A (v3 framing) at heap offset 20 → file 170: string "degC"
    // named "units"
    at(170).put(3.toByte).put(0.toByte).putShort(6).putShort(8).putShort(4)
      .put(0.toByte)
      .put("units".getBytes("ASCII")).put(0.toByte)
      .put(0x13.toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(4) // class-3 string dt
      .put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)             // v2 scalar dataspace
      .put("degC".getBytes("ASCII")) // 31 bytes total
    // attr B (v1 framing: 8-padded name/dt/ds) at heap offset 80 →
    // file 230: double 2.5 named "scale"
    at(230).put(1.toByte).put(0.toByte).putShort(6).putShort(8).putShort(4)
    at(238).put("scale".getBytes("ASCII")).put(0.toByte) // + 2 pad (zeros)
    at(246).put(0x11.toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(8) // f8 dt
    at(254).put(1.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // v1 scalar ds (+4 pad)
    at(262).putDouble(2.5) // 40 bytes total
    // BTHD @300 (type 8): nodeSize 512, recSize 8+9=17, depth 0,
    // root leaf @340 with 2 records
    at(300).put("BTHD".getBytes("ASCII")).put(0.toByte).put(8.toByte)
      .putInt(512).putShort(17).putShort(0).put(100.toByte).put(40.toByte)
      .putLong(340L).putShort(2).putLong(2L)
    ck(bb, 300, 34)
    // BTLF @340: records = heap id (flags, u32 off, u16 len, 1 pad) +
    // msg flags + creation order + name hash
    at(340).put("BTLF".getBytes("ASCII")).put(0.toByte).put(8.toByte)
    at(346).put(0.toByte).putInt(20).putShort(31).put(0.toByte)
      .put(0.toByte).putInt(0).putInt(0)
    at(363).put(0.toByte).putInt(80).putShort(40).put(0.toByte)
      .put(0.toByte).putInt(1).putInt(0)
    ck(bb, 340, 6 + 2 * 17)
    val p = writeFile("dense_attr_fixture.bin", bb.array())
    val body = buf(18).put(0.toByte).put(0.toByte).putLong(0L).putLong(300L).array()
    val attrs = Hdf5Format.denseAttrsForTest(fs, p, body)
    assert(attrs.map(_.name) == Seq("units", "scale"), attrs.toString)
    assert(attrs(0).text.contains("degC"))
    assert(attrs(1).text.isEmpty && attrs(1).nums.toSeq == Seq(2.5), attrs(1).toString)

    // LOUD-failure pin: a flipped bit in the type-8 leaf checksum must
    // fail the walk, never silently mislabel attributes
    val corrupt = bb.array().clone()
    corrupt(340 + 40) = (corrupt(340 + 40) ^ 0x01).toByte
    val pc = writeFile("dense_attr_corrupt.bin", corrupt)
    val e = intercept[java.io.IOException](Hdf5Format.denseAttrsForTest(fs, pc, body))
    assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
  }

  /** The chunks of fixture `p`'s `index` at offset 0 (untiled, so each
    * entry's position is its row block), decoded directly. */
  private def chunksAt(p: Path, index: ChunkIndex, chunkRecs: Int, chunkBytes: Int,
      nChunks: Long = 0L): Array[Hdf5Format.H5Chunk] = {
    val s = ChunkIndex.Shape(Hdf5Format.TileGeom(Nil, Nil), chunkRecs, nChunks,
      filtered = false, chunkBytes, p.getName)
    ChunkIndex.toChunks(ChunkIndexSpec.decodeFile(fs, p, index, 0L, s), s, Long.MaxValue)
  }

  // -----------------------------------------------------------------
  // paged FIXED ARRAY: FAHD + paged FADB (init bitmap, per-page
  // checksums, uninitialized middle page)
  // -----------------------------------------------------------------

  private def pagedFaFixture(): Array[Byte] = {
    val bb = buf(160)
    def at(pos: Int): java.nio.ByteBuffer = { bb.position(pos); bb }
    // FAHD @0: unfiltered, entrySize 8, pageBits 2 (4 entries/page),
    // 10 entries → pages of 4|4|2, FADB @32
    at(0).put("FAHD".getBytes("ASCII")).put(0.toByte).put(0.toByte)
      .put(8.toByte).put(2.toByte).putLong(10L).putLong(32L)
    ck(bb, 0, 24)
    // FADB @32: prefix(14) + bitmap 0b101 (page 1 UNINITIALIZED) + ck
    at(32).put("FADB".getBytes("ASCII")).put(0.toByte).put(0.toByte).putLong(0L)
      .put(5.toByte)
    ck(bb, 32, 15)
    // page 0 @51: entries 0-3 → addrs 1000..1003
    at(51); (0 until 4).foreach(i => bb.putLong(1000L + i))
    ck(bb, 51, 32)
    // page 1 @87: uninitialized — bytes arbitrary (left zero), skipped
    // page 2 @123: entries 8-9
    at(123).putLong(1008L).putLong(1009L)
    ck(bb, 123, 16)
    bb.array()
  }

  test("paged fixed-array data block resolves; uninit pages skip as fill") {
    val p = writeFile("fa_paged_fixture.bin", pagedFaFixture())
    val chunks = chunksAt(p, ChunkIndex.FixedArray, chunkRecs = 5, chunkBytes = 40)
    assert(chunks.map(_.startRec).toSeq == Seq(0L, 5L, 10L, 15L, 40L, 45L),
      chunks.map(_.startRec).mkString(","))
    assert(chunks.map(_.addr).toSeq == Seq(1000L, 1001L, 1002L, 1003L, 1008L, 1009L))
    assert(chunks.forall(_.storedSize == 40))
  }

  test("paged fixed-array corruption fails loudly (flipped page checksum, truncation)") {
    val bytes = pagedFaFixture()
    bytes(83) = (bytes(83) ^ 0x40).toByte // page-0 checksum bit flip
    val pc = writeFile("fa_paged_corrupt.bin", bytes)
    val e = intercept[java.io.IOException](chunksAt(pc, ChunkIndex.FixedArray, 5, 40))
    assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
    // truncation mid-page: the positioned read must throw, not serve
    // a short page
    val pt = writeFile("fa_paged_trunc.bin", java.util.Arrays.copyOf(pagedFaFixture(), 100))
    intercept[java.io.IOException](chunksAt(pt, ChunkIndex.FixedArray, 5, 40))
  }

  // -----------------------------------------------------------------
  // paged EXTENSIBLE ARRAY: EAHD + EAIB + direct EADBs + EASBs, the
  // s=3 superblock's data blocks PAGED with per-block init bitmaps
  // -----------------------------------------------------------------

  private val EA_UNDEF = -1L

  private def pagedEaFixture(): Array[Byte] = {
    // geometry: maxBits 16, idxElmts 2, minElmts 2, minPtrs 2,
    // pageBits 2 → firstSblk 2, arrOffSize 2; data blocks hold
    // minElmts·2^((s+1)/2) elements: s0=2, s1=4, s2=2×4, s3=2×8 —
    // superblock 3's blocks exceed the 4-element page → PAGED
    val bb = buf(860)
    def at(pos: Int): java.nio.ByteBuffer = { bb.position(pos); bb }
    def prefix(pos: Int, sig: String): java.nio.ByteBuffer =
      at(pos).put(sig.getBytes("ASCII")).put(0.toByte).put(0.toByte)
        .putLong(0L).putShort(0) // ver, client, header addr, block offset
    // EAHD @0
    at(0).put("EAHD".getBytes("ASCII")).put(0.toByte).put(0.toByte)
      .put(8.toByte)  // element size
      .put(16.toByte) // max nelmts bits
      .put(2.toByte)  // index-block elements
      .put(2.toByte)  // min data-block elements
      .put(2.toByte)  // min data-block pointers
      .put(2.toByte)  // page bits
    at(60).putLong(80L) // index block address
    ck(bb, 0, 68)
    // EAIB @80: 2 inline elements (pos 0-1), 2 direct DB addrs (s0,
    // s1), 28 secondary addrs (s2 @460, s3 @620, rest UNDEF)
    prefix(80, "EAIB").position(94)
    bb.putLong(1000L).putLong(1001L)
    bb.putLong(360L).putLong(400L)
    bb.putLong(460L).putLong(620L)
    (4 until 30).foreach(_ => bb.putLong(EA_UNDEF))
    ck(bb, 80, 270)
    // s0 DB @360 (pos 2-3): 2 elements, unpaged
    prefix(360, "EADB").putLong(1002L).putLong(1003L); ck(bb, 360, 32)
    // s1 DB @400 (pos 4-7): 4 elements; pos 7 UNDEF exercises
    // in-block sparseness
    prefix(400, "EADB").putLong(1004L).putLong(1005L).putLong(1006L).putLong(EA_UNDEF)
    ck(bb, 400, 48)
    // s2 SB @460 → two unpaged 4-element DBs @500/@560 (pos 8-15)
    prefix(460, "EASB").putLong(500L).putLong(560L); ck(bb, 460, 32)
    prefix(500, "EADB").putLong(1008L).putLong(1009L).putLong(1010L).putLong(1011L)
    ck(bb, 500, 48)
    prefix(560, "EADB").putLong(1012L).putLong(1013L).putLong(1014L).putLong(1015L)
    ck(bb, 560, 48)
    // s3 SB @620 → two PAGED 8-element DBs @660/@760; per-block
    // page-init bitmaps ride ahead of the addresses: DB0 both pages,
    // DB1 page 0 only
    prefix(620, "EASB").put(3.toByte).put(1.toByte).putLong(660L).putLong(760L)
    ck(bb, 620, 34)
    // s3 DB0 @660: bare prefix + its checksum, then 2 checksummed pages
    prefix(660, "EADB"); ck(bb, 660, 16)
    at(680); (0 until 4).foreach(i => bb.putLong(1016L + i)); ck(bb, 680, 32)
    at(716); (0 until 4).foreach(i => bb.putLong(1020L + i)); ck(bb, 716, 32)
    // s3 DB1 @760: page 0 initialized (pos 24-27), page 1 uninit
    // (bytes arbitrary, skipped unchecked)
    prefix(760, "EADB"); ck(bb, 760, 16)
    at(780); (0 until 4).foreach(i => bb.putLong(1024L + i)); ck(bb, 780, 32)
    bb.array()
  }

  test("paged extensible-array data blocks resolve through EASB bitmaps") {
    val p = writeFile("ea_paged_fixture.bin", pagedEaFixture())
    val chunks = chunksAt(p, ChunkIndex.ExtArray, chunkRecs = 3, chunkBytes = 24, nChunks = 32L)
    val present = (0 to 27).filter(_ != 7)
    assert(chunks.map(_.startRec).toSeq == present.map(_ * 3L),
      chunks.map(_.startRec).mkString(","))
    assert(chunks.map(_.addr).toSeq == present.map(1000L + _))
    assert(chunks.forall(_.storedSize == 24))
  }

  test("paged extensible-array corruption fails loudly (flipped checksums, truncation)") {
    // flipped page checksum inside a paged data block
    val b1 = pagedEaFixture()
    b1(716 + 32) = (b1(716 + 32) ^ 0x10).toByte
    val p1 = writeFile("ea_paged_corrupt_page.bin", b1)
    val e1 = intercept[java.io.IOException](chunksAt(p1, ChunkIndex.ExtArray, 3, 24, 32L))
    assert(e1.getMessage.contains("checksum mismatch"), e1.getMessage)
    // flipped secondary-block checksum
    val b2 = pagedEaFixture()
    b2(620 + 34) = (b2(620 + 34) ^ 0x01).toByte
    val p2 = writeFile("ea_paged_corrupt_sb.bin", b2)
    val e2 = intercept[java.io.IOException](chunksAt(p2, ChunkIndex.ExtArray, 3, 24, 32L))
    assert(e2.getMessage.contains("checksum mismatch"), e2.getMessage)
    // truncated mid paged-block: loud, never a short silent page
    val p3 = writeFile("ea_paged_trunc.bin", java.util.Arrays.copyOf(pagedEaFixture(), 700))
    intercept[java.io.IOException](chunksAt(p3, ChunkIndex.ExtArray, 3, 24, 32L))
  }
}

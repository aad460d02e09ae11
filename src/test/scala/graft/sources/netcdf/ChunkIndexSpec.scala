package graft.sources.netcdf

import java.nio.file.Files

import graft.sources.netcdf.ChunkIndex._
import graft.sources.netcdf.Hdf5Format.{BB, Buf, R, TileGeom}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Every chunk index kind decodes what it encodes: the layout message
  * and the index structure written for a list of entries read back as
  * exactly those entries, over random chunk counts, tile grids and
  * sparse patterns, and over the paged and multi-level shapes. */
class ChunkIndexSpec extends AnyFunSuite {
  private val fs: FileSystem = FileSystem.getLocal(new Configuration())
  private val dir = Files.createTempDirectory("graft_chunk_index").toFile

  /** Encode `entries` through `index` with its layout message, the index
    * at a non-zero offset of a file, and decode them back from both. */
  private def roundTrip(index: ChunkIndex, s: Shape, entries: Entries): (Entries, Array[Byte]) = {
    val selfAddr = 40L
    val bytes = index.encode(entries, s, selfAddr)
    val f = new java.io.File(dir, s"${index.name}.bin")
    Files.write(f.toPath, new Array[Byte](selfAddr.toInt) ++ bytes)
    val lay = new Buf
    val chunkDims = s.chunkRecs +: s.geom.chunk
    index.writeLayout(lay, chunkDims, 4,
      index.layoutAddr(entries.headOption.fold(-1L)(_.addr), selfAddr), entries, s)
    val b = new BB(lay.result())
    val ver = b.u8()
    assert(b.u8() == 2, "a chunked layout message")
    val layout = ChunkIndex.byLayout(b, ver, index.name)
    assert(layout.chunkDims == chunkDims && b.remaining == 0)
    (ChunkIndexSpec.decodeLayout(fs, new Path(f.getPath), layout, s), bytes)
  }

  private val genGeom: Gen[TileGeom] = for {
    rank <- Gen.choose(0, 3)
    dims <- Gen.listOfN(rank, Gen.choose(1, 6))
    chunk <- Gen.sequence[List[Int], Int](dims.map(d => Gen.choose(1, d)))
  } yield TileGeom(dims, chunk)

  /** A chunk grid of `n` chunks, a sparse pattern over it and an entry
    * per allocated chunk; unfiltered entries store full-size chunks. */
  private def genCase(index: ChunkIndex, n: Gen[Int]): Gen[(Shape, Entries)] = for {
    geom <- if (index.holdsTiles) genGeom else Gen.const(TileGeom(Nil, Nil))
    chunkRecs <- Gen.choose(1, 300)
    target <- if (index == Single) Gen.choose(0, 1) else n
    filtered <- if (index.holdsFilters) Gen.oneOf(true, false) else Gen.const(false)
    chunkBytes <- Gen.choose(1, 1 << 20)
    density <- if (index.holdsGaps) Gen.oneOf(0.0, 0.3, 0.9, 1.0) else Gen.const(1.0)
    pageBits <- Gen.choose(6, 13)
    seed <- Gen.long
  } yield {
    val nChunks = (target / geom.nTiles).toLong * geom.nTiles
    val s = Shape(geom, chunkRecs, nChunks, filtered, chunkBytes, index.name, pageBits)
    val rnd = new scala.util.Random(seed)
    val base = 1000L + rnd.nextInt(1 << 20)
    val entries = (0L until nChunks).filter(_ => rnd.nextDouble() < density).map { pos =>
      if (!filtered) Entry(pos, base + pos * chunkBytes, chunkBytes, 0)
      else Entry(pos, base + rnd.nextInt(Int.MaxValue).toLong * 16,
        1 + rnd.nextInt(Int.MaxValue - 1), rnd.nextInt())
    }
    (s, entries)
  }

  private val counts: Gen[Int] =
    Gen.frequency(4 -> Gen.choose(0, 60), 2 -> Gen.choose(500, 2500), 1 -> Gen.choose(5000, 17000))

  for (index <- ChunkIndex.kinds) {
    test(s"${index.name}: decode(encode(entries)) == entries (property)") {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40),
        Prop.forAll(genCase(index, counts)) { case (s, entries) =>
          roundTrip(index, s, entries)._1 == entries
        })
      assert(res.passed, res.status.toString)
    }
  }

  test("paged fixed and extensible arrays and a depth-2 v2 B-tree round-trip") {
    def full(s: Shape): Entries =
      (0L until s.nChunks).map(p => Entry(p, 5000 + p * 64, 40 + p % 7, (p % 3).toInt))
    val g = TileGeom(Seq(4, 4), Seq(2, 2))
    // past the fixed array's 4096-entry page
    val fa = Shape(g, 10, 4800, filtered = true, 64, "fa")
    // 64-entry pages from secondary-block superblock 5 on, in part unallocated
    val ea = Shape(g, 10, 1200, filtered = true, 64, "ea", eaPageBits = 6)
    // unfiltered rank-1 records: a depth-1 tree holds 10495
    val bt = Shape(TileGeom(Nil, Nil), 10, 12000, filtered = false, 64, "bt")
    val btEntries = (0L until bt.nChunks).map(p => Entry(p, 5000 + p * 64, 64, 0))
    assert(roundTrip(FixedArray, fa, full(fa))._1 == full(fa))
    assert(roundTrip(ExtArray, ea, full(ea))._1 == full(ea))
    val (back, bytes) = roundTrip(BtreeV2, bt, btEntries)
    assert(back == btEntries)
    assert((bytes(12) & 0xff) == 2, "depth 2") // the BTHD depth field
  }
}

object ChunkIndexSpec {
  /** Decode `index` at `addr` of fixture file `p` directly: the reader
    * the decoders take is private to this package. */
  def decodeFile(fs: FileSystem, p: Path, index: ChunkIndex, addr: Long, s: Shape): Entries =
    decodeLayout(fs, p, Layout(index, Nil, addr), s)

  private def decodeLayout(fs: FileSystem, p: Path, layout: Layout, s: Shape): Entries = {
    val in = fs.open(p)
    try layout.decode(new R(in), s) finally in.close()
  }
}

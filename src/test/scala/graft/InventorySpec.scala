package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-inventory smoke: every SparkEntry query runs at sf0.001 and
  * yields a readable result (count >= 0) — catches operators that only
  * work at larger scales or depend on absent columns. Also pins the
  * contract invariants the driver relies on. */
class InventorySpec extends AnyFunSuite {
  import TestSession._

  // Families RelationalSpec already exercises row-by-row are skipped
  // here to keep the suite fast.
  private val covered = queries.Relational.queries.keySet

  for ((name, fn) <- SparkEntry.queries if !covered.contains(name)) {
    test(s"$name runs at sf0.001") {
      assert(fn(spark, sf).count() >= 0)
    }
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("each nc/nc4 twin pair is registered and shares one oracle") {
    val twins = Seq(
      "nc_write_read_roundtrip" -> "nc4_read_roundtrip",
      "nc_read_prune" -> "nc4_read_prune",
      "nc_sorted_skip" -> "nc4_sorted_skip",
      "nc_isel_stride" -> "nc4_isel_stride",
      "nc_multifile_union" -> "nc4_multifile_union",
      "grid_from_source_index" -> "grid_from_nc4_index",
      "nc_scale_offset" -> "nc4_scale_offset",
      "nc_fillvalue_mask" -> "nc4_fillvalue_mask",
      "nc_time_decode" -> "nc4_time_decode",
      "nc_time_calendar" -> "nc4_time_calendar",
      "stream_nc_ingest" -> "nc4_stream_ingest",
      "stream_nc_sink" -> "stream_nc4_sink")
    for ((nc, nc4) <- twins) {
      assert(SparkEntry.queries.contains(nc) && SparkEntry.queries.contains(nc4), (nc, nc4))
      assert(SparkEntry.oracleSql(nc) == SparkEntry.oracleSql(nc4), (nc, nc4))
    }
  }

  test("inventory matches SURVEY §2 keys (set equality, both directions)") {
    val survey = scala.io.Source.fromFile("/root/repo/SURVEY.md", "UTF-8").mkString
    val keyRe = """\| `([a-z0-9_]+)` \|""".r
    val surveyKeys = keyRe.findAllMatchIn(survey).map(_.group(1)).toSet
    val queryKeys = SparkEntry.queries.keySet
    // every SURVEY §2 key must be implemented...
    val missing = surveyKeys -- queryKeys
    assert(missing.isEmpty, s"SURVEY keys without queries: $missing")
    // ...and every registered query must have its SURVEY §2 row — an
    // implemented-but-undocumented key is inventory drift too (the
    // r6/r7 nc4_fletcher_roundtrip lesson)
    val undocumented = queryKeys -- surveyKeys
    assert(undocumented.isEmpty, s"queries without SURVEY rows: $undocumented")
  }
}

package graft.sources.netcdf

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[ValueSel]] bound to the netCDF-4/HDF5 source — the same
  * value-space selection semantics (`sel()`, `sel(method='nearest')`,
  * `sel(method='linear')`, 2-D curvilinear `sel()`) the classic
  * container carries in [[NcSel]], now over genuine HDF5 bytes. This
  * matters because real users hit value addressing on netCDF-4 files
  * FAR more often than on classic files (the library's default output
  * format has been netCDF-4 since 4.0): an xarray user switching
  * containers must see identical selection behavior, and the pruning
  * story must survive the container change too — the HDF5 writer
  * records the same CF `actual_range` zone maps
  * ([[Hdf5Format.Hdf5Writer]]), the source checks pushed value
  * filters against them per part file ([[ChunkedScan]]), and the
  * header-only metadata pass reads them via [[Hdf5Format.readMeta]].
  * The selection algorithms themselves are SHARED with the classic
  * side (the [[ValueSel]] class): one implementation, two on-disk
  * generations, zero drift between them. */
object Nc4Sel extends ValueSel(NetCDF4) {

  /** Interpolating selection (`sel(method='linear')`) on the HDF5
    * container: four targets — below the corpus minimum (clamps to
    * the first bracket), an exact coordinate hit (interpolation
    * degenerates to the stored value), a mid-gap blend, and beyond
    * the maximum (clamps high) — resolved in ONE pruned scan via
    * [[ValueSel.interpAll]]. Same algorithm object as the classic
    * `nc_sel_interp` key; only the container binding differs, which
    * is exactly the claim under test. */
  def nc4SelInterp: (SparkSession, String) => DataFrame = (s, dir) => {
    val out = sortedFixture(s, dir)
    interpAll(s, out, "l_orderkey", "l_quantity", Seq(-7.0, 1234.0, 2500.25, 3.0e9))
  }

  val nc4SelInterpSql: String =
    """WITH o AS (SELECT l_orderkey, l_quantity,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS record
      |  FROM lineitem),
      |t(target) AS (VALUES (-7.0), (1234.0), (2500.25), (3.0e9))
      |SELECT t.target, lo.c AS c_lo, lo.v AS v_lo, hi.c AS c_hi, hi.v AS v_hi,
      |  CASE WHEN hi.c IS NULL THEN lo.v
      |       WHEN lo.c IS NULL THEN hi.v
      |       ELSE lo.v + (hi.v - lo.v) * (t.target - lo.c) / (hi.c - lo.c) END AS ival
      |FROM t
      |LEFT JOIN LATERAL (
      |  SELECT CAST(l_orderkey AS DOUBLE) AS c, l_quantity AS v FROM o
      |  WHERE l_orderkey <= t.target ORDER BY l_orderkey DESC, record LIMIT 1) lo ON true
      |LEFT JOIN LATERAL (
      |  SELECT CAST(l_orderkey AS DOUBLE) AS c, l_quantity AS v FROM o
      |  WHERE l_orderkey > t.target ORDER BY l_orderkey, record LIMIT 1) hi ON true""".stripMargin

  /** The vector form (`sel(time=[...], method='linear')` with a
    * target LIST) on the HDF5 container: eight interpolating
    * selections — clamp-low, small exact keys, fractional mid-gap
    * blends, clamp-high — in ONE pruned scan whose filter is the
    * union of the per-target bracket windows. N lookups cost one
    * corpus pass, not N, on netCDF-4 exactly as on classic. */
  def nc4SelInterpMulti: (SparkSession, String) => DataFrame = (s, dir) => {
    val out = sortedFixture(s, dir)
    interpAll(s, out, "l_orderkey", "l_quantity",
      Seq(-42.0, 7.0, 55.5, 388.75, 1040.0, 1776.25, 3500.0, 9.0e8))
  }

  val nc4SelInterpMultiSql: String =
    """WITH o AS (SELECT l_orderkey, l_quantity,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS record
      |  FROM lineitem),
      |t(target) AS (VALUES (-42.0), (7.0), (55.5), (388.75), (1040.0),
      |  (1776.25), (3500.0), (9.0e8))
      |SELECT t.target, lo.c AS c_lo, lo.v AS v_lo, hi.c AS c_hi, hi.v AS v_hi,
      |  CASE WHEN hi.c IS NULL THEN lo.v
      |       WHEN lo.c IS NULL THEN hi.v
      |       ELSE lo.v + (hi.v - lo.v) * (t.target - lo.c) / (hi.c - lo.c) END AS ival
      |FROM t
      |LEFT JOIN LATERAL (
      |  SELECT CAST(l_orderkey AS DOUBLE) AS c, l_quantity AS v FROM o
      |  WHERE l_orderkey <= t.target ORDER BY l_orderkey DESC, record LIMIT 1) lo ON true
      |LEFT JOIN LATERAL (
      |  SELECT CAST(l_orderkey AS DOUBLE) AS c, l_quantity AS v FROM o
      |  WHERE l_orderkey > t.target ORDER BY l_orderkey, record LIMIT 1) hi ON true""".stripMargin

  /** 2-D CURVILINEAR selection on the HDF5 container: the same
    * axis-free y×300 grid construction as the classic `nc_sel_coord2d`
    * key (lat(y,x) = y + (7x mod 13)/100, lon(y,x) = x + (11y mod
    * 17)/100 — exact rational arithmetic so both engines build the
    * identical grid), written range-bucketed on the cell index so
    * each .nc4 part file covers a tight lat band and the
    * [[ValueSel.nearest2d]] witness bound prunes real files. Three
    * targets: mid-grid, the (0,0) corner, and one absurdly far away
    * (the whole corpus becomes the window — the clamp case). */
  def nc4SelCoord2d: (SparkSession, String) => DataFrame = (s, dir) =>
    gridNearest2d(s, dir, Seq((42.7, 88.15), (0.0, 0.0), (2.0e9, -3.0)))

  val nc4SelCoord2dSql: String =
    """WITH o AS (SELECT l_quantity AS v,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx
      |  FROM lineitem),
      |cells AS (SELECT idx AS record, idx // 300 AS y, idx % 300 AS x,
      |  CAST(idx // 300 AS DOUBLE) + CAST((idx % 300) * 7 % 13 AS DOUBLE) / 100.0 AS lat,
      |  CAST(idx % 300 AS DOUBLE) + CAST((idx // 300) * 11 % 17 AS DOUBLE) / 100.0 AS lon,
      |  v AS val FROM o),
      |tg(tid, t_lat, t_lon) AS (VALUES
      |  (CAST(0 AS BIGINT), CAST(42.7 AS DOUBLE), CAST(88.15 AS DOUBLE)),
      |  (1, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
      |  (2, CAST(2.0e9 AS DOUBLE), CAST(-3.0 AS DOUBLE)))
      |SELECT tg.tid, tg.t_lat, tg.t_lon, b.record, b.y, b.x, b.lat, b.lon, b.val, b.dist2
      |FROM tg CROSS JOIN LATERAL (
      |  SELECT record, y, x, lat, lon, val,
      |    (lat - tg.t_lat) * (lat - tg.t_lat) + (lon - tg.t_lon) * (lon - tg.t_lon) AS dist2
      |  FROM cells ORDER BY dist2, record LIMIT 1) b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("nc4_sel_interp" -> nc4SelInterp,
      "nc4_sel_interp_multi" -> nc4SelInterpMulti,
      "nc4_sel_coord2d" -> nc4SelCoord2d)
  val oracles: Map[String, String] =
    Map("nc4_sel_interp" -> nc4SelInterpSql,
      "nc4_sel_interp_multi" -> nc4SelInterpMultiSql,
      "nc4_sel_coord2d" -> nc4SelCoord2dSql)
}

package graft.sources.netcdf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Value-based coordinate selection — the xarray `sel()` sugar on top
  * of a netCDF source's zone-map pruning, generic over the container:
  * the algorithms need only (a) a way to open the corpus dir as a
  * DataFrame whose scan prunes on pushed value filters, and (b) the
  * per-part-file `actual_range` zone maps from a header-only metadata
  * pass, both supplied by the [[ChunkedContainer]]. [[NcSel]] binds
  * them to the classic netcdf3 container, [[Nc4Sel]] to netCDF-4/HDF5
  * — same selection semantics on both on-disk generations, which is
  * exactly the xarray contract (`sel()` behaves identically on netcdf3
  * and netCDF-4 files).
  *
  * [[range]] is a plain value filter: the pushed predicate is checked
  * against each part file's `actual_range` header attribute, so files
  * wholly outside the range never open (near-partition-pruning when
  * the write was range-bucketed on the coordinate).
  *
  * [[nearest]] needs one fact beyond the filter: `actual_range` stores
  * the ACTUAL per-file min/max (the writer tracks real values), so
  * each endpoint is a value that exists. The nearest record therefore
  * lies within D = min over files of min(|t-min|, |t-max|) of the
  * target, and the search becomes a [t-D, t+D] range scan (zone maps
  * prune everything else) followed by a bounded min_by partial
  * aggregate — no sort, no shuffle beyond one scalar row per
  * partition, regardless of corpus size. The metadata pass is one
  * header read per part file on the driver; above ~metadata scale it
  * would fan out to executors exactly like [[NcIO.readAttrs]].
  */
private[netcdf] abstract class ValueSel(container: ChunkedContainer) {

  /** Open the corpus dir through the container's pruning source. */
  private def open(spark: SparkSession, dir: String): DataFrame =
    spark.read.format(container.provider).load(dir)

  /** Headers of the dir's non-empty part files. */
  private def headers(spark: SparkSession, dir: String): Seq[container.Meta] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    container.listFiles(fs, p).map(container.readMeta(fs, _)).filter(container.numRecs(_) > 0)
  }

  /** Per-file (min, max) of `coordVar` from the part-file headers. */
  private def coordRanges(spark: SparkSession, dir: String,
      coordVar: String): Seq[(Double, Double)] =
    headers(spark, dir).flatMap(container.actualRange(_, coordVar))

  /** Per-file zone-map range PAIRS for two coordinate variables in
    * one metadata pass (files with either range missing are skipped —
    * conservative: they are simply never prunable). */
  private def coordRangePairs(spark: SparkSession, dir: String,
      v1: String, v2: String): Seq[((Double, Double), (Double, Double))] =
    headers(spark, dir).flatMap { m =>
      for {
        r1 <- container.actualRange(m, v1)
        r2 <- container.actualRange(m, v2)
      } yield (r1, r2)
    }

  /** Inclusive-lo / exclusive-hi value selection on a coordinate
    * variable; pushes the filter so zone maps prune part files. */
  def range(spark: SparkSession, dir: String, coordVar: String,
      lo: Double, hi: Double): DataFrame =
    open(spark, dir)
      .filter(col(coordVar).cast(DoubleType) >= lo && col(coordVar).cast(DoubleType) < hi)

  /** Window-bound slack: [[NcFormat.readMeta]] widens NC_INT64
    * `actual_range` endpoints one ulp OUTWARD (conservative for
    * pruning beyond 2^53 — a long need not roundtrip through double),
    * which makes an endpoint-derived "guaranteed distance" up to one
    * ulp SHORTER than the true distance; the window arithmetic below
    * (t ± d) adds up to another ulp of rounding. Padding each bound by
    * 3 ulps restores the containment guarantee, and enlarging a window
    * can never change a min-by/bracket result — only which records are
    * merely scanned. (Found at a clamp-edge target whose window missed
    * the corpus maximum by exactly one ulp.) */
  protected def ulpsDown(x: Double, n: Int = 3): Double = {
    var v = x; var i = 0; while (i < n) { v = math.nextDown(v); i += 1 }; v
  }
  protected def ulpsUp(x: Double, n: Int = 3): Double = {
    var v = x; var i = 0; while (i < n) { v = math.nextUp(v); i += 1 }; v
  }

  /** The single record whose `coordVar` value is closest to `target`
    * (ties: smaller coordinate value, then smaller record index), as a
    * one-row DataFrame of the full record plus `dist`. */
  def nearest(spark: SparkSession, dir: String, coordVar: String,
      target: Double): DataFrame =
    nearestAll(spark, dir, coordVar, Seq(target)).drop("target")

  /** Multi-target [[nearest]] in ONE scan: per-target guaranteed
    * distances come from the same header metadata pass, the scan
    * filter is the OR of the per-target windows (zone maps still
    * prune files outside every window), and each surviving record is
    * fanned out only to the targets whose window contains it — then
    * one groupBy(target) min_by partial aggregate ranks all targets
    * at once. N nearest-neighbor lookups cost one corpus pass instead
    * of N. */
  def nearestAll(spark: SparkSession, dir: String, coordVar: String,
      targets: Seq[Double]): DataFrame = {
    require(targets.nonEmpty, "nearestAll needs at least one target")
    val ranges = coordRanges(spark, dir, coordVar)
    require(ranges.nonEmpty, s"no zone-map ranges for $coordVar in $dir")
    val windows = targets.map { t =>
      // endpoint distance, NOT 0 on containment: actual_range bounds
      // are real values, containment only says a closer one MIGHT exist
      val d = ranges.map { case (mn, mx) =>
        math.min(math.abs(t - mn), math.abs(t - mx))
      }.min
      (t, ulpsDown(t - d), ulpsUp(t + d))
    }
    val c = col(coordVar).cast(DoubleType)
    val anyWindow = windows.map { case (_, lo, hi) => c >= lo && c < hi }.reduce(_ || _)
    val scan = open(spark, dir).filter(anyWindow)
    val fanned = scan.select(col("*"), explode(array(windows.map { case (t, lo, hi) =>
      when(c >= lo && c < hi, lit(t)).otherwise(lit(null).cast(DoubleType))
    }: _*)).as("target"))
      .filter(col("target").isNotNull)
      .withColumn("dist", abs(c - col("target")))
    val cols = scan.columns
    val all = struct((cols :+ "dist").map(col): _*)
    val ord = struct(col("dist"), c, col("record"))
    fanned.groupBy("target").agg(min_by(all, ord).as("best"))
      .select(col("target"), col("best.*"))
  }

  /** 2-D nearest selection over CURVILINEAR coordinates (xarray
    * `sel()` on lat(y,x)/lon(y,x) coordinate pairs — the ocean/
    * atmosphere grid case where neither coordinate is an axis): for
    * each (lat, lon) target, the record minimizing Euclidean
    * distance² in coordinate space.
    *
    * The candidate window is metadata-bounded in BOTH coords by a
    * witness argument: each part file's `actual_range` endpoints are
    * ACTUAL values, so some record in file i sits at lat distance
    * d_lat(i) = min |t_lat − endpoint|, and that record's lon lies
    * inside the file's lon range, hence within d_lon_max(i) of t_lon.
    * U = min over files of √(d_lat(i)² + d_lon_max(i)²) is therefore
    * an ACHIEVED distance bound, and the true nearest must satisfy
    * |lat − t_lat| ≤ U AND |lon − t_lon| ≤ U. The scan filter is the
    * OR of those per-target boxes under an AND-able global envelope
    * (pushed, so lat/lon zone maps prune whole part files); surviving
    * records fan out only to covering targets, and one
    * groupBy(target) min_by partial aggregate ranks everything —
    * no sort, no all-pairs, N targets in ONE pruned pass. */
  def nearest2d(spark: SparkSession, dir: String, latVar: String, lonVar: String,
      targets: Seq[(Double, Double)]): DataFrame = {
    require(targets.nonEmpty, "nearest2d needs at least one target")
    val pairs = coordRangePairs(spark, dir, latVar, lonVar)
    require(pairs.nonEmpty, s"no zone-map ranges for ($latVar, $lonVar) in $dir")
    val windows = targets.zipWithIndex.map { case ((tla, tlo), i) =>
      val u = pairs.map { case ((lamn, lamx), (lomn, lomx)) =>
        val dlat = math.min(math.abs(tla - lamn), math.abs(tla - lamx))
        val dlon = math.max(math.abs(tlo - lomn), math.abs(tlo - lomx))
        math.sqrt(dlat * dlat + dlon * dlon)
      }.min
      (i.toLong, tla, tlo, u)
    }
    val la = col(latVar).cast(DoubleType)
    val lo = col(lonVar).cast(DoubleType)
    // AND-able envelope of all target boxes: this is what reaches the
    // scan's pushed filters and the per-file zone maps
    val laLo = ulpsDown(windows.map(w => w._2 - w._4).min)
    val laHi = ulpsUp(windows.map(w => w._2 + w._4).max)
    val loLo = ulpsDown(windows.map(w => w._3 - w._4).min)
    val loHi = ulpsUp(windows.map(w => w._3 + w._4).max)
    val scan = open(spark, dir)
      .filter(la >= laLo && la <= laHi && lo >= loLo && lo <= loHi)
    val cols = scan.columns
    val fanned = scan.select(col("*"), explode(array(windows.map { case (i, tla, tlo, u) =>
      when(la >= ulpsDown(tla - u) && la <= ulpsUp(tla + u)
        && lo >= ulpsDown(tlo - u) && lo <= ulpsUp(tlo + u), lit(i))
        .otherwise(lit(null).cast(org.apache.spark.sql.types.LongType))
    }: _*)).as("tid"))
      .filter(col("tid").isNotNull)
    val tlaC = element_at(array(windows.map(w => lit(w._2)): _*),
      col("tid").cast(org.apache.spark.sql.types.IntegerType) + 1)
    val tloC = element_at(array(windows.map(w => lit(w._3)): _*),
      col("tid").cast(org.apache.spark.sql.types.IntegerType) + 1)
    val scored = fanned
      .withColumn("t_lat", tlaC)
      .withColumn("t_lon", tloC)
      .withColumn("dist2",
        (la - col("t_lat")) * (la - col("t_lat"))
          + (lo - col("t_lon")) * (lo - col("t_lon")))
    val all = struct((cols :+ "dist2").map(col): _*)
    val ord = struct(col("dist2"), col("record"))
    scored.groupBy("tid", "t_lat", "t_lon")
      .agg(min_by(all, ord).as("best"))
      .select(col("tid"), col("t_lat"), col("t_lon"), col("best.*"))
  }

  /** Value interpolation at `target`: find the bracketing records
    * (greatest coord ≤ t, least coord > t — ties resolved toward the
    * smaller record index) and linearly interpolate `valueVar`
    * between them; clamp to the single bracket at the corpus edges.
    * Pruning mirrors [[nearestAll]]: per-side guaranteed distances
    * from the zone-map endpoints bound a [t−Db, t+Da] window, and the
    * bracket search is two null-skipping MIN aggregates over
    * conditional structs — one pruned scan, no sort. */
  def interp(spark: SparkSession, dir: String, coordVar: String, valueVar: String,
      target: Double): DataFrame = {
    val ranges = coordRanges(spark, dir, coordVar)
    require(ranges.nonEmpty, s"no zone-map ranges for $coordVar in $dir")
    // guaranteed below-distance: any file whose min ≤ t has a real
    // value ≤ t at distance ≤ t − (max ≤ t ? max : min); same above
    val db = ranges.collect { case (mn, mx) if mn <= target =>
      target - (if (mx <= target) mx else mn)
    }.minOption
    val da = ranges.collect { case (mn, mx) if mx > target =>
      (if (mn > target) mn else mx) - target
    }.minOption
    val lo = db.map(d => ulpsDown(target - d)).getOrElse(target)
    val hi = da.map(d => ulpsUp(target + d)).getOrElse(math.nextUp(target))
    val c = col(coordVar).cast(DoubleType)
    val scan = open(spark, dir).filter(c >= lo && c < hi)
    val v = col(valueVar).cast(DoubleType)
    val below = min(when(c <= target, struct((lit(target) - c).as("d"), col("record"),
      c.as("c"), v.as("v")))).as("lo")
    val above = min(when(c > target, struct((c - lit(target)).as("d"), col("record"),
      c.as("c"), v.as("v")))).as("hi")
    scan.agg(below, above)
      .select(lit(target).as("target"),
        col("lo.c").as("c_lo"), col("lo.v").as("v_lo"),
        col("hi.c").as("c_hi"), col("hi.v").as("v_hi"),
        when(col("hi.c").isNull, col("lo.v"))
          .when(col("lo.c").isNull, col("hi.v"))
          .otherwise(col("lo.v") + (col("hi.v") - col("lo.v"))
            * (lit(target) - col("lo.c")) / (col("hi.c") - col("lo.c")))
          .as("ival"))
  }

  /** Multi-target [[interp]] in ONE scan — the [[nearestAll]] batching
    * applied to interpolating selection: per-target per-SIDE guaranteed
    * distances come from the same header metadata pass, the scan filter
    * is the OR of the per-target bracket windows (zone maps prune files
    * outside every window), each surviving record fans out only to the
    * targets whose window contains it, and ONE groupBy(target) with two
    * null-skipping conditional MIN aggregates resolves every bracket at
    * once. N interpolating selections cost one pruned corpus pass
    * instead of N — the xarray `sel(time=[...], method='linear')`
    * vector form at cluster scale. */
  def interpAll(spark: SparkSession, dir: String, coordVar: String, valueVar: String,
      targets: Seq[Double]): DataFrame = {
    require(targets.nonEmpty, "interpAll needs at least one target")
    val ranges = coordRanges(spark, dir, coordVar)
    require(ranges.nonEmpty, s"no zone-map ranges for $coordVar in $dir")
    val windows = targets.map { t =>
      // guaranteed below-distance: any file whose min ≤ t holds a real
      // value ≤ t at distance ≤ t − (max ≤ t ? max : min); same above
      val db = ranges.collect { case (mn, mx) if mn <= t =>
        t - (if (mx <= t) mx else mn)
      }.minOption
      val da = ranges.collect { case (mn, mx) if mx > t =>
        (if (mn > t) mn else mx) - t
      }.minOption
      val lo = db.map(d => ulpsDown(t - d)).getOrElse(t)
      val hi = da.map(d => ulpsUp(t + d)).getOrElse(math.nextUp(t))
      (t, lo, hi)
    }
    val c = col(coordVar).cast(DoubleType)
    val anyWindow = windows.map { case (_, lo, hi) => c >= lo && c < hi }.reduce(_ || _)
    val scan = open(spark, dir).filter(anyWindow)
    val v = col(valueVar).cast(DoubleType)
    val fanned = scan
      .select(c.as("c"), v.as("v"), col("record"),
        explode(array(windows.map { case (t, lo, hi) =>
          when(c >= lo && c < hi, lit(t)).otherwise(lit(null).cast(DoubleType))
        }: _*)).as("target"))
      .filter(col("target").isNotNull)
    val below = min(when(col("c") <= col("target"),
      struct((col("target") - col("c")).as("d"), col("record"),
        col("c").as("c"), col("v").as("v")))).as("lo")
    val above = min(when(col("c") > col("target"),
      struct((col("c") - col("target")).as("d"), col("record"),
        col("c").as("c"), col("v").as("v")))).as("hi")
    fanned.groupBy("target").agg(below, above)
      .select(col("target"),
        col("lo.c").as("c_lo"), col("lo.v").as("v_lo"),
        col("hi.c").as("c_hi"), col("hi.v").as("v_hi"),
        when(col("hi.c").isNull, col("lo.v"))
          .when(col("lo.c").isNull, col("hi.v"))
          .otherwise(col("lo.v") + (col("hi.v") - col("lo.v"))
            * (col("target") - col("lo.c")) / (col("hi.c") - col("lo.c")))
          .as("ival"))
  }

  /** The range-bucketed sorted lineitem fixture every sel gate of this
    * container scans: 8 part files with disjoint `l_orderkey` zone
    * maps, written through the container's DSv2 sink with its default
    * geometry, so the guaranteed-distance windows prune real part
    * files. Staged once per (session, sf dir) — the stageOnce
    * read-side convention: these gates test PRUNED SELECTION over a
    * sorted layout, not the write. */
  protected def sortedFixture(s: SparkSession, dir: String): String = {
    val out = NcQueries.scratch(s, dir, s"${container.name}_sel_sorted")
    NcQueries.stageOnce(out) {
      graft.Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.format(container.provider).mode("overwrite").save(out)
    }
    out
  }

  /** 2-D curvilinear selection over a y×300 grid whose lat(y,x) =
    * y + (7x mod 13)/100 and lon(y,x) = x + (11y mod 17)/100 (curved,
    * axis-free — exact rational arithmetic so both engines build the
    * identical grid), cell values from the sorted lineitem quantity
    * sequence of [[sortedFixture]]. The grid is written range-bucketed
    * on the cell index, so each part file covers a tight lat band and
    * the [[nearest2d]] witness bound prunes real files. */
  protected def gridNearest2d(s: SparkSession, dir: String,
      targets: Seq[(Double, Double)]): DataFrame = {
    val cells = open(s, sortedFixture(s, dir)).select(
      col("record").as("cell"),
      expr("record div 300").as("y"),
      expr("record % 300").as("x"),
      expr("cast(record div 300 as double) + cast(((record % 300) * 7) % 13 as double) / 100.0")
        .as("lat"),
      expr("cast(record % 300 as double) + cast(((record div 300) * 11) % 17 as double) / 100.0")
        .as("lon"),
      col("l_quantity").as("val"))
    val gridOut = NcQueries.scratch(s, dir, s"${container.name}_coord2d_grid")
    NcQueries.stageOnce(gridOut) {
      cells.repartitionByRange(8, col("cell")).sortWithinPartitions("cell").drop("cell")
        .write.format(container.provider).mode("overwrite").save(gridOut)
    }
    nearest2d(s, gridOut, "lat", "lon", targets)
  }
}

/** [[ValueSel]] bound to the classic netcdf3 source. */
object NcSel extends ValueSel(NetCDF3) {

  /** Driver-contract query: range-bucketed sorted write (disjoint
    * per-file zone maps), then nearest-record selection for three
    * targets — one inside a file's range, one squarely between two
    * integer keys (tie broken toward the smaller coordinate), one far
    * beyond the corpus maximum (nearest = last record of the max key).
    * The oracle replays each selection as an ORDER BY abs-distance
    * LIMIT 1 over the globally sorted rows. All three targets resolve
    * in ONE pruned scan via [[nearestAll]]. */
  def ncSelCoord: (SparkSession, String) => DataFrame = (s, dir) => {
    val out = sortedFixture(s, dir)
    nearestAll(s, out, "l_orderkey", Seq(1234.0, 1500.5, 1.0e9))
      .select(col("target"), col("record"), col("l_orderkey"), col("l_quantity"),
        col("dist"))
  }

  val ncSelCoordSql: String =
    """WITH o AS (SELECT l_orderkey, l_quantity,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS record
      |  FROM lineitem),
      |t(target) AS (VALUES (1234.0), (1500.5), (1.0e9))
      |SELECT t.target, b.record, b.l_orderkey, b.l_quantity, b.dist FROM t CROSS JOIN LATERAL (
      |  SELECT record, l_orderkey, l_quantity, abs(l_orderkey - t.target) AS dist
      |  FROM o ORDER BY abs(l_orderkey - t.target), l_orderkey, record LIMIT 1) b""".stripMargin

  /** Interpolating selection over the same range-bucketed sorted
    * write: four targets — below the corpus minimum (clamps to the
    * first bracket), an exact coordinate hit (interpolation degenerates
    * to the exact value), a mid-gap target (true linear blend), and
    * beyond the maximum (clamps high). All four resolve in ONE pruned
    * scan via [[interpAll]]. The oracle replays each bracket as two
    * LATERAL ORDER-BY-LIMIT-1 lookups. */
  def ncSelInterp: (SparkSession, String) => DataFrame = (s, dir) => {
    val out = sortedFixture(s, dir)
    interpAll(s, out, "l_orderkey", "l_quantity", Seq(-5.0, 1234.0, 1500.5, 1.0e9))
  }

  val ncSelInterpSql: String =
    """WITH o AS (SELECT l_orderkey, l_quantity,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS record
      |  FROM lineitem),
      |t(target) AS (VALUES (-5.0), (1234.0), (1500.5), (1.0e9))
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

  /** The vector form as its own gated row (xarray
    * `sel(time=[...], method='linear')` with a LIST of targets): eight
    * interpolating selections — mixing clamp-low, exact hits, mid-gap
    * blends, inter-key fractions and clamp-high — in ONE pruned scan.
    * The single-scan shape is what survives 100 TB: N targets cost one
    * corpus pass whose filter is the union of N bracket windows, not N
    * passes; the per-target fan-out rows are bounded by window density,
    * and the two conditional-MIN partial aggregates ship one scalar
    * struct pair per (partition, target). */
  def ncSelInterpMulti: (SparkSession, String) => DataFrame = (s, dir) => {
    val out = sortedFixture(s, dir)
    interpAll(s, out, "l_orderkey", "l_quantity",
      Seq(-100.0, 3.0, 32.25, 451.0, 999.5, 1234.75, 4000.0, 2.0e9))
  }

  val ncSelInterpMultiSql: String =
    """WITH o AS (SELECT l_orderkey, l_quantity,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS record
      |  FROM lineitem),
      |t(target) AS (VALUES (-100.0), (3.0), (32.25), (451.0), (999.5),
      |  (1234.75), (4000.0), (2.0e9))
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

  /** 2-D curvilinear selection as a gated query over
    * [[ValueSel.gridNearest2d]]'s grid. Three targets: mid-grid, the
    * (0,0) corner, and one absurdly far away (the whole corpus becomes
    * the window — the clamp case). The oracle replays each selection as
    * ORDER BY dist², record LIMIT 1 over the regenerated grid. */
  def ncSelCoord2d: (SparkSession, String) => DataFrame = (s, dir) =>
    gridNearest2d(s, dir, Seq((57.3, 123.45), (0.0, 0.0), (1.0e9, -5.0)))

  val ncSelCoord2dSql: String =
    """WITH o AS (SELECT l_quantity AS v,
      |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx
      |  FROM lineitem),
      |cells AS (SELECT idx AS record, idx // 300 AS y, idx % 300 AS x,
      |  CAST(idx // 300 AS DOUBLE) + CAST((idx % 300) * 7 % 13 AS DOUBLE) / 100.0 AS lat,
      |  CAST(idx % 300 AS DOUBLE) + CAST((idx // 300) * 11 % 17 AS DOUBLE) / 100.0 AS lon,
      |  v AS val FROM o),
      |tg(tid, t_lat, t_lon) AS (VALUES
      |  (CAST(0 AS BIGINT), CAST(57.3 AS DOUBLE), CAST(123.45 AS DOUBLE)),
      |  (1, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
      |  (2, CAST(1.0e9 AS DOUBLE), CAST(-5.0 AS DOUBLE)))
      |SELECT tg.tid, tg.t_lat, tg.t_lon, b.record, b.y, b.x, b.lat, b.lon, b.val, b.dist2
      |FROM tg CROSS JOIN LATERAL (
      |  SELECT record, y, x, lat, lon, val,
      |    (lat - tg.t_lat) * (lat - tg.t_lat) + (lon - tg.t_lon) * (lon - tg.t_lon) AS dist2
      |  FROM cells ORDER BY dist2, record LIMIT 1) b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("nc_sel_coord" -> ncSelCoord, "nc_sel_interp" -> ncSelInterp,
      "nc_sel_interp_multi" -> ncSelInterpMulti,
      "nc_sel_coord2d" -> ncSelCoord2d)
  val oracles: Map[String, String] =
    Map("nc_sel_coord" -> ncSelCoordSql, "nc_sel_interp" -> ncSelInterpSql,
      "nc_sel_interp_multi" -> ncSelInterpMultiSql,
      "nc_sel_coord2d" -> ncSelCoord2dSql)
}

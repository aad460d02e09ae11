package perfbench

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** One generated record: a flattened 2-D field (rows × cols float32)
  * and two scalar record variables. */
case class Rec(field: Array[Float], time: Double, station: Int)

/** Shape of the generated variable. */
case class Shape(records: Int, rows: Int, cols: Int, parts: Int) {
  def width: Int = rows * cols
  /** user bytes of one record: the float field plus a double and an int */
  def recordBytes: Long = 4L * width + 8 + 4
  def userBytes: Long = recordBytes * records
}

/** Seeded record generator. Every value is a pure function of
  * (seed, record, element), so the benchmark recomputes any record it
  * needs to check without keeping a copy of the input.
  *
  * Field values are multiples of 1/64 below 2^7 in magnitude: the
  * quantised-sensor shape (a slowly varying ramp plus bounded noise),
  * which shuffle+deflate compress the way they compress real gridded
  * data. It also makes every sum the scan computes exact in double
  * precision (at most 2^37 in units of 2^-6, far inside the 53-bit
  * mantissa), so the scan's aggregate is independent of partition
  * order and checks bit for bit. */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def h(seed: Long, rec: Long, j: Long): Long =
    mix(mix(mix(seed) ^ rec) ^ j)

  /** k/64 with k = 16·((rec/64 + row + col) mod 256) + noise in [-128, 127] */
  def value(seed: Long, s: Shape, rec: Long, j: Int): Float = {
    val row = j / s.cols
    val col = j % s.cols
    val ramp = 16 * (((rec >>> 6) + row + col) % 256).toInt
    val noise = (h(seed, rec, j) & 0xFF).toInt - 128
    (ramp + noise) / 64f
  }

  def field(seed: Long, s: Shape, rec: Long): Array[Float] = {
    val a = new Array[Float](s.width)
    var j = 0
    while (j < a.length) { a(j) = value(seed, s, rec, j); j += 1 }
    a
  }

  /** hours since the start of the series */
  def time(rec: Long): Double = rec * 0.25

  def station(seed: Long, rec: Long): Int =
    java.lang.Long.remainderUnsigned(h(seed, rec, -1L), 1000L).toInt

  def record(seed: Long, s: Shape, rec: Long): Rec =
    Rec(field(seed, s, rec), time(rec), station(seed, rec))

  /** The variable as a Dataset: `spark.range` fixes the partitioning
    * (contiguous record ranges, one part file each on write) and each
    * partition generates its own records with typed code. */
  def dataset(spark: SparkSession, seed: Long, s: Shape): Dataset[Rec] = {
    val shape = s
    spark.range(0L, s.records.toLong, 1L, s.parts)
      .mapPartitions((it: Iterator[java.lang.Long]) =>
        it.map(r => record(seed, shape, r.longValue)))(Encoders.product[Rec])
  }

  /** Aggregates the scan must return: (records, Σ field, Σ time, Σ station). */
  case class Totals(count: Long, fieldSum: Double, timeSum: Double, stationSum: Long)

  def totals(seed: Long, s: Shape): Totals = {
    var f = 0d
    var t = 0d
    var st = 0L
    var r = 0L
    while (r < s.records) {
      var j = 0
      var row = 0d
      while (j < s.width) { row += value(seed, s, r, j); j += 1 }
      f += row
      t += time(r)
      st += station(seed, r)
      r += 1
    }
    Totals(s.records, f, t, st)
  }

  /** Bit-exact comparison of one read-back record with the generator;
    * returns a description of the first difference, or null. */
  def diff(seed: Long, s: Shape, rec: Long, field: Array[Float], time: Double,
      station: Int): String = {
    if (rec < 0 || rec >= s.records) return s"record $rec out of range"
    if (field.length != s.width) return s"record $rec: ${field.length} field values"
    var j = 0
    while (j < field.length) {
      val want = value(seed, s, rec, j)
      if (java.lang.Float.floatToRawIntBits(field(j)) !=
          java.lang.Float.floatToRawIntBits(want))
        return s"record $rec field[$j]: ${field(j)} != $want"
      j += 1
    }
    if (java.lang.Double.doubleToRawLongBits(time) !=
        java.lang.Double.doubleToRawLongBits(this.time(rec)))
      return s"record $rec time: $time != ${this.time(rec)}"
    if (station != this.station(seed, rec))
      return s"record $rec station: $station != ${this.station(seed, rec)}"
    null
  }
}

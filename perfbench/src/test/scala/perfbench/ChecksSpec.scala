package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The output checks must catch a corrupted read-back: one flipped bit
  * anywhere in a record, a missing or repeated record, or a scan total
  * that is off by one unit in the last place. */
class ChecksSpec extends AnyFunSuite {
  private val seed = 42L
  private val shape = Shape(records = 64, rows = 4, cols = 8, parts = 2)
  private val schema = StructType(Seq(
    StructField("record", LongType), StructField("field", ArrayType(FloatType)),
    StructField("time", DoubleType), StructField("station", IntegerType)))

  private def row(rec: Long, field: Array[Float] = null, time: Double = Double.NaN,
      station: Int = -1): Row = {
    val f = if (field == null) Gen.field(seed, shape, rec) else field
    val t = if (time.isNaN) Gen.time(rec) else time
    val s = if (station < 0) Gen.station(seed, rec) else station
    new GenericRowWithSchema(Array[Any](rec, f.toSeq, t, s), schema)
  }

  private def rows(r0: Long, r1: Long): Array[Row] = (r0 until r1).map(row(_)).toArray

  test("generated values are multiples of 1/64 and reproducible") {
    val a = Gen.field(seed, shape, 5)
    assert(a.sameElements(Gen.field(seed, shape, 5)))
    assert(a.forall(x => x * 64 == math.rint(x * 64)))
    assert(!a.sameElements(Gen.field(seed + 1, shape, 5)))
  }

  test("an exact read-back passes") {
    assert(Checks.slice(rows(8, 24), seed, shape, 8, 24) == null)
  }

  test("one flipped bit in a field value fails the slice") {
    val bad = rows(8, 24)
    val f = Gen.field(seed, shape, 13)
    f(7) = java.lang.Float.intBitsToFloat(java.lang.Float.floatToRawIntBits(f(7)) ^ 1)
    bad(5) = row(13, field = f)
    val e = Checks.slice(bad, seed, shape, 8, 24)
    assert(e != null && e.contains("record 13 field[7]"))
  }

  test("a wrong scalar fails the slice") {
    val bad = rows(0, 4)
    bad(2) = row(2, station = Gen.station(seed, 2) + 1)
    assert(Checks.slice(bad, seed, shape, 0, 4).contains("station"))
    bad(2) = row(2, time = Gen.time(2) + 0.25)
    assert(Checks.slice(bad, seed, shape, 0, 4).contains("time"))
  }

  test("missing, repeated or out-of-range records fail the slice") {
    assert(Checks.slice(rows(0, 3), seed, shape, 0, 4) != null)
    val dup = rows(0, 4)
    dup(3) = row(2)
    assert(Checks.slice(dup, seed, shape, 0, 4).contains("duplicate"))
    assert(Checks.slice(rows(1, 5), seed, shape, 0, 4) != null)
  }

  test("scan totals must match bit for bit") {
    val t = Gen.totals(seed, shape)
    def r(f: Double, c: Long = t.count) = Row(c, f, t.timeSum, t.stationSum)
    assert(Checks.scan(r(t.fieldSum), t) == null)
    assert(Checks.scan(r(math.nextUp(t.fieldSum)), t) != null)
    assert(Checks.scan(r(t.fieldSum, t.count - 1), t) != null)
  }

  test("totals are independent of summation order") {
    val t = Gen.totals(seed, shape)
    var f = 0d
    (shape.records - 1 to 0 by -1).foreach(r => f += Gen.field(seed, shape, r).reverse.map(_.toDouble).sum)
    assert(f == t.fieldSum)
  }
}

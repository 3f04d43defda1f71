package graft

import graft.ops.DriverRoute
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The driver-route seam: the admission rule, the sizing pass, and the
  * Spark semantics the routes replay on the driver.
  */
class DriverRouteSpec extends SparkSpec {
  import spark.implicits._

  test("admit refuses input over either bound") {
    assert(DriverRoute.admit(DriverRoute.MaxBytes, DriverRoute.MaxWork))
    assert(DriverRoute.admit(0L, 0L))
    assert(!DriverRoute.admit(DriverRoute.MaxBytes + 1, 0L))
    assert(!DriverRoute.admit(0L, DriverRoute.MaxWork + 1))
    assert(DriverRoute.MaxBytes == Runtime.getRuntime.maxMemory / 8)
  }

  test("admit refuses a string-id graph over the byte bound") {
    // the sizing pass prices string ids by their UTF-8 bytes and
    // fixed-width ids at 8 bytes each
    val wide = "w" * 64
    val strs = Seq((wide + "1", wide + "é"), (wide + "2", wide + "3"))
      .toDF("a", "b")
    val sz = DriverRoute.size(strs, Seq("a", "b"), max(col("a")))
    assert(sz.rows == 2L)
    assert(sz.idBytes == 4L * 65 + 1)
    assert(sz.extra.getString(0) == wide + "2")
    assert(sz.heapBytes(64L) == 2L * 64 + 4L * sz.idBytes)
    val longs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    assert(DriverRoute.size(longs, Seq("a", "b")).idBytes == 3L * 16)
    assert(DriverRoute.size(longs.filter(col("a") < 0), Seq("a", "b")) ==
      DriverRoute.Size(0L, 0L, Row.empty))
    // a graph under the work ceiling whose ids are wide enough that
    // the collect would not fit: the byte bound refuses it
    val rows = DriverRoute.MaxWork / 2
    val perRowIds = 2L * (DriverRoute.MaxBytes / rows / 4 + 1)
    val big = DriverRoute.Size(rows, rows * perRowIds, Row.empty)
    assert(!DriverRoute.admit(big.heapBytes(64L), big.rows))
    assert(DriverRoute.admit(
      DriverRoute.Size(rows, 0L, Row.empty).heapBytes(64L), rows))
  }

  test("compareIds orders a non-BMP pair in UTF8 byte order") {
    // U+10000 (surrogate pair D800 DC00) vs U+E000: Java's UTF-16
    // code-unit order puts U+10000 first, Spark's UTF8 byte order
    // (code-point order) puts U+E000 first
    val hi = new String(Character.toChars(0x10000))
    val pu = "\uE000"
    assert(hi.compareTo(pu) < 0)
    assert(DriverRoute.compareIds(pu, hi) < 0)
    assert(DriverRoute.compareIds(hi, pu) > 0)
    assert(DriverRoute.compareIds(pu, pu) == 0)
    val sparkOrder = Seq(hi, pu).toDF("s").orderBy("s")
      .collect().map(_.getString(0)).toSeq
    assert(Seq(hi, pu).sortWith(DriverRoute.compareIds(_, _) < 0) ==
      sparkOrder)
    assert(DriverRoute.compareIds(3L, 10L) < 0)
  }

  test("roundHalfUp matches Spark's round(x, 0) on .5 values") {
    val xs = Seq(0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 1e15 + 0.5,
      0.49999999999999994, 2.4999999999999996, 1234567.5, 7.0, -0.0)
    val viaSpark = xs.toDF("x")
      .select(round(col("x"), 0).cast("long")).collect().map(_.getLong(0))
    assert(xs.map(DriverRoute.roundHalfUp) == viaSpark.toSeq)
    assert(DriverRoute.roundHalfUp(2.5) == 3L)
    assert(DriverRoute.roundHalfUp(-2.5) == -3L)
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.unsafe.types.UTF8String

/** Spark's value semantics for driver-side code that must give the same
  * answer as the distributed plan it stands in for. Three rules:
  *
  *  - '''Equality''' ([[key]]): grouping, `distinct`, set operations,
  *    join keys and `<=>` treat every NaN as one value and -0.0 as 0.0,
  *    inside arrays too (Catalyst's `NormalizeFloatingNumbers`).
  *  - '''Ordering''' ([[compare]]): NaN sorts above +Infinity, -0.0
  *    equals 0.0 (`SQLOrderingUtil.compareDoubles` / `compareFloats`),
  *    strings sort as unsigned UTF-8 bytes (`UTF8String.binaryCompare`,
  *    not Java's UTF-16 `compareTo`), and null sorts first.
  *  - '''Literal keys''' ([[literalKey]]): a driver-collected value can
  *    stand for its group in a `col <=> lit(v)` predicate or a driver
  *    hash key only when it is a non-null, non-NaN number, string or
  *    boolean. */
object SparkValues {
  // one boxed NaN per type: Scala `==` on two fresh NaN boxes is false
  // (so Seq(NaN) != Seq(NaN) and a hash lookup misses), but
  // BoxesRunTime.equals short-circuits on reference equality
  private val NaNDouble: java.lang.Double = java.lang.Double.valueOf(Double.NaN)
  private val NaNFloat: java.lang.Float = java.lang.Float.valueOf(Float.NaN)

  /** The grouping / set-equality key of a value: equal keys (`==`, with
    * a consistent `##`) exactly when Spark groups the values together.
    * Folds -0.0 to 0.0, maps every NaN to one shared box, and recurses
    * through array values (`Seq`). Other values are their own key. */
  def key(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) NaNDouble else v
    case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) NaNFloat else v
    case s: Seq[_] => s.map(key)
    case _ => v
  }

  /** Spark's ascending order of two atomic values of one column type,
    * nulls first. Integral numbers compare as longs, two floats as
    * floats, any other pair of numbers as doubles. Throws
    * `IllegalArgumentException` for other pairs (a string against a
    * number, arrays, structs, timestamps). */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => compare(x, y)
    case (x: java.lang.Float, y: java.lang.Float) => compare(x.floatValue, y.floatValue)
    case (x: Number, y: Number) =>
      if (integral(x) && integral(y)) java.lang.Long.compare(x.longValue, y.longValue)
      else compare(x.doubleValue, y.doubleValue)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(
      s"no Spark ordering between ${a.getClass.getName} and ${b.getClass.getName}")
  }
  def compare(x: Double, y: Double): Int = SQLOrderingUtil.compareDoubles(x, y)
  def compare(x: Float, y: Float): Int = SQLOrderingUtil.compareFloats(x, y)
  def compare(x: String, y: String): Int =
    UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))

  private def integral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  /** Whether `v` is a non-null, non-NaN number, string or boolean: a
    * value whose `<=>` literal and driver hash key group exactly the
    * rows Spark groups with it. */
  def literalKey(v: Any): Boolean = v match {
    case d: Double => !d.isNaN
    case f: Float => !f.isNaN
    case _: Number | _: String | _: Boolean => true
    case _ => false
  }
}

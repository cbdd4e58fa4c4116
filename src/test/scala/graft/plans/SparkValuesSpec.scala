package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Laws of [[SparkValues]] over adversarial values, and parity with
  * Spark evaluating the same literals. Each domain is one column type:
  * Spark never orders values of different types against each other. */
class SparkValuesSpec extends SparkSpec {

  // a NaN with a non-canonical bit pattern: Spark normalizes it too
  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)

  private val domains: Seq[(String, DataType, Seq[Any])] = Seq(
    ("double", DoubleType, Seq(Double.NaN, otherNaN, -0.0, 0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
      -1.5, 1.5, Double.MaxValue, Long.MaxValue.toDouble, null)),
    ("float", FloatType, Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, 1.0f, -1.0f, null)),
    ("long", LongType, Seq(Long.MinValue, Long.MaxValue, Long.MaxValue - 1,
      -1L, 0L, 1L, null)),
    // U+E000 and U+FFFF sort below supplementary-plane characters as
    // UTF-8 bytes but above them as UTF-16 code units
    ("string", StringType, Seq("", "a", "A", "ab", "\u00e9", "\u7f16",
      "\uE000", "\uFFFF", "\uD83D\uDE00", "\uD800\uDC00", "a\uD83D\uDE00",
      "a\uE000", null)),
    ("boolean", BooleanType, Seq(true, false, null)))

  private def frame(dt: DataType, vs: Seq[Any]) =
    spark.createDataFrame(java.util.Arrays.asList(vs.map(Row(_)): _*),
      StructType(Seq(StructField("v", dt))))

  test("compare is antisymmetric, transitive and consistent with key equality") {
    for ((name, _, vs) <- domains; a <- vs; b <- vs) {
      val ab = SparkValues.compare(a, b)
      assert(Integer.signum(ab) == -Integer.signum(SparkValues.compare(b, a)),
        s"$name: antisymmetry at ($a, $b)")
      val sameKey = SparkValues.key(a) == SparkValues.key(b)
      assert((ab == 0) == sameKey, s"$name: compare($a, $b) = $ab, key equality $sameKey")
      if (sameKey) assert(SparkValues.key(a).## == SparkValues.key(b).##,
        s"$name: equal keys hash apart at ($a, $b)")
      for (c <- vs if ab <= 0 && SparkValues.compare(b, c) <= 0)
        assert(SparkValues.compare(a, c) <= 0, s"$name: transitivity at ($a, $b, $c)")
    }
  }

  test("sortWith(compare) equals Spark's orderBy; the key set size equals distinct().count()") {
    for ((name, dt, vs) <- domains) {
      val df = frame(dt, vs)
      val sparkOrder = df.orderBy("v").collect().toSeq.map(r => SparkValues.key(r.get(0)))
      val ours = vs.sortWith(SparkValues.compare(_, _) < 0).map(SparkValues.key)
      assert(sparkOrder == ours, name)
      assert(df.distinct().count() == vs.map(SparkValues.key).toSet.size, name)
    }
    // keys recurse into arrays, as Spark's float normalization does
    val arrays: Seq[Any] = Seq(Seq(Double.NaN, -0.0), Seq(otherNaN, 0.0), Seq(0.0), null)
    val df = frame(ArrayType(DoubleType), arrays)
    assert(df.distinct().count() == arrays.map(SparkValues.key).toSet.size)
    assert(arrays.map(SparkValues.key).toSet.size == 3)
  }

  test("a literal key's <=> predicate selects exactly its key group") {
    for ((name, dt, vs) <- domains; v <- vs if SparkValues.literalKey(v)) {
      val df = frame(dt, vs)
      val k = SparkValues.key(v)
      assert(df.where(col("v") <=> lit(v)).count() == vs.count(SparkValues.key(_) == k),
        s"$name: $v")
    }
    assert(!SparkValues.literalKey(null) && !SparkValues.literalKey(Double.NaN) &&
      !SparkValues.literalKey(Float.NaN) && !SparkValues.literalKey(Seq(1L)))
  }
}

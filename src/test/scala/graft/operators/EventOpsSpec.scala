package graft.operators

import graft.SparkSpec

class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoin picks the latest right row at or before each left time") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 50L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq(
      (10L, 90L, 901L, 1.0), (10L, 100L, 902L, 2.0), // tie at t=100: <= includes
      (10L, 200L, 903L, 3.0), (20L, 60L, 904L, 4.0)) // 904 is AFTER left 3
      .toDF("user_id", "ts_us", "purchase_id", "value")
    val out = EventOps.asOfJoin(left, right, "user_id", "ts_us",
      Seq("purchase_id", "value"))
    assert(rows(out) == Set(
      Seq(1L, 10L, 100L, 902L, 2.0),   // equal-time right row visible
      Seq(2L, 10L, 205L, 903L, 3.0)))  // left 3 dropped: nothing precedes
  }

  test("asOfJoin plans a single-shuffle window, not a range theta join") {
    val left = Seq((1L, 10L, 100L)).toDF("event_id", "user_id", "ts_us")
    val right = Seq((10L, 90L, 1L, 1.0))
      .toDF("user_id", "ts_us", "purchase_id", "value")
    val plan = EventOps.asOfJoin(left, right, "user_id", "ts_us",
      Seq("purchase_id", "value"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"as-of join must not degrade to a per-key cross product:\n$plan")
    assert(plan.contains("Window"), s"expected windowed union plan:\n$plan")
  }

  test("rangeCountJoin counts matches in the half-open window, keeping zeros") {
    val views = Seq((1L, 10L, 1000L), (2L, 10L, 5000L), (3L, 99L, 0L))
      .toDF("event_id", "user_id", "ts_us")
    val buys = Seq(
      (10L, 1000L),  // NOT > 1000
      (10L, 1001L), (10L, 1999L),
      (10L, 2000L),  // == 1000 + 1000 → included (closed upper)
      (10L, 2001L),  // outside view 1's window; inside none (view 2 at 5000)
      (20L, 1500L))  // other key
      .toDF("user_id", "ts_us")
    val out = EventOps.rangeCountJoin(views, buys, "user_id", "ts_us",
      windowSpan = 1000L, leftId = "event_id")
    assert(rows(out) == Set(Seq(1L, 3L), Seq(2L, 0L), Seq(3L, 0L)))
  }

  test("rangeCountJoin crosses bin boundaries correctly") {
    // view at the very end of a bin: its window lives almost entirely in
    // the NEXT bin — the two-bin explode must still see those matches
    val views = Seq((1L, 7L, 999L)).toDF("event_id", "user_id", "ts_us")
    val buys = Seq((7L, 1000L), (7L, 1998L), (7L, 1999L), (7L, 2000L))
      .toDF("user_id", "ts_us")
    val out = EventOps.rangeCountJoin(views, buys, "user_id", "ts_us",
      windowSpan = 1000L, leftId = "event_id")
    assert(rows(out) == Set(Seq(1L, 3L))) // 1000, 1998, 1999; 2000 > 999+1000
  }

  test("rangeCountJoin plans an equi-join on (key, bin), not a nested loop") {
    val views = Seq((1L, 7L, 999L)).toDF("event_id", "user_id", "ts_us")
    val buys = Seq((7L, 1000L)).toDF("user_id", "ts_us")
    val plan = EventOps.rangeCountJoin(views, buys, "user_id", "ts_us",
      windowSpan = 1000L, leftId = "event_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join must stay an equi-join on (key, bin):\n$plan")
  }

  test("sessionize splits on gaps strictly greater than gapSpan") {
    val ev = Seq(
      (1L, 5L, 0L), (2L, 5L, 100L), (3L, 5L, 200L), // session 1
      (4L, 5L, 301L),                               // gap 101 > 100 → session 2
      (5L, 5L, 401L),                               // gap 100 → still session 2
      (6L, 8L, 50L))                                // other user
      .toDF("event_id", "user_id", "ts_us")
    val out = EventOps.sessionize(ev, "user_id", "ts_us", "event_id", gapSpan = 100L)
    assert(rows(out) == Set(
      Seq(5L, 1L, 3L, 0L, 200L),
      Seq(5L, 2L, 2L, 301L, 401L),
      Seq(8L, 1L, 1L, 50L, 50L)))
  }

  test("sessionize is deterministic under equal-time events") {
    val ev = Seq((2L, 5L, 100L), (1L, 5L, 100L), (3L, 5L, 100L))
      .toDF("event_id", "user_id", "ts_us")
    val out = EventOps.sessionize(ev, "user_id", "ts_us", "event_id", gapSpan = 10L)
    assert(rows(out) == Set(Seq(5L, 1L, 3L, 100L, 100L)))
  }
}

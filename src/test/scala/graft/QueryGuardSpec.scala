package graft

class QueryGuardSpec extends SparkSpec {

  test("a deadline passed in driver-only work cancels the jobs the query starts after it") {
    val e = intercept[QueryGuard.QueryTimeoutException] {
      QueryGuard.withTimeout(spark, 50) {
        Thread.sleep(200) // past the deadline before any job runs
        spark.range(10).count()
      }
    }
    assert(e.getMessage.contains("timeout of 50 ms"))
    // the cancelled group is the query's own: the next job runs
    assert(spark.range(10).count() == 10)
  }
}

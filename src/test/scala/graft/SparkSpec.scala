package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (getOrCreate → one JVM-wide
  * session; Test/fork gives the suite its own JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSet

  /** Run independent test cases on a small thread pool (guide §2.6:
    * Spark schedules concurrent jobs fine; these suites are latency-
    * bound on tiny data, so overlapping cases cuts wall-clock ~4×
    * without touching coverage). Exceptions (incl. assertion failures)
    * propagate with their original message; every case runs its own
    * Session/Engine and the engine-side caches are synchronized (the
    * wire server already relies on that). */
  def inParallel[A](items: Iterable[A], threads: Int = 8)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = items.toSeq.map(a =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f(a)
        }))
      futs.foreach { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdownNow()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

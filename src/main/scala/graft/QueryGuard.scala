package graft

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.SparkSession

/** Query timeout / cancellation (reference `src/execution/timeout.rs`:
  * cooperative AtomicBool cancel flag + timeout wrapper; thread-local
  * flag set before computation, `src/code_generator/mod.rs:44-75`).
  *
  * Spark realization: queries run under a per-query JOB GROUP that a
  * timer cancels at the deadline, together with every job the group
  * submits later (`SparkContext.cancelJobGroupAndFutureJobs`: a query
  * past its deadline in driver-only work must not run its next job to
  * the end), and a thread-local cooperative flag stops driver-side
  * fixpoint loops between jobs without waiting for their next job.
  */
object QueryGuard {

  final class QueryTimeoutException(msg: String) extends RuntimeException(msg)

  private val seq = new AtomicLong(0)
  private lazy val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-query-timeout"); t.setDaemon(true); t
    }
  private val flag = new ThreadLocal[AtomicBoolean]()

  /** Poll point for driver-side loops: throws when the current thread's
    * query was cancelled or timed out. No-op outside a guarded query. */
  def checkCancelled(): Unit = {
    val f = flag.get()
    if (f != null && f.get())
      throw new QueryTimeoutException("query cancelled: timeout exceeded")
  }

  /** Runs `body` with a timeout: Spark jobs submitted by this thread are
    * tagged with a job group that a timer cancels at the deadline, with
    * the jobs it would start after that, and the cooperative flag stops
    * driver-side loops between jobs.
    * `timeoutMs <= 0` = no timeout (reference config semantics). */
  def withTimeout[T](spark: SparkSession, timeoutMs: Long, desc: String = "query")(body: => T): T = {
    if (timeoutMs <= 0) return body
    val sc = spark.sparkContext
    val group = s"graft-q-${seq.incrementAndGet()}"
    val f = new AtomicBoolean(false)
    val prev = flag.get()
    flag.set(f)
    sc.setJobGroup(group, desc, interruptOnCancel = true)
    val t0 = System.nanoTime()
    val task = timer.schedule(new Runnable {
      def run(): Unit = {
        f.set(true)
        try sc.cancelJobGroupAndFutureJobs(group) catch { case _: Throwable => () }
      }
    }, timeoutMs, TimeUnit.MILLISECONDS)
    try body
    catch {
      // any failure after the flag fired (killed job, interrupted stage,
      // cooperative poll) surfaces as the timeout error
      case _: Throwable if f.get() =>
        throw new QueryTimeoutException(
          s"Query exceeded timeout of $timeoutMs ms " +
            s"(ran for ${(System.nanoTime() - t0) / 1000000L} ms)")
    } finally {
      task.cancel(false)
      sc.clearJobGroup()
      if (prev != null) flag.set(prev) else flag.remove()
    }
  }
}

package perfbench

/** The run's environment, recorded with every result so a contended run
  * labels itself: cores, load, hypervisor steal over the run, and a fixed
  * CPU calibration kernel timed at start and end (the idea of the
  * environment sentinel in `graft.Bench`, kept separate from it). */
object Env {
  @volatile private var sink = 0L

  /** One pass of a fixed integer kernel, seconds (~0.05 s quiet). */
  private def calibOnce(): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 30000000L) { h = (h ^ i) * 0xFF51AFD7ED558CCDL; h ^= (h >>> 33); i += 1 }
    sink = h
    (System.nanoTime() - t0) / 1e9
  }
  /** Minimum of three passes: one pass alone jitters by ~10%. */
  def calib(): Double = Seq.fill(3)(calibOnce()).min

  /** (steal ticks, total ticks) from the first line of /proc/stat. */
  def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
  } catch { case _: Throwable => None }

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  final class Probe(cores: Int) {
    calibOnce() // untimed JIT warm-up
    val calibStart: Double = calib()
    val loadStart: Double = loadAvg
    private val ticks0 = cpuTicks()

    /** The environment record, with the end-of-run samples taken now. */
    def finish(extra: Map[String, Any]): Map[String, Any] = {
      val calibEnd = calib()
      val steal = for ((s0, t0) <- ticks0; (s1, t1) <- cpuTicks() if t1 > t0) yield 100.0 * (s1 - s0) / (t1 - t0)
      val loadEnd = loadAvg
      val nproc = Runtime.getRuntime.availableProcessors
      val drift = calibEnd / calibStart
      val contended = steal.exists(_ > 5.0) || drift > 1.15 || drift < 1 / 1.15 ||
        math.max(loadStart, loadEnd) > nproc + 1
      Map(
        "nproc" -> nproc, "requested_cores" -> cores,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "steal_pct" -> steal.getOrElse(-1.0),
        "calib_start_s" -> calibStart, "calib_end_s" -> calibEnd,
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "contended" -> contended) ++ extra
    }
  }
}

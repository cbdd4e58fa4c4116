package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Latencies and counts of one measured window. */
final class Window {
  val latMs = mutable.ArrayBuffer.empty[Double]
  var attempted, failed, wrong = 0L
  /** Per-layer numbers the workload measured itself in this window. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  def ok(ms: Double): Unit = { attempted += 1; latMs += ms }
  /** A closed loop's throughput: ops completed per second spent in ops
    * (the checks between ops are not counted). */
  def closedLoopRate: Double = if (latMs.isEmpty) 0.0 else latMs.size / (latMs.sum / 1000.0)
}

/** A workload: set up from scratch, then measure for a given time. */
trait Workload {
  /** Build every input and the engine state up to the first timed op.
    * Called several times; each call replaces the previous state. */
  def setup(): Unit
  /** Untimed load after the last set-up, so the timed window starts at
    * steady state rather than while the JIT still works through what
    * set-up made hot. Not part of setup_s: its length is fixed, not work
    * done. */
  def warmup(w: Window): Unit = ()
  /** Run ops until `seconds` have passed; correctness is checked outside
    * the timed intervals. */
  def measure(seconds: Double, w: Window): Unit
  /** Per-layer numbers for a traced window, from its spans and jobs. */
  def traced(w: Window, spans: Seq[Span], jobs: Seq[(Span, JobStats#Job)]): Unit = ()
  /** Resolve a job the program submitted under its own group. */
  def ownerOf(desc: String, start: Long): Option[Span] = None
  /** Release what set-up built (servers, scratch state). */
  def close(): Unit = ()
}

object Main {
  /** Set-ups after the first, cold one; setup_s is their median. */
  val WarmSetups = 2
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "lat_p50_ms" -> "ms", "throughput_ops_s" -> "1/s", "heap_used_mb" -> "MB")

  val Phases = Seq("write", "query", "collect", "op")
  val SparkCounters = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "sched_wait_ms",
    "driver_only_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_records")

  /** Every per-layer metric with its unit, in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "server.rtt_ms" -> "ms", "server.exec_ms" -> "ms", "server.overhead_ms" -> "ms",
    "server.resp_bytes" -> "bytes",
    "serve.bound_reach_ms" -> "ms", "serve.point_ms" -> "ms", "serve.agg_ms" -> "ms",
    "serve.join3_ms" -> "ms", "serve.hnsw_ms" -> "ms", "serve.why_ms" -> "ms",
    "serve.lat_p99_ms" -> "ms", "loadgen.lag_ms" -> "ms",
    "iql.parse_ms" -> "ms", "iql.query_driver_ms" -> "ms", "iql.write_ms" -> "ms",
    "iql.query_ms" -> "ms", "iql.jobs_per_round" -> "count",
    "exec.collect_ms" -> "ms", "exec.result_rows" -> "count") ++
    (for (p <- Phases; c <- SparkCounters) yield
      s"spark.$p.$c" -> (if (c.endsWith("_ms")) "ms" else if (c.endsWith("_bytes")) "bytes" else "count")) ++ Seq(
    "index.build_s" -> "s", "index.search_ms" -> "ms", "index.recall_at_10" -> "ratio",
    "state.disk_mb" -> "MB", "state.cached_mb" -> "MB",
    "operators.html_ms" -> "ms", "operators.quality_ms" -> "ms", "operators.minhash_ms" -> "ms",
    "operators.cluster_ms" -> "ms", "operators.knn_ms" -> "ms", "operators.bitext_ms" -> "ms",
    "operators.dup_recall" -> "ratio", "operators.bitext_recall" -> "ratio",
    "operators.docs_per_s" -> "1/s",
    "self.bench_ms" -> "ms", "self.server_ms" -> "ms", "self.iql_ms" -> "ms",
    "self.index_ms" -> "ms", "self.operators_ms" -> "ms", "self.spark_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "trace.overhead_pct" -> "%", "error_rate" -> "ratio",
    "lat.p90_ms" -> "ms", "lat.samples" -> "count")

  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    // nearest-rank percentile
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** A window's lat_p50_ms: the median op latency, unless the workload
    * defines its own. */
  private def p50(w: Window): Double = w.layer.getOrElse("lat_p50_ms", median(w.latMs.toSeq))

  /** Heap in use right after the last collection. */
  private def afterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def dirMb(dirs: Seq[java.io.File]): Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    dirs.map(size).sum / 1048576.0
  }

  /** Exits explicitly: server and client threads must not keep the JVM
    * alive after the result is printed. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val outDir = new java.io.File(".bench_build/runs")
    val spec = Spec.load("perfbench/workloads.json")
      .getOrElse(name, sys.error(s"unknown workload '$name'"))
    val cores = Runtime.getRuntime.availableProcessors
    val probe = new Env.Probe(cores)

    val setupStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opts.getOrElse("spark-local", ".bench_build/spark-local"))
      .config("spark.sql.warehouse.dir", ".bench_build/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val stats = new JobStats
    if (trace) sc.addSparkListener(stats)
    val tracer = new Tracer(sc)
    val wl: Workload = name match {
      case "kg_serve" => new Serve(spark, spec, seed, tracer, trace)
      case "kg_maintain" => new Maintain(spark, spec, seed, tracer, stats, trace)
      case "corpus_pipeline" => new Corpus(spark, spec, seed, tracer)
      case other => sys.error(s"unknown workload '$other'")
    }

    // set-up from scratch, several times, the last one kept: the first
    // also starts Spark and warms the JIT, so setup_s is the median of
    // the warm ones and the cold one is recorded beside it
    val setups = (0 to WarmSetups).map { i =>
      val t0 = if (i == 0) setupStart else System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val warm = new Window
    wl.warmup(warm)

    val gc0 = gcMs()
    val main = new Window
    var tracedWin: Option[Window] = None
    if (!trace) wl.measure(seconds, main)
    else {
      // half untraced, half traced: the difference is the tracing overhead
      wl.measure(seconds / 2, main)
      val tw = new Window
      tracer.on = true
      wl.measure(seconds / 2, tw)
      tracer.on = false
      org.apache.spark.PerfbenchBus.drain(sc)
      val spans = tracer.spans.toArray(new Array[Span](0)).toSeq
      val jobs = Summary.jobSpans(stats.all, tracer, spans, wl.ownerOf)
      wl.traced(tw, spans, jobs)
      val all = spans ++ jobs.map(_._1)
      val runId = s"$name-s$seed-${System.currentTimeMillis()}"
      Summary.writeSpans(new java.io.File(outDir, s"$runId.spans.jsonl").toPath, all)
      addLayerMetrics(tw, all, jobs)
      // engine scratch and Spark local dirs, and cached blocks, at run end
      tw.layer("state.disk_mb") = dirMb(opts.get("scratch").map(new java.io.File(_)).toSeq)
      tw.layer("state.cached_mb") =
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      tw.layer("trace.overhead_pct") = if (p50(main) > 0) 100.0 * (p50(tw) / p50(main) - 1) else 0.0
      tracedWin = Some(tw)
    }
    val gcDelta = gcMs() - gc0
    // driver heap after a full collection at run end, while the workload's
    // state (server, catalogs, index, cached frames) is still held. Garbage
    // that Spark's cleaner and the JVM's reference handlers release only
    // after a first collection goes in a second one, a moment later.
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heapMb = afterGcMb()
    wl.close()

    val wins = Seq(warm, main) ++ tracedWin.toSeq
    val attempted = wins.map(_.attempted).sum
    val failed = wins.map(w => w.failed + w.wrong).sum
    val lat = main.latMs.toSeq
    val e2e = Map(
      "setup_s" -> median(setups.tail),
      "lat_p50_ms" -> p50(main),
      "throughput_ops_s" -> main.layer("throughput_ops_s"),
      "heap_used_mb" -> heapMb)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      else {
        val tw = tracedWin.get
        tw.layer("jvm.gc_ms") = gcDelta.toDouble
        tw.layer("error_rate") = failed.toDouble / math.max(1L, attempted)
        tw.layer("lat.samples") = tw.latMs.size.toDouble
        tw.layer("lat.p90_ms") = pct(tw.latMs.toSeq, 90)
        PerLayer.map { case (n, u) => (n, tw.layer.getOrElse(n, main.layer.getOrElse(n, 0.0)), u) }
      }
    val env = probe.finish(Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "setup_cold_s" -> setups.head, "setup_warm_s" -> setups.tail,
      "warmup_ops" -> warm.attempted, "samples" -> lat.size, "latencies_ms" -> lat,
      "layer" -> main.layer))
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.VectorMap(metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }: _*))
    outDir.mkdirs()
    val rec = new java.io.File(outDir, s"$name-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}.json")
    java.nio.file.Files.writeString(rec.toPath, Json.render(Map("env" -> env, "result" -> result)) + "\n")
    System.err.println(s"[perfbench] env ${Json.render(env)}")
    spark.stop()
    println(Json.render(result))
  }

  /** Per-phase Spark counters and per-layer self time, per op. */
  private def addLayerMetrics(w: Window, spans: Seq[Span], jobs: Seq[(Span, JobStats#Job)]): Unit = {
    val ops = math.max(1L, w.attempted).toDouble
    val self = Summary.selfTimes(spans)
    for (p <- Phases) {
      val js = jobs.filter(_._1.phase == p).map(_._2)
      val sum = (f: JobStats#Job => Long) => js.map(f).sum.toDouble / ops
      Seq("jobs" -> js.size.toDouble / ops, "stages" -> sum(_.stagesRun), "tasks" -> sum(_.tasks),
        "task_run_ms" -> sum(_.runMs), "task_cpu_ms" -> sum(_.cpuMs), "sched_wait_ms" -> sum(_.schedMs),
        "shuffle_read_bytes" -> sum(_.shRead), "shuffle_write_bytes" -> sum(_.shWrite),
        "spill_bytes" -> sum(_.spill), "input_records" -> sum(_.inRecs)
      ).foreach { case (c, v) => w.layer(s"spark.$p.$c") = v }
      // time the phase's own spans spent with no job of theirs running
      w.layer(s"spark.$p.driver_only_ms") =
        spans.filter(s => s.phase == p && s.layer != "spark").map(s => self(s.id)).sum / 1e6 / ops
    }
    Summary.layerSelfMs(spans).foreach { case (l, ms) =>
      if (w.layer.contains(s"self.${l}_ms") || PerLayer.exists(_._1 == s"self.${l}_ms"))
        w.layer(s"self.${l}_ms") = ms / ops
    }
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch nanoseconds; `parent` is 0 for a
  * root; `op` groups the spans of one benchmark operation. Spark jobs
  * become spans of layer `spark` whose parent is the span that was open
  * on the submitting thread (found through the job group). */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      phase: String, start: Long, end: Long)

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled (the untraced runs) it costs one volatile read per call. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val t0Epoch = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = t0Epoch + System.nanoTime()
  val GroupPrefix = "perfbench-"

  /** Run `body` inside a span; Spark jobs it submits attach to it. */
  def span[T](layer: String, name: String, op: Long, phase: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val prevGroup = sc.getLocalProperty(JobStats.GroupKey)
      sc.setLocalProperty(JobStats.GroupKey, GroupPrefix + id)
      open.set(id :: stack)
      val start = now
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), op, layer, name, phase, start, now))
        open.set(stack)
        sc.setLocalProperty(JobStats.GroupKey, prevGroup)
      }
    }

  /** Record an interval measured elsewhere (e.g. the server's share of a
    * request); returns its id so jobs can be attached to it. */
  def record(parent: Long, op: Long, layer: String, name: String, phase: String,
             start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, op, layer, name, phase, start, end))
    id
  }
}

/** Per-job Spark counters, collected by a listener the benchmark
  * registers itself. A job is attributed to a span through its job group
  * (`perfbench-<span id>`) or, for jobs the wire server submits under its
  * own query guard, through the query text in the job description. */
final class JobStats extends SparkListener {
  final class Job(val id: Int, val group: String, val desc: String, val start: Long) {
    @volatile var end: Long = 0L
    var stagesRun, tasks = 0L
    var runMs, cpuMs, schedMs, shRead, shWrite, spill, inRecs = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val j = new Job(e.jobId,
      p.flatMap(x => Option(x.getProperty(JobStats.GroupKey))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty(JobStats.DescKey))).getOrElse(""),
      e.time * 1000000L)
    e.stageIds.foreach(s => stageJob.put(s, j))
    jobs.put(e.jobId, j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stagesRun += 1 })
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuMs += m.executorCpuTime / 1000000L
      // the UI's scheduler delay: task wall time not spent deserialising,
      // running or shipping its result
      val info = e.taskInfo
      j.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      j.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      j.shWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inRecs += m.inputMetrics.recordsRead
    }

  def all: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
}

object JobStats {
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
}

/** Folds spans and jobs into per-layer numbers. */
object Summary {
  /** Total length of the union of [s, e) intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var started = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > curE) {
        if (started) total += curE - curS
        curS = s; curE = e; started = true
      } else curE = math.max(curE, e)
    }
    if (started) total + curE - curS else 0L
  }

  /** Self time of each span: its length minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLen(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1))
      s.id -> math.max(0L, s.end - s.start - covered)
    }.toMap
  }

  /** Self time per layer, in ms. */
  def layerSelfMs(spans: Seq[Span]): Map[String, Double] = {
    val st = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => st(s.id)).sum / 1e6 }
  }

  /** Job spans attached under the benchmark span that submitted them. */
  def jobSpans(jobs: Seq[JobStats#Job], tracer: Tracer, spans: Seq[Span],
               byDesc: (String, Long) => Option[Span]): Seq[(Span, JobStats#Job)] = {
    val byId = spans.map(s => s.id -> s).toMap
    jobs.filter(_.end > 0).flatMap { j =>
      val owner =
        if (j.group.startsWith(tracer.GroupPrefix)) j.group.stripPrefix(tracer.GroupPrefix).toLongOption.flatMap(byId.get)
        else byDesc(j.desc, j.start)
      owner.map(o => (Span(-j.id - 1L, o.id, o.op, "spark", "job", o.phase, j.start, j.end), j))
    }
  }

  def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.write(Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "phase" -> s.phase, "start_ns" -> s.start, "end_ns" -> s.end)))
      w.newLine()
    } finally w.close()
  }

  def readSpans(path: String): Seq[Span] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val m = Json.parse(l)
      Span(m.get("id").asLong, m.get("parent").asLong, m.get("op").asLong,
        m.get("layer").asText, m.get("name").asText, m.get("phase").asText,
        m.get("start_ns").asLong, m.get("end_ns").asLong)
    }.toVector finally src.close()
  }

  /** `perfbench.Summary <spans.jsonl>`: per-layer and per-span-name self
    * time of a traced run, as a table. */
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: perfbench.Summary <spans.jsonl>")
    val spans = readSpans(args(0))
    val st = selfTimes(spans)
    val ops = spans.map(_.op).distinct.size max 1
    println(f"${"layer"}%-10s ${"name"}%-28s ${"spans"}%7s ${"self_ms"}%12s ${"self_ms/op"}%11s")
    spans.groupBy(s => (s.layer, s.name)).toSeq.sortBy(-_._2.map(s => st(s.id)).sum).foreach {
      case ((l, n), ss) =>
        val ms = ss.map(s => st(s.id)).sum / 1e6
        println(f"$l%-10s $n%-28s ${ss.size}%7d $ms%12.1f ${ms / ops}%11.3f")
    }
    layerSelfMs(spans).toSeq.sortBy(-_._2).foreach { case (l, ms) =>
      println(f"$l%-10s ${"(layer total)"}%-28s ${""}%7s $ms%12.1f ${ms / ops}%11.3f")
    }
  }
}

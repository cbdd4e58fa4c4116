package graft.tools
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Generic per-query job-count adjudicator: runs each named SparkEntry
  * query twice (run 1 pays codegen; read run 2) and prints the Spark
  * job count plus wall seconds of the second run. Cross-commit usage
  * (the pattern that settled the r13 q191/q193 regressions): run the
  * same names in a worktree at the old commit and at HEAD in one
  * session — equal job counts mean the delta is ambient, a job-count
  * change names the added action.
  *
  * After each query line it prints one line per job of the second run:
  * job id, wall ms, the stages that ran as `name:tasks`, shuffle read
  * and write bytes, and the call site — the first `graft.` frame and
  * the `SparkEntry.scala:N` frame of the job's result-stage stack — so
  * an added or costly job names the code that launched it. */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileJobs <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracker = spark.sparkContext.statusTracker
    def maxJob: Int = {
      val ids = tracker.getJobIdsForGroup(null)
      if (ids.isEmpty) 0 else ids.max
    }
    try graft.SparkEntry.warmFixtures(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[profile] warmFixtures: $e") }
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val log = new JobLog
      try {
        fn(spark, sfDir).count() // run 1: codegen + footer reads
        spark.sparkContext.addSparkListener(log)
        val j0 = maxJob
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val j1 = maxJob
        println(f"""{"query":"$name","jobs":${j1 - j0},"sec":$sec%.3f,"rows":$n}""")
        log.await(j0 + 1 to j1).foreach(println)
      } catch { case e: Throwable =>
        println(s"""{"query":"$name","error":"${e.getClass.getSimpleName}"}""")
      } finally spark.sparkContext.removeSparkListener(log)
    }
    spark.stop()
  }

  /** One JSON line per ended job. Callbacks run on the listener-bus
    * thread, in event order, so a job's stages complete before its end;
    * only `lines` is read from the main thread. */
  private final class JobLog extends SparkListener {
    private final class Job(val start: Long, val stageIds: Set[Int], val site: Seq[String]) {
      val stages = mutable.ArrayBuffer.empty[String]
      var read, write = 0L
    }
    private val jobs = mutable.Map.empty[Int, Job]
    private val execFrames = mutable.Map.empty[Long, Seq[String]]
    private val lines = new ConcurrentHashMap[Int, String]()
    private def frames(details: String) = details.linesIterator.map(_.trim).toSeq

    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case e: SparkListenerSQLExecutionStart => execFrames(e.executionId) = frames(e.details)
      case _ => ()
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // the result stage is created last; its stack is the job's call
      // site. Jobs that adaptive execution or a broadcast submits from a
      // pool thread have no graft frame there, so they take the stack
      // of the SQL execution that launched them.
      val own = js.stageInfos.maxByOption(_.stageId).map(si => frames(si.details)).getOrElse(Nil)
      val f = if (own.exists(_.startsWith("graft."))) own else
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execFrames.get(id.toLong)).getOrElse(own)
      val site = (f.find(_.startsWith("graft.")) ++ f.find(_.contains("(SparkEntry.scala:"))).toSeq
      jobs(js.jobId) = new Job(js.time, js.stageIds.toSet, site.distinct)
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      jobs.values.find(_.stageIds(si.stageId)).foreach { j =>
        j.stages += s"${si.name}:${si.numTasks}"
        Option(si.taskMetrics).foreach { m =>
          j.read += m.shuffleReadMetrics.totalBytesRead
          j.write += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.remove(je.jobId).foreach { j =>
      def arr(xs: Seq[String]) = xs.map(x =>
        "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
      lines.put(je.jobId, s"""{"job":${je.jobId},"ms":${je.time - j.start},""" +
        s""""stages":${arr(j.stages.toSeq)},"shuffle_read":${j.read},""" +
        s""""shuffle_write":${j.write},"site":${arr(j.site)}}""")
    }

    /** The lines of `ids` in id order, once the bus has delivered their
      * end events (at most 30 s; a job still missing prints no line). */
    def await(ids: Range): Seq[String] = {
      val deadline = System.nanoTime() + 30000000000L
      while (!ids.forall(lines.containsKey) && System.nanoTime() < deadline) Thread.sleep(10)
      ids.flatMap(id => Option(lines.get(id)))
    }
  }
}

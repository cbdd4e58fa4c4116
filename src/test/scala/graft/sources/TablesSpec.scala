package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The events loader must be schema-agnostic: testdata generations have
  * shipped `ts` as both TIMESTAMP(NANOS) (read as long under
  * nanosAsLong) and native timestamp[us]. Either way the loaded frame
  * exposes the same contract: `ts` TimestampType + `ts_ns` LongType with
  * identical instants. (Round-6 regression: the nanos-only branch
  * silently dropped ts_ns when the testdata switched to timestamp[us].)
  */
class TablesSpec extends SparkSpec {

  private val micros = Seq(1704844800000000L, 1705449600000999L, 1706659200123456L)

  private def writeVariant(writeTs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft_tables_spec_").toString
    import spark.implicits._
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong % 2, "view", 1.5 * i) }
      .toDF("event_id", "us", "user_id", "event_type", "value")
    writeTs(base).drop("us").write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def checkContract(dir: String): Unit = {
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema("ts_ns").dataType == LongType)
    val got = ev.select(col("event_id"), col("ts_ns"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val want = micros.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L, us) }
    assert(got.toSeq == want)
  }

  test("events loader: native timestamp[us] storage yields ts + exact ts_ns") {
    checkContract(writeVariant(_.withColumn("ts", expr("timestamp_micros(us)"))))
  }

  test("events loader: nanos-as-long storage yields ts + exact ts_ns") {
    // Spark can't write TIMESTAMP(NANOS); a plain int64 `ts` exercises the
    // same LongType loader branch the nanosAsLong reader produces.
    checkContract(writeVariant(_.withColumn("ts", expr("us * 1000L"))))
  }

  test("events loader contract holds on the driver's real testdata") {
    val real = "/root/testdata/sf0.001"
    assume(Files.exists(java.nio.file.Paths.get(s"$real/events.parquet")))
    val ev = Tables.load(spark, real, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema("ts_ns").dataType == LongType)
    val bad = ev.where(expr("ts_ns != unix_micros(ts) * 1000L")).count()
    assert(bad == 0L)
    assert(ev.count() > 0L)
  }

  test("operator-critical column types hold on the driver's real testdata") {
    // the round-6 break was a silent testdata schema drift; pin the
    // column types the operator families assume so the NEXT drift fails
    // here with a named column instead of deep inside an operator
    val real = "/root/testdata/sf0.001"
    assume(Files.exists(java.nio.file.Paths.get(s"$real/embeddings.parquet")))
    val emb = Tables.load(spark, real, "embeddings")
    assert(emb.schema("vec_id").dataType == LongType)
    assert(emb.schema("embedding").dataType.isInstanceOf[ArrayType])
    assert(emb.schema("embedding").dataType.asInstanceOf[ArrayType]
      .elementType == FloatType, "ANN kernels assume float32 embeddings")
    val docs = Tables.load(spark, real, "documents")
    assert(docs.schema("doc_id").dataType == LongType)
    assert(docs.schema("text").dataType == StringType)
    val li = Tables.load(spark, real, "lineitem")
    assert(li.schema("l_quantity").dataType == DoubleType ||
      li.schema("l_quantity").dataType.typeName.startsWith("decimal"))
  }

  test("a second load of one path starts no Spark job") {
    import scala.jdk.CollectionConverters._
    val dir = writeVariant(_.withColumn("ts", expr("timestamp_micros(us)")))
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    // jobs started under a fresh job group while `body` runs; a fence job
    // started after it reaches the listener last, so once the fence is
    // seen every job of the body has been counted
    def jobsOf(body: => Unit): Int = {
      val g = "tables-spec-" + java.util.UUID.randomUUID()
      def inGroup(group: String)(f: => Unit): Unit = {
        sc.setJobGroup(group, group)
        try f finally sc.clearJobGroup()
      }
      inGroup(g)(body)
      inGroup(g + "-fence")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(g + "-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(g + "-fence"), "the fence job never reached the listener")
      groups.asScala.count(_ == g)
    }
    sc.addSparkListener(listener)
    try {
      assert(jobsOf(Tables.load(spark, dir, "events")) >= 1,
        "the first load should infer the schema with a Spark job")
      assert(jobsOf(Tables.load(spark, dir, "events")) == 0,
        "the second load re-inferred the schema")
    } finally sc.removeSparkListener(listener)
    checkContract(dir)
  }

  test("non-events tables pass through untouched") {
    val dir = Files.createTempDirectory("graft_tables_spec_").toString
    import spark.implicits._
    Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val r = Tables.load(spark, dir, "region")
    assert(r.columns.toSeq == Seq("r_regionkey", "r_name"))
  }
}

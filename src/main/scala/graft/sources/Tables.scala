package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the synthetic star schema (TESTDATA.md).
  * One method so every query names tables uniformly; Catalyst handles
  * column pruning + filter pushdown into these scans.
  */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** CSV with header + type inference (reference `src/storage/csv.rs`:
    * header row, i64/f64/bool/string inference). */
  def loadCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def saveCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Read schemas per session, keyed by (path, modification time): parquet
    * schema inference is one Spark job, so only the first load of a path
    * (and the first after it is rewritten) pays it. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, Long), StructType]]())

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events.parquet timestamp physical type has changed across
    // testdata generations (TIMESTAMP(NANOS) → timestamp[us]); the loader
    // is schema-agnostic so either generation yields the same two columns:
    //   ts    TimestampType (native µs instant — range filters push down)
    //   ts_ns LongType      (exact ns since epoch — reference Timestamp math)
    // nanosAsLong: Spark's vectorized reader rejects TIMESTAMP(NANOS);
    // read nanos as long, then rebuild the timestamp with exact integer
    // arithmetic (`div`, not double division — ns exceeds double's 53-bit
    // mantissa). inferTimestampNTZ off: naive (isAdjustedToUTC=false)
    // micros then load verbatim as TimestampType micros-since-epoch, so
    // unix_micros(ts) is the raw stored value independent of session TZ
    // (matching DuckDB's epoch_us over the same file).
    def setConf(key: String, value: String): Unit =
      if (!spark.conf.getOption(key).contains(value)) spark.conf.set(key, value)
    setConf("spark.sql.legacy.parquet.nanosAsLong", "true")
    setConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val path = s"$dir/$name.parquet"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val mtime = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(hPath).getModificationTime
    val schema = schemas.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent((path, mtime), _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long storage
        df.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType => // defensive: NTZ read
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case _ => // native timestamp[us] storage
        df.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    } else df
  }
}

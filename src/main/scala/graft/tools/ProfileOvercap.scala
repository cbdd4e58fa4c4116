package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: riding-round costs for the over-cap siblings of the
  * combined support table — a count_distinct view whose PAIRS table is
  * view-sized, and a top_k view whose prefix-buffer table is
  * view-sized (600k groups each). Run with n=60000 vs n=600000 and
  * compare riding rounds: a slope means the per-round pairs/buffer
  * commit still pays O(view) map passes. */
object ProfileOvercap {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 600000L
    val what = if (args.length > 1) args(1) else "both"
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("profile-overcap")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracker = spark.sparkContext.statusTracker
    def maxJob: Int = {
      val ids = tracker.getJobIdsForGroup(null); if (ids.isEmpty) 0 else ids.max
    }
    def phase[A](name: String)(body: => A): A = {
      val j0 = maxJob
      val t0 = System.nanoTime
      val r = body
      val sec = (System.nanoTime - t0) / 1e9
      println(f"[profile] $name%-34s ${sec}%8.3f s  jobs +${maxJob - j0}")
      r
    }
    def batch(lo: Long): String = (lo until lo + 20L)
      .map(i => s"($i, ${i % 100}, ${(i * 48271) % 500})").mkString(",")

    if (what == "both" || what == "cd") (1 to 2).foreach { run =>
      println(s"=== cd run $run (n=$n) ===")
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("cbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      phase("rule + materialize")(e.run(
        "+cdv(I, count_distinct<S>, count<S>) <- cbase(I, D, S)\n?cdv(I, C, N)\n").last.count())
      phase("round1 (defer)") { e.run(s"-cbase[${batch(0L)}]"); e.run("?cdv(I, C, N)").last.count() }
      phase("round2 (seed)") { e.run(s"-cbase[${batch(50L)}]"); e.run("?cdv(I, C, N)").last.count() }
      Seq(100L, 200L).zipWithIndex.foreach { case (lo, i) =>
        phase(s"round${i + 3} (riding)") {
          e.run(s"-cbase[${batch(lo)}]"); e.run("?cdv(I, C, N)").last.count()
        }
      }
    }

    if (what == "radius") (1 to 2).foreach { run =>
      println(s"=== radius run $run (n=$n, carry=${run == 2}) ===")
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark),
        graft.iql.Engine.Limits(supportParquetEnabled = run == 2)) // run 1 = legacy
      e.catalog.register("wbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      phase("rule + materialize")(e.run(
        "+wv(D, within_radius<400, I, S>) <- wbase(I, D, S)\n?wv(D, I, S)\n").last.count())
      Seq(0L, 100L, 200L, 300L).zipWithIndex.foreach { case (lo, i) =>
        phase(s"round${i + 1} (${if (i == 0) "first" else "riding"})") {
          e.run(s"-wbase[${batch(lo)}]"); e.run("?wv(D, I, S)").last.count()
        }
      }
      println(s"  carryRides=${e.radiusCarryRides}")
    }

    if (what == "both" || what == "rank") (1 to 2).foreach { run =>
      println(s"=== rank run $run (n=$n) ===")
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("rbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      // one group per id -> the prefix-buffer table is view-sized
      phase("rule + materialize")(e.run(
        "+rv(I, top_k<1, S:desc>) <- rbase(I, D, S)\n?rv(I, S)\n").last.count())
      phase("round1 (defer)") { e.run(s"-rbase[${batch(0L)}]"); e.run("?rv(I, S)").last.count() }
      phase("round2 (seed)") { e.run(s"-rbase[${batch(50L)}]"); e.run("?rv(I, S)").last.count() }
      Seq(100L, 200L).zipWithIndex.foreach { case (lo, i) =>
        phase(s"round${i + 3} (riding)") {
          e.run(s"-rbase[${batch(lo)}]"); e.run("?rv(I, S)").last.count()
        }
      }
    }
    spark.stop()
  }
}

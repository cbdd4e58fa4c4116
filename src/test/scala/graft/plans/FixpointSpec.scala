package graft.plans

import graft.SparkSpec

/** Both fixpoint paths: the driver-local fast path (default for small
  * inputs) and the distributed semi-naive loop (forced via maxIter > 0,
  * which bypasses the local path). */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
  private def cyclic = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")

  private val chainTC = Set[Seq[Any]](
    Seq(1L, 2L), Seq(1L, 3L), Seq(1L, 4L),
    Seq(2L, 3L), Seq(2L, 4L), Seq(3L, 4L))

  test("transitive closure — local path") {
    assert(rows(Fixpoint.transitiveClosure(chain)) == chainTC)
  }

  test("transitive closure — distributed path") {
    assert(rows(Fixpoint.transitiveClosure(chain, maxIter = 50)) == chainTC)
  }

  test("closure with cycle terminates on both paths") {
    val exp = Set[Seq[Any]](
      Seq(1L, 1L), Seq(1L, 2L), Seq(1L, 3L),
      Seq(2L, 1L), Seq(2L, 2L), Seq(2L, 3L),
      Seq(3L, 1L), Seq(3L, 2L), Seq(3L, 3L))
    assert(rows(Fixpoint.transitiveClosure(cyclic)) == exp)
    assert(rows(Fixpoint.transitiveClosure(cyclic, maxIter = 50)) == exp)
  }

  test("rewritten parquet input is never served from the collect cache") {
    val dir = java.nio.file.Files.createTempDirectory("fp_stale").toFile
    val p = new java.io.File(dir, "edges").getAbsolutePath
    try {
      chain.write.mode("overwrite").parquet(p)
      assert(rows(Fixpoint.transitiveClosure(spark.read.parquet(p))) == chainTC)
      // rewrite the SAME path in place, then closure again directly:
      // the second result must reflect the new files, not a plan-keyed
      // cache hit from the first call
      Seq((7L, 8L), (8L, 9L)).toDF("src", "dst")
        .write.mode("overwrite").parquet(p)
      assert(rows(Fixpoint.transitiveClosure(spark.read.parquet(p))) ==
        Set[Seq[Any]](Seq(7L, 8L), Seq(7L, 9L), Seq(8L, 9L)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("bound reachability — both paths agree") {
    val seeds = Seq(1L).toDF("src")
    val exp = Set[Seq[Any]](Seq(1L, 2L), Seq(1L, 3L), Seq(1L, 4L))
    assert(rows(Fixpoint.boundReachability(chain, seeds)) == exp)
    assert(rows(Fixpoint.boundReachability(chain, seeds, maxIter = 50)) == exp)
  }

  test("connected components — both paths agree") {
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val exp = Set[Seq[Any]](
      Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(10L, 10L), Seq(11L, 10L))
    assert(rows(Fixpoint.connectedComponents(e)) == exp)
    assert(rows(Fixpoint.connectedComponents(e, maxIter = 50)) == exp)
  }

  test("connected components: the local path labels by Spark's UTF-8 string order") {
    // U+E000 sorts before U+1F600 as UTF-8 bytes (EE.. < F0..), which is
    // how the distributed loop's min() orders them; as UTF-16 code units
    // the surrogate pair (D83D..) sorts first
    val e = Seq(("\uE000", "\uD83D\uDE00")).toDF("a", "b")
    val exp = Set[Seq[Any]](Seq("\uE000", "\uE000"), Seq("\uD83D\uDE00", "\uE000"))
    assert(rows(Fixpoint.connectedComponents(e, maxIter = 50)) == exp)
    assert(rows(Fixpoint.connectedComponents(e)) == exp)
  }

  test("connected components: semi-naive distributed loop matches union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .toDF("a", "b")
    val local = rows(Fixpoint.connectedComponents(edges))
    val dist = rows(Fixpoint.connectedComponents(edges, maxIter = 100))
    assert(local == dist && local.nonEmpty)
  }

  test("larger random graph: local and distributed closures agree") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val df = edges.toDF("src", "dst")
    assert(rows(Fixpoint.transitiveClosure(df)) ==
      rows(Fixpoint.transitiveClosure(df, maxIter = 100)))
  }
}

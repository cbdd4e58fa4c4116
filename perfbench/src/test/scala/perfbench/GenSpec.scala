package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's contract with its inputs: the same
  * seed must give the same bytes, sizes must be what workloads.json
  * records, and kg_maintain must sit under the engine's driver-local
  * caps (read from the engine itself, so moving a cap shows up here). */
class GenSpec extends AnyFunSuite {
  private def file(name: String): String =
    Seq(s"perfbench/$name", name).find(p => new java.io.File(p).exists).getOrElse(s"perfbench/$name")
  private lazy val specs = Spec.load(file("workloads.json"))

  /** SHA-256 over everything one seed generates for a workload. */
  private def fingerprint(workload: String, seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    val spec = specs(workload)
    workload match {
      case "corpus_pipeline" =>
        val b = CorpusGen.batch(spec, seed, 0, CorpusGen.vocab(seed, spec.int("vocab")))
        b.html.foreach(add)
        add(b.rank.mkString(","))
        Seq(b.emb, b.queries, b.bitextA, b.bitextB).foreach(_.foreach(v => add(v.mkString(","))))
        add(b.exactPairs.mkString + b.nearPairs.mkString + b.bitextPlanted.mkString)
      case _ =>
        val m = new KgModel(spec, seed)
        add(m.edgeRows.mkString); add(m.empRows.mkString)
        if (workload == "kg_maintain") (0 until 3).foreach(i => add(m.round(i).iql))
        else {
          val d = new ServeData(spec, seed)
          add(d.cust.mkString + d.prod.mkString + d.orders.mkString)
          d.vectors.foreach(v => add(v.mkString(",")))
        }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    specs.keys.foreach { w =>
      assert(fingerprint(w, 7) == fingerprint(w, 7), w)
      assert(fingerprint(w, 7) != fingerprint(w, 8), w)
    }
  }

  test("generated sizes match workloads.json") {
    Seq("kg_serve", "kg_maintain").foreach { w =>
      val s = specs(w)
      val m = new KgModel(s, 1)
      assert(m.nodes.size == s.int("components") * s.int("component_size"))
      assert(m.emps.size == s.int("employees"))
      assert(m.edges.size > s.int("components") * (s.int("component_size") - 1))
    }
    val s = specs("kg_maintain")
    val r = new KgModel(s, 1).round(0)
    assert(r.edgeIns.size == s.int("batch_edges") && r.edgeDel.size == s.int("batch_edges"))
    assert(r.empIns.size == s.int("batch_employees") && r.empDel.size == s.int("batch_employees"))
    val d = new ServeData(specs("kg_serve"), 1)
    assert(d.vectors.length == specs("kg_serve").int("vectors"))
    assert(d.vectors.forall(_.length == specs("kg_serve").int("dim")))
    assert(d.orders.length == specs("kg_serve").int("orders"))
    val c = specs("corpus_pipeline")
    val b = CorpusGen.batch(c, 1, 0, CorpusGen.vocab(1, c.int("vocab")))
    assert(b.ids.length == c.int("docs_per_batch"))
    assert(b.bitextA.length == c.int("bitext_size") && b.bitextB.length == c.int("bitext_size"))
    assert(b.exactPairs.nonEmpty && b.nearPairs.nonEmpty && b.bitextPlanted.nonEmpty)
  }

  test("kg_maintain stays under the driver-local caps through its rounds") {
    def engineCap(name: String): Long =
      graft.iql.Engine.getClass.getMethod(name).invoke(graft.iql.Engine).asInstanceOf[Long]
    val s = specs("kg_maintain")
    val m = new KgModel(s, 1)
    (0 until 20).foreach { i =>
      if (i > 0) m.round(i)
      assert(m.edges.size <= graft.plans.Fixpoint.LocalEdgeRows)
      assert(m.nodes.size <= graft.plans.Fixpoint.LocalTcNodes)
      assert(Check.closureSize(Check.closure(m.edges.iterator)) <= engineCap("tcLocalClosureCap"))
      assert(m.emps.size <= engineCap("rankBufLocalCap"))
    }
  }

  test("BENCHMARK.json names the metrics and workloads the benchmark prints") {
    val src = scala.io.Source.fromFile(file("../BENCHMARK.json"), "UTF-8")
    val bench = try Json.parse(src.mkString) finally src.close()
    def named(k: String): Seq[(String, String)] =
      bench.get(k).asScala.toSeq.map(m => m.get("name").asText -> m.get("unit").asText)
    assert(named("end_to_end") == Main.EndToEnd)
    assert(named("per_layer") == Main.PerLayer)
    // listed workloads are defined; kg_maintain is defined but not listed
    assert(bench.get("workloads").asScala.map(_.get("name").asText).toSet.subsetOf(specs.keySet))
  }

  test("the checker's closure agrees with a brute-force fixpoint") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 3L)
    var tc = edges.toSet
    var grown = true
    while (grown) {
      val next = tc ++ (for ((a, b) <- tc; (c, d) <- edges if b == c) yield (a, d))
      grown = next.size > tc.size
      tc = next
    }
    val got = Check.closure(edges.iterator).toSeq.flatMap { case (s, ds) => ds.map(s -> _) }.toSet
    assert(got == tc)
  }
}

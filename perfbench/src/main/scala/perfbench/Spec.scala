package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** Workload sizes and settings, read from `perfbench/workloads.json` —
  * the one place sizes are recorded; the generator, its tests and the
  * comparison tool all read them from there. */
object Spec {
  final case class W(name: String, m: JsonNode) {
    def int(k: String): Int = get(k).asInt
    def dbl(k: String): Double = get(k).asDouble
    private def get(k: String): JsonNode = {
      val v = m.get(k)
      if (v == null || !v.isNumber) throw new IllegalArgumentException(s"workload $name: no number '$k'")
      v
    }
  }

  def load(path: String): Map[String, W] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val all = try Json.parse(src.mkString) finally src.close()
    all.get("workloads").properties.asScala.map(e => e.getKey -> W(e.getKey, e.getValue)).toMap
  }
}

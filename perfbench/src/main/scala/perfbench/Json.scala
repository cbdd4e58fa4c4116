package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through Jackson, for the benchmark's own files and for decoding
  * server replies. The engine has its own codec and does not use Jackson,
  * so a codec bug on the server side cannot hide behind a matching bug
  * here. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
  def parse(s: String): JsonNode = mapper.readTree(s)
}

package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through the Jackson Scala module that ships with Spark: run
  * records out, committed expected-value files in.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def render(v: Any): String = mapper.writeValueAsString(v)

  def parse(s: String): Map[String, Any] = mapper.readValue(s, classOf[Map[String, Any]])
}

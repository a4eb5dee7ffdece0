package graft

import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The drivers' one JSON writer: Verify's oracle and failure maps and
  * PlanDump's plan-shape record. Map keys are sorted and the output is
  * indented, so a file diffs line by line across runs. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(SerializationFeature.INDENT_OUTPUT)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS).build()

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)
}

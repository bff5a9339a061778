package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The engine's one JSON codec: a shared Jackson mapper with Scala support
  * (case classes, Option, Seq, Map). Output is compact, one line per value.
  * Build ordered objects from a `ListMap` so key order is stable.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)
}

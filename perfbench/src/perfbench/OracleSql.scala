package perfbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry

/** Writes the DuckDB oracle SQL of every batch entry the benchmark runs, as
  * one JSON object, to the path given as the only argument. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val missing = BatchWorkload.Iterative.filterNot(sql.contains)
    require(missing.isEmpty, s"entries without an oracle twin: ${missing.mkString(", ")}")
    Files.writeString(Paths.get(args(0)), new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(BatchWorkload.Iterative.map(e => e -> sql(e)).toMap))
  }
}

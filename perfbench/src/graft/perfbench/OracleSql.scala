package graft.perfbench

/** Writes the slice's DuckDB oracle SQL (`SparkEntry.oracleSql`) as one
  * JSON object, for oracle.py. Usage: OracleSql <out.json>
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val body = OlapSlice.queries.map(q => q -> Json.str(sql(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), Json.obj(body))
  }
}

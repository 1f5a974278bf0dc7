package perfbench

/** Writes the DuckDB oracle SQL of the catalog_mix entries, as the engine
  * carries it in `SparkEntry.oracleSql`, as one JSON object (entry → SQL):
  *
  *   OracleSql <out.json>
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = CatalogBench.Entries.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    val json = CatalogBench.Entries.map(n => s"${Json.str(n)}:${Json.str(sql(n))}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json)
  }
}

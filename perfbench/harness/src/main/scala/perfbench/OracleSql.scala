package perfbench

/** Prints `SparkEntry.oracleSql` of every catalog-workload query as one
  * JSON object; `perfbench/oracle.py` runs it to rebuild the oracle
  * cache. */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(Json(Catalog.curation
      .map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap))
}

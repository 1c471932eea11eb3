package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: how to build it over an sf directory, and the
  * DuckDB SQL whose result it must hash-match (column-sorted,
  * row-sorted, full-precision values). Each operator family declares
  * its own `queries: Seq[Query]` beside its code; SparkEntry's maps are
  * views over their concatenation, so a query and its oracle can never
  * drift apart.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Query {

  /** Fixed export path for oracle-support tables (SparkEntry.oracleAux):
    * oracle SQL reads them back via read_parquet('OracleAuxDir/name').
    */
  val OracleAuxDir = "/tmp/graft_oracle_aux"
}

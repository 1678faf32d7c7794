package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7.2). The registry is [[Queries.cdc]]: one
  * entry per SURVEY §2 operator or CDC-loop step, each with DuckDB oracle
  * SQL.
  */
object SparkEntry {
  private val registry: Seq[(String, Q)] = Queries.cdc

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.flagshipUpsert(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, Q(_, Some(sql))) => n -> sql }.toMap
}

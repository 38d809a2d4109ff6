package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Queries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.all("q02_enrich_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Queries.Plan] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check.
    * Includes oracles generated from fitted model parameters, so it
    * must be read AFTER running `queries` (as Verify does). */
  def oracleSql: Map[String, String] = Queries.oracleSql

  /** Timed by Bench but outside the Verify/oracle contract: production
    * fast-path twins whose oracle twins run an engine-neutral hash
    * (see Queries.registry).
    */
  def benchOnly: Map[String, Queries.Plan] =
    Queries.benchOnly
}

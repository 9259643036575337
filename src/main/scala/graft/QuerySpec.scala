package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verified query: a Spark implementation plus (when expressible)
  * its ANSI-SQL twin for the driver's DuckDB oracle. Column names and
  * types must match between the two — the driver sorts columns by name
  * and hash-compares values (see the builder contract in SparkEntry).
  *
  * Queries with `oracle = None` (hash-dependent or streaming semantics)
  * get a weaker rows-only check from the driver and a ScalaTest spec
  * here instead.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QuerySpec {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, run, Some(oracle))

  def noOracle(name: String)(
      run: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, run, None)

  /** Scratch path for a query's persisted artifact (a shared index, a
    * roundtrip sink), keyed by the scale directory: two concurrent runs
    * over different SFs (bench at sf0.1 while verify dumps sf0.01)
    * would interleave writes and reads on a fixed path and corrupt
    * both. Shared stores are reused across runs, so the string must
    * stay stable. */
  private[graft] def scratchPath(tag: String, sfDir: String): String =
    s"/tmp/graft_${tag}_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
}

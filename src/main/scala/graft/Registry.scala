package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: the Spark-side plan plus (optionally) its ANSI-SQL
  * DuckDB oracle twin. Modules (`ops.*`, `etl.*`) each export a
  * `defs: Map[String, Q]`; `SparkEntry` unions them. Queries without a
  * SQL-expressible oracle (MinHash, SimHash, …) set `oracle = None`
  * and get the driver's weaker rows-only check, as the contract
  * allows. */
case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object Q {
  def apply(fn: (SparkSession, String) => DataFrame, sql: String): Q =
    Q(fn, Some(sql))

  /** The star-schema tables a SQL-entry query may name. */
  private val starTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** A SQL-entry query: ONE text, which Spark runs over the star-schema
    * tables registered as temp views under their bare names, and which
    * DuckDB runs as the oracle over the same parquet tables. The text
    * is written in the spelling both engines accept; hints stay in it,
    * since DuckDB reads `/*+ … */` as a comment. `s.sql` analyzes
    * eagerly, so a frame already built keeps the tables it resolved
    * when the views are later re-registered at another sf. */
  def sql(text: String): Q = Q(
    (s, d) => {
      starTables.foreach(t => Tables.read(s, d, t).createOrReplaceTempView(t))
      s.sql(text)
    },
    text)
}

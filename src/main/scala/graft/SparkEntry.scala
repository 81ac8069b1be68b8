package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query registry is assembled from the per-family modules in
  * `graft.ops` / `graft.etl`; each entry pairs a Spark plan with its
  * DuckDB oracle twin (where SQL-expressible). */
object SparkEntry {

  /** A local session builder with the settings every output depends
    * on: `cpus` task slots and as many shuffle partitions, a UTC
    * session time zone (the events reader's typed read is
    * value-identical to the oracle's naive read only in UTC), and
    * nanosecond parquet timestamps surfaced as Long (the events
    * reader's other branch). Every main builds its session here and
    * adds only its own extras. */
  def localSession(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** All named queries with their optional oracles. */
  def all: Map[String, Q] =
    ops.Relational.defs ++ ops.Functions.defs ++ etl.Medallion.defs ++
      ops.TextOps.defs ++ ops.VectorOps.defs ++ ops.Multimodal.defs ++
      ops.EventsOps.defs ++ ops.Advanced.defs ++ ops.PipelineOps.defs ++
      ops.GraphOps.defs ++ ops.QualityOps.defs ++
      sources.SourceQueries.defs ++ streaming.StreamQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q1PricingSummary.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, q) if q.oracle.isDefined => k -> q.oracle.get }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-enforced readers for the graded star-schema corpus.
  *
  * The reference ingests with inferred schemas (`pd.read_excel`,
  * `/root/reference/dags/bronze/dag_bronze_financial_sample.py:154`)
  * which drifts from its own hand-written DDL (SURVEY.md §1.4). The
  * engine instead declares one `StructType` per table — matching the
  * reference's fixed-DDL intent (`:111-128`) — and passes it to
  * `spark.read.schema(...)` so column names and LOGICAL types can
  * never drift and the scan skips footer merging. At 100 TB an
  * explicit schema also guarantees column pruning works against a
  * stable `ReadSchema`.
  *
  * What an explicit schema does NOT protect: the PHYSICAL encoding a
  * writer chose — proven by the events corpus shipping first as
  * timestamp[ns], later as timestamp[us], silently breaking a reader
  * that assumed one of them (round-8 postmortem). Physical-unit
  * handling therefore lives in [[readEvents]] (footer detection +
  * branch), and the decoded VALUES are pinned against the real
  * corpus by TestdataContractSpec — the schema fixes the contract's
  * shape, the contract spec fixes its meaning.
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  // events.ts has shipped as both timestamp[us] and timestamp[ns]
  // across testdata generations, so the reader detects the physical
  // unit from the footer instead of assuming one (see readEvents).
  // The ns path scans ts as raw Long nanos and rebuilds a µs
  // TimestampType column (`ts DIV 1000` — integer division; a double
  // division would lose precision above 2^53 ns). The data is
  // µs-resolution, so the truncation is lossless.
  val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val eventsSchema = StructType(eventsRawSchema.fields.map {
    case StructField("ts", _, n, m) => StructField("ts", TimestampType, n, m)
    case f => f
  })

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "events" -> eventsSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  // Reuse the resolved relation (and its file index) across the many
  // queries that scan the same table in one session — re-listing and
  // re-resolving per query is pure overhead. DataFrames are immutable
  // plans, so sharing is safe; SessionMemo holds sessions weakly so
  // stopped sessions (and their relations) can be collected. Every
  // registry query reads through here, so it also installs the
  // SortBeforeProject rule once per session: sessions built without
  // the extensions get it too.
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.plans.SortBeforeProject.register(spark)
    SessionMemo.getOrElseUpdate(spark, s"table:$dir/$name") {
      if (name == "events") readEvents(spark, s"$dir/events.parquet")
      else spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
    }
  }

  /** Footer-unit-aware events reader.
    *
    * Explicit schemas protect column NAMES and logical types from
    * inference drift, but not the physical timestamp unit: a
    * timestamp[us] footer and a timestamp[ns] footer both satisfy a
    * "ts is a timestamp" contract while needing different read plans
    * (Spark 4 rejects TIMESTAMP(NANOS) unless
    * spark.sql.legacy.parquet.nanosAsLong=true surfaces it as raw
    * Long). So this reader inspects the footer — one cheap
    * schema-inference pass over the file, memoized with the relation
    * by [[read]] — and branches:
    *
    *   - inferred TimestampType  → µs footer: typed read, no rescale.
    *   - inferred LongType       → ns footer surfaced via nanosAsLong
    *     (or a raw-int64-nanos column): scan as Long, rebuild µs with
    *     integer `DIV 1000`.
    *
    * A raw INT64 column holding MICROsecond ticks would be misbranched
    * (indistinguishable from nanos in the footer) — the
    * testdata-contract spec pins `year(ts) === 2024` against the real
    * corpus so any such drift fails loudly instead of silently.
    */
  private[graft] def readEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val tsType =
      try spark.read.parquet(path).schema("ts").dataType
      catch {
        case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalStateException(
            s"$path stores ts as TIMESTAMP(NANOS); set " +
              "spark.sql.legacy.parquet.nanosAsLong=true on the session to read it", e)
      }
    tsType match {
      // pyarrow writes tz-naive timestamp[us], which Spark infers as
      // NTZ; the session runs in UTC so reading it through the typed
      // LTZ schema is value-identical to the oracle's naive read.
      case TimestampType | TimestampNTZType =>
        spark.read.schema(eventsSchema).parquet(path)
      case LongType =>
        spark.read.schema(eventsRawSchema).parquet(path)
          .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case other =>
        throw new IllegalStateException(
          s"$path: unsupported physical type for ts: $other (expected timestamp[us] or int64 nanos)")
    }
  }

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}

package graft.ops

import graft.{Num, Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

/** Scalar-function breadth (SURVEY.md §2B rows String→Array/map/json).
  * Generalizes the reference's only scalar work — column-name trimming
  * and money-string cleanup (`dags/silver/dag_silver_financial_sample.py:71,76-82`)
  * — into the full built-in function surface. Everything here is
  * `org.apache.spark.sql.functions._` (whole-stage codegen'd); no UDFs
  * in any hot path.
  *
  * Oracle-parity notes baked into the choices:
  *  - DuckDB `regexp_replace` needs the 'g' flag to match Spark's
  *    replace-all semantics;
  *  - `dayofweek` differs (Spark 1=Sun..7, DuckDB 0=Sun..6) → +1;
  *  - transcendental fns (log/pow/exp) can differ by 1 ulp between
  *    JVM and libm → only IEEE-exact math (sqrt, abs, %, ceil/floor);
  *  - DateType outputs are cast to string (both engines render
  *    ISO-8601) to dodge date-vs-timestamp dtype drift in the compare;
  *  - higher-order folds seed with 0.0 and run left-to-right in both
  *    engines, and elements are cast to double *before* arithmetic so
  *    no float-precision op ever diverges.
  */
object Functions {

  /** String function family over `part`. */
  val qStringFns = Q(
    (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%a%"))
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          substring(col("p_name"), 1, 8).as("name8"),
          length(col("p_name")).as("name_len"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowels"),
          translate(col("p_brand"), "#", "_").as("brand_t"),
          trim(lit("  padded  ")).as("trimmed"))
        .orderBy(col("p_partkey")),
    """SELECT p_partkey,
       UPPER(p_brand) AS brand_u, LOWER(p_type) AS type_l,
       SUBSTRING(p_name, 1, 8) AS name8, LENGTH(p_name) AS name_len,
       CONCAT_WS('-', p_brand, p_type) AS brand_type,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowels,
       TRANSLATE(p_brand, '#', '_') AS brand_t,
       TRIM('  padded  ') AS trimmed
       FROM part WHERE p_name LIKE '%a%'
       ORDER BY p_partkey""")

  /** Date/time extraction + truncation + arithmetic over `orders`. */
  val qDateFns = Q(
    (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).as("days_since_epoch_start"),
          date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus_30d"))
        .orderBy(col("o_orderkey")),
    """SELECT o_orderkey,
       YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
       QUARTER(o_orderdate) AS qtr, DAYOFMONTH(o_orderdate) AS dom,
       DATE_TRUNC('month', o_orderdate) AS month_start,
       CAST(DATE_DIFF('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since_epoch_start,
       CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus_30d
       FROM orders ORDER BY o_orderkey""")

  /** Time-of-day extraction over `events` (µs-true timestamps). */
  val qTimeFns = Q(
    (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          hour(col("ts")).as("hr"),
          minute(col("ts")).as("mi"),
          second(col("ts")).as("sec"),
          col("ts").cast("long").as("epoch_sec"))
        .orderBy(col("event_id")),
    """SELECT event_id, HOUR(ts) AS hr, MINUTE(ts) AS mi,
       CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS sec,
       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS epoch_sec
       FROM events ORDER BY event_id""")

  /** IEEE-exact math family over `lineitem`-derived measures. */
  val qMathFns = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_extendedprice") - lit(50000.0)).as("abs_dev"),
          ceil(col("l_quantity") / lit(2.0)).as("half_up"),
          floor(col("l_quantity") / lit(2.0)).as("half_down"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          (col("l_orderkey") % lit(7L)).as("mod7"),
          signum(col("l_discount") - lit(0.05)).as("disc_sign"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    """SELECT l_orderkey, l_linenumber,
       ABS(l_extendedprice - 50000.0) AS abs_dev,
       CAST(CEIL(l_quantity / 2.0) AS BIGINT) AS half_up,
       CAST(FLOOR(l_quantity / 2.0) AS BIGINT) AS half_down,
       SQRT(l_quantity) AS qty_sqrt,
       l_orderkey % 7 AS mod7,
       CASE WHEN l_discount - 0.05 > 0 THEN 1.0 WHEN l_discount - 0.05 < 0 THEN -1.0 ELSE 0.0 END AS disc_sign,
       GREATEST(l_tax, l_discount) AS max_rate,
       LEAST(l_tax, l_discount) AS min_rate
       FROM lineitem ORDER BY l_orderkey, l_linenumber""")

  /** CASE WHEN / COALESCE / NULLIF null-handling family. */
  val qCaseWhen = Q(
    (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") < 100000.0, "small")
            .when(col("o_totalprice") < 300000.0, "medium")
            .otherwise("large").as("size_band"),
          coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING")).as("status_or_pending"),
          (col("o_orderstatus") === "F").cast("int").as("is_finished"))
        .orderBy(col("o_orderkey")),
    """SELECT o_orderkey,
       CASE WHEN o_totalprice < 100000.0 THEN 'small'
            WHEN o_totalprice < 300000.0 THEN 'medium'
            ELSE 'large' END AS size_band,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_or_pending,
       CAST(o_orderstatus = 'F' AS INT) AS is_finished
       FROM orders ORDER BY o_orderkey""")

  /** Array functions over tokenized document text: split / size /
    * contains / element_at / slice / array_distinct. */
  val qArrayFns = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("tokens")).as("n_tokens"),
          array_contains(col("tokens"), "spark").as("has_spark"),
          element_at(col("tokens"), 1).as("first_token"),
          element_at(col("tokens"), -1).as("last_token"),
          size(array_distinct(col("tokens"))).as("n_distinct_tokens"))
        .orderBy(col("doc_id")),
    """SELECT doc_id,
       LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
       LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS has_spark,
       STRING_SPLIT(text, ' ')[1] AS first_token,
       STRING_SPLIT(text, ' ')[-1] AS last_token,
       LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct_tokens
       FROM documents ORDER BY doc_id""")

  /** explode generator: token stream from documents, re-aggregated to
    * a deterministic grain (top tokens overall). */
  val qExplodeTokens = Q(
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("token")),
    """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
       FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents) t
       GROUP BY token ORDER BY n DESC, token""")

  /** Higher-order functions over the embedding vector: transform +
    * aggregate (fold) compute the L2 norm² without any UDF — stays
    * inside codegen and is expressible in the oracle. Elements are
    * cast to double before multiplying so float rounding can't drift. */
  val qVectorNorm = Q(
    (s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          aggregate(
            transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0),
            (acc, x) => acc + x).as("norm_sq"),
          size(col("embedding")).as("dim"))
        .orderBy(col("vec_id")),
    """SELECT vec_id,
       LIST_REDUCE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (acc, x) -> acc + x) AS norm_sq,
       LEN(embedding) AS dim
       FROM embeddings ORDER BY vec_id""")

  /** JSON: from_json with an explicit schema over `events.props`,
    * then a typed aggregate on the extracted field. */
  val qJsonFns = Q(
    (s, d) =>
      Tables.events(s, d)
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType(
            Seq(org.apache.spark.sql.types.StructField("k", IntegerType))))
            .getField("k"))
        .filter(col("k") > 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type")),
    """SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
       FROM (SELECT event_type, CAST(props->>'$.k' AS INT) AS k FROM events) t
       WHERE k > 50
       GROUP BY event_type ORDER BY event_type""")

  /** Map functions: parse JSON into MapType, explode entries. Every
    * props row holds one key ('k'), so the exploded grain is 1:1;
    * explode_outer keeps a (null, null) row for null/malformed props,
    * matching the oracle's row-per-event shape. */
  val qMapExplode = Q(
    (s, d) =>
      Tables.events(s, d)
        .withColumn("m", from_json(col("props"), MapType(StringType, IntegerType)))
        .select(col("event_id"), explode_outer(col("m")).as(Seq("key", "value")))
        .orderBy(col("event_id"), col("key")),
    """SELECT event_id, 'k' AS key, CAST(props->>'$.k' AS INT) AS value
       FROM events ORDER BY event_id, key""")

  /** Null-semantics pin — the cross-engine drift zone an engine
    * switch actually breaks on: COUNT(*) vs COUNT(col) vs
    * COUNT(DISTINCT col) over nulls, aggregate null-skipping with
    * COALESCE imputation, null-safe equality, a NULL group key (one
    * group, not dropped), and explicit NULLS FIRST ordering (Spark
    * defaults nulls-first ASC, DuckDB nulls-LAST — unpinned, the same
    * query returns different row orders). Nulls are induced with
    * NULLIF so the synthetic no-null tables still exercise every path.
    * One text runs in both engines, so the SPELLING pin is gone:
    * `IS NOT DISTINCT FROM` parses to Spark's `EqualNullSafe`, the
    * same operator as `<=>`. The SEMANTIC pin stays: both engines
    * must count a null/null pair as equal and a null/value pair as
    * not equal. */
  val qNullSemantics = Q.sql(
    s"""SELECT NULLIF(l_returnflag, 'N') AS flag,
         COUNT(*) AS n_rows,
         COUNT(NULLIF(l_discount, 0.0)) AS n_disc_nonnull,
         CAST(COUNT(DISTINCT NULLIF(l_linestatus, 'F')) AS BIGINT) AS n_status,
         ${Num.sqlSum("COALESCE(NULLIF(l_discount, 0.0), 0.05)")} AS sum_imputed,
         CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0)
                            IS NOT DISTINCT FROM NULLIF(l_tax, 0.0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq
       FROM lineitem
       GROUP BY NULLIF(l_returnflag, 'N')
       ORDER BY flag ASC NULLS FIRST""")

  /** Spark-4 VARIANT surface: `parse_json` → `variant_get` typed
    * extraction over the events' semi-structured props column —
    * the open-schema alternative to a fixed `from_json` StructType
    * (q_json_fns): a VARIANT column keeps the full document,
    * binary-encoded, and pays shredding cost only for the paths a
    * query touches. The oracle replays extraction with DuckDB's JSON
    * path operators; the extracted values are integers, so the
    * aggregate is exact in both engines. */
  val qVariantExtract = Q(
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("var_events")
      // parse + path-extract ONCE per row in a projection below the
      // aggregate — two aggregate arguments each parsing the document
      // would double the per-row cost of exactly the step VARIANT
      // exists to pay once
      s.sql(
        """SELECT event_type,
             CAST(SUM(k) AS BIGINT) AS k_sum,
             CAST(MAX(k) AS BIGINT) AS k_max,
             COUNT(*) AS n
           FROM (SELECT event_type,
                   variant_get(parse_json(props), '$.k', 'long') AS k
                 FROM var_events)
           GROUP BY event_type
           ORDER BY event_type""")
    },
    """SELECT event_type,
         CAST(SUM(k) AS BIGINT) AS k_sum,
         CAST(MAX(k) AS BIGINT) AS k_max,
         COUNT(*) AS n
       FROM (SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             FROM events)
       GROUP BY event_type
       ORDER BY event_type""")

  val defs: Map[String, Q] = Map(
    "q_variant_extract" -> qVariantExtract,
    "q_null_semantics" -> qNullSemantics,
    "q_string_fns" -> qStringFns,
    "q_date_fns" -> qDateFns,
    "q_time_fns" -> qTimeFns,
    "q_math_fns" -> qMathFns,
    "q_case_when" -> qCaseWhen,
    "q_array_fns" -> qArrayFns,
    "q_explode_tokens" -> qExplodeTokens,
    "q_vector_norm" -> qVectorNorm,
    "q_json_fns" -> qJsonFns,
    "q_map_explode" -> qMapExplode)
}

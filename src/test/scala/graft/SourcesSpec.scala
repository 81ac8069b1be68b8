package graft

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.sources.Landing
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink parity with the reference's bronze surface (S1–S8):
  * HTTP acquisition → landed file → schema-enforced scan; catalog DDL
  * (the S6 CREATE TABLE analog); DataFrame ⇄ JSON exchange (the S8
  * XCom analog). All local — the HTTP test serves from an in-process
  * JDK HttpServer on localhost (zero egress). */
class SourcesSpec extends SparkSpec {

  test("S1-S4: http fetch lands bytes; schema-enforced scan reads them") {
    val payload = "a,b\n1,x\n2,y\n"
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data.csv", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val bytes = payload.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      withTempDir("landing") { tmp =>
        val dest = tmp.resolve("data.csv")
        Landing.httpFetch(s"http://127.0.0.1:$port/data.csv", dest)
        assert(Files.readAllBytes(dest).length === payload.length)
        val schema = StructType(Seq(
          StructField("a", IntegerType), StructField("b", StringType)))
        val df = Landing.readLanded(spark, dest, schema,
          options = Map("header" -> "true"))
        assert(df.count() === 2)
        assert(df.schema === schema)
      }
    } finally server.stop(0)
  }

  test("S1: fetch fails loudly on HTTP error status") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/missing", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(404, -1); ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      withTempDir("landing404") { tmp =>
        val dest = tmp.resolve("x")
        val e = intercept[IllegalArgumentException] {
          Landing.httpFetch(s"http://127.0.0.1:$port/missing", dest)
        }
        assert(e.getMessage.contains("404"))
      }
    } finally server.stop(0)
  }

  test("S6: catalog DDL — CREATE TABLE / INSERT / scan back / DROP") {
    withTempDir("graft_wh") { warehouse =>
      spark.sql("DROP TABLE IF EXISTS graft_ddl_demo")
      spark.sql(
        s"""CREATE TABLE graft_ddl_demo (segment STRING, sales DOUBLE, year INT)
            USING parquet LOCATION '${warehouse.resolve("graft_ddl_demo")}'""")
      spark.sql(
        """INSERT INTO graft_ddl_demo VALUES
           ('Government', 100.5, 2024), ('Midmarket', 50.25, 2024)""")
      val back = spark.table("graft_ddl_demo")
      assert(back.count() === 2)
      assert(back.schema.fieldNames.toSeq === Seq("segment", "sales", "year"))
      spark.sql("DROP TABLE graft_ddl_demo")
    }
  }

  test("S8: DataFrame ⇄ JSON exchange round-trips values") {
    val df = Tables.nation(spark, sfDir)
    val json = df.toJSON
    val back = spark.read.schema(Tables.nationSchema).json(json)
    assert(back.orderBy("n_nationkey").collect()
      .sameElements(df.orderBy("n_nationkey").collect()))
  }

  test("S7: JDBC sink executes for real — Derby round-trip, typed DDL, partitioned write") {
    // Embedded Derby ships with Spark's jars: a real RDBMS, zero egress.
    withTempDir("graft_derby") { tmp =>
      val db = tmp.resolve("db")
      val url = s"jdbc:derby:$db;create=true"
      val s = spark
      import s.implicits._
      val df = Seq(
        ("Government", "Canada", 1618.5, java.sql.Date.valueOf("2014-01-01"), 2014),
        ("Midmarket", "Germany", 888.0, java.sql.Date.valueOf("2014-06-01"), 2014),
        ("Enterprise", "France", 2178.0, java.sql.Date.valueOf("2014-12-01"), 2014))
        .toDF("segment", "country", "units_sold", "sale_date", "year")
        .repartition(2) // >1 partition → >1 JDBC connection, the real write path
      Landing.jdbcLoad(df, url, "raw_financial_sample",
        // explicit column DDL, mirroring the reference's CREATE TABLE
        // (segment/country TEXT → VARCHAR here; Derby has no TEXT type)
        columnTypes = Some("segment VARCHAR(64), country VARCHAR(64)"))
      val back = Landing.jdbcRead(spark, url, "raw_financial_sample")
      assert(back.count() === 3)
      assert(back.orderBy("segment").select("segment", "country", "units_sold", "sale_date", "year")
        .collect().toSeq ===
        df.orderBy("segment").select("segment", "country", "units_sold", "sale_date", "year")
          .collect().toSeq)
      // append mode is the reference's repeated-load behavior
      Landing.jdbcLoad(df.limit(1), url, "raw_financial_sample", mode = "append")
      assert(Landing.jdbcRead(spark, url, "raw_financial_sample").count() === 4)
    }
  }

  test("O1: withRetry re-runs a transiently failing action, then rethrows when exhausted") {
    // transient failure: first attempt throws, retry succeeds (the
    // reference's retries=1 semantics)
    var calls = 0
    val result = etl.Medallion.withRetry(retries = 1) {
      calls += 1
      if (calls == 1) sys.error("transient")
      calls
    }
    assert(result === 2 && calls === 2)
    // persistent failure: retries exhausted -> original error surfaces
    var attempts = 0
    val e = intercept[RuntimeException] {
      etl.Medallion.withRetry(retries = 2) { attempts += 1; sys.error("permanent") }
    }
    assert(e.getMessage === "permanent" && attempts === 3)
    // a retried medallion stage produces the same result as a direct run
    val direct = etl.Medallion.goldMart(etl.Medallion.silverFinancial(spark, sfDir))
    val retried = etl.Medallion.withRetry() {
      etl.Medallion.goldMart(etl.Medallion.silverFinancial(spark, sfDir))
    }
    assert(retried.collect().toSeq === direct.collect().toSeq)
  }

  test("T6 observability: observe() collects row/null metrics on the existing action") {
    val observed = etl.Clean.withRowMetrics(
      Tables.orders(spark, sfDir), "orders_load", nullCheckCols = Seq("o_orderpriority"))
    // the one and only action — no extra metrics pass. (collect, not
    // count: Dataset.count builds a derived aggregate plan, and the
    // metrics attach to the execution actually run)
    val n = observed.collect().length.toLong
    val metrics = observed.queryExecution.observedMetrics("orders_load")
    assert(metrics.getAs[Long]("n_rows") === n)
    assert(metrics.getAs[Long]("n_null_o_orderpriority") === 0L)
  }

  test("malformed records: PERMISSIVE captures them, FAILFAST raises, DROPMALFORMED drops") {
    withTempDir("badrows") { tmp =>
      val f = tmp.resolve("x.json")
      Files.writeString(f,
        """{"id": 1, "v": 10.5}
          |{"id": "not-a-number", "v": 2}
          |{"id": 3, "v": 7.25}
          |""".stripMargin)
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("v", DoubleType),
        StructField("_corrupt", StringType)))
      // PERMISSIVE (default): bad row lands with nulls + raw text in the
      // corrupt-record column — the audit trail a 100 TB ingest needs
      val permissive = spark.read.schema(schema)
        .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
        .json(f.toString).cache()
      assert(permissive.count() === 3)
      assert(permissive.filter(col("_corrupt").isNotNull).count() === 1)
      assert(permissive.filter(col("id").isNull).select("_corrupt")
        .head().getString(0).contains("not-a-number"))
      // DROPMALFORMED: only clean rows survive
      val dropped = spark.read.schema(StructType(schema.fields.dropRight(1)))
        .option("mode", "DROPMALFORMED").json(f.toString)
      assert(dropped.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
      // FAILFAST: ingest refuses to continue
      intercept[org.apache.spark.SparkException] {
        spark.read.schema(StructType(schema.fields.dropRight(1)))
          .option("mode", "FAILFAST").json(f.toString).collect()
      }
    }
  }

  test("schema evolution on read: mergeSchema unifies multi-vintage parquet") {
    val s = spark
    import s.implicits._
    withTempDir("vintages") { tmp =>
      val out = tmp.toString
      // vintage 1 lacks the column vintage 2 adds
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$out/p=1")
      Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.parquet(s"$out/p=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(out)
      assert(merged.columns.toSet === Set("id", "v", "score", "p"))
      val rows = merged.orderBy("id")
        .collect().map(r => (r.getLong(0), Option(r.get(2)))).toSeq
      assert(rows === Seq((1L, None), (2L, Some(9.5))))
    }
  }

  test("multi-format sinks: orc/csv/json land and read back with enforced schema") {
    withTempDir("fmt") { base =>
      val df = Tables.nation(spark, sfDir)
      Seq("orc", "csv", "json").foreach { fmt =>
        val out = base.resolve(fmt).toString
        Landing.writeLanded(df, out, format = fmt)
        val back = Landing.readLanded(spark, java.nio.file.Paths.get(out),
          Tables.nationSchema, format = fmt)
        assert(back.count() === df.count(), fmt)
        assert(back.schema === Tables.nationSchema, fmt)
        assert(back.orderBy("n_nationkey").select("n_name").collect().toSeq ===
          df.orderBy("n_nationkey").select("n_name").collect().toSeq, fmt)
      }
    }
  }

  test("compaction rewrites a small-files directory to sized files, same rows") {
    withTempDir("compact") { tmp =>
      val out = tmp.resolve("t").toString
      val df = Tables.lineitem(spark, sfDir)
      df.repartition(20).write.parquet(out) // simulate small-file accretion
      def parquetFiles = new java.io.File(out).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(parquetFiles === 20)
      val before = spark.read.parquet(out).count()
      val totalBytes = new java.io.File(out).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.length()).sum
      val n = Landing.compact(spark, out, targetFileBytes = totalBytes / 2 + 1)
      assert(n === 2 && parquetFiles === 2)
      assert(spark.read.parquet(out).count() === before)
    }
  }

  test("compaction refuses a partitioned layout instead of flattening it") {
    withTempDir("compact_part") { tmp =>
      val out = tmp.resolve("t").toString
      etl.Medallion.qGoldMart.fn(spark, sfDir)
        .write.mode("overwrite").partitionBy("year").parquet(out)
      val e = intercept[IllegalArgumentException] {
        Landing.compact(spark, out)
      }
      assert(e.getMessage.contains("leaf partition"), e.getMessage)
    }
  }

  test("S5/S7 shape: landed parquet write round-trips") {
    withTempDir("landed") { tmp =>
      val out = tmp.resolve("gold").toString
      val df = etl.Medallion.qGoldMart.fn(spark, sfDir)
      Landing.writeLanded(df, out)
      val back = spark.read.parquet(out)
      assert(back.count() === df.count())
    }
  }

  test("csv quoting edge: embedded comma + quote + newline survive the round-trip") {
    // the unit twin of q_csv_roundtrip's graded hazard: one value
    // carrying every CSV escaping hazard at once, written with the
    // default writer quoting and read back (multiLine for the
    // embedded newline), must come back byte-identical
    import org.apache.spark.sql.types._
    val nasty = "plain, then \"quoted\",\nsecond line, and a lone \" quote"
    withTempDir("csv_edge") { tmp =>
      val out = tmp.toString
      val df = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(1L, nasty),
          org.apache.spark.sql.Row(2L, "benign")),
        StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
      df.write.mode("overwrite").option("header", "true").csv(out)
      val back = spark.read
        .schema(StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
        .option("header", "true").option("multiLine", "true").csv(out)
        .orderBy("id").collect()
      assert(back.length === 2)
      assert(back(0).getString(1) === nasty)
      assert(back(1).getString(1) === "benign")
    }
  }
}

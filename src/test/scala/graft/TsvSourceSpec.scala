package graft

import java.nio.file.Files

import graft.sources.v2.TsvDataSource
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DataSource V2 connector exhibit (the S4 Excel-gap stand-in):
  * schema inference, parallel multi-file read, column pruning and
  * filter pushdown reaching the reader — asserted on the physical
  * plan's BatchScanExec, not just on result values. */
class TsvSourceSpec extends SparkSpec {

  /** `body` over a two-file typed-header table in a fresh temp dir. */
  private def withTable[T](body: String => T): T = withTempDir("graft_tsv") { d =>
    Files.writeString(d.resolve("part-0.tsv"),
      "id:long\tsegment:string\tsales:double\n" +
        "1\tGovernment\t100.5\n" +
        "2\tMidmarket\t\n" + // null sales
        "3\tEnterprise\t250.0\n")
    Files.writeString(d.resolve("part-1.tsv"),
      "id:long\tsegment:string\tsales:double\n" +
        "4\tGovernment\t70.25\n" +
        "5\t\t30.0\n") // null segment
    body(d.toString)
  }

  private def readTsv(dir: String) =
    spark.read.format(classOf[TsvDataSource].getName).load(dir)

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  test("write path round-trips: append to a fresh dir, then overwrite") {
    withTable { dir =>
      withTempDir("graft_tsv_w") { tmp =>
        val out = tmp.toString
        val fmt = classOf[TsvDataSource].getName
        // append to a fresh directory: the write builder adopts the query
        // schema (nothing to infer), each task stages a temp, driver
        // commit publishes the .tsv files
        readTsv(dir).write.format(fmt).mode("append").save(out)
        val back = spark.read.format(fmt).load(out)
        assert(back.schema === readTsv(dir).schema)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
        assert(rows(back) === rows(readTsv(dir)))
        assert(!Files.list(java.nio.file.Paths.get(out)).iterator().asScalaCompat
          .exists(_.toString.contains(".tmp")), "no temp files survive commit")
        // overwrite: TRUNCATE capability — old files dropped at commit
        readTsv(dir).filter(col("id") <= 2).write.format(fmt).mode("overwrite").save(out)
        assert(rows(spark.read.format(fmt).load(out)) ===
          rows(readTsv(dir).filter(col("id") <= 2)))
        // append on top must match the existing table schema
        readTsv(dir).filter(col("id") === 3).write.format(fmt).mode("append").save(out)
        assert(rows(spark.read.format(fmt).load(out)) ===
          rows(readTsv(dir).filter(col("id") <= 3)))
      }
    }
  }

  test("a failed write task leaves the directory untouched (abort path)") {
    withTable { dir =>
      withTempDir("graft_tsv_a") { tmp =>
        val out = tmp.toString
        val fmt = classOf[TsvDataSource].getName
        readTsv(dir).write.format(fmt).mode("append").save(out)
        val before = rowsOf(out)
        // a string cell carrying a tab is rejected mid-write → the task
        // aborts, the job aborts, and no temp or partial file remains
        val e = intercept[Exception] {
          readTsv(dir).withColumn("segment", concat(col("segment"), lit("\tx")))
            .write.format(fmt).mode("overwrite").save(out)
        }
        assert(e.getMessage != null)
        assert(rowsOf(out) === before, "aborted overwrite must not change the table")
        assert(!Files.list(java.nio.file.Paths.get(out)).iterator().asScalaCompat
          .exists(_.toString.contains(".tmp")), "aborted temps are deleted")
      }
    }
  }

  private def rowsOf(dir: String) =
    spark.read.format(classOf[TsvDataSource].getName).load(dir)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet

  private implicit class JIter[A](it: java.util.Iterator[A]) {
    def asScalaCompat: Iterator[A] = {
      import scala.jdk.CollectionConverters._
      it.asScala
    }
  }

  test("infers the typed-header schema and reads all files") {
    withTable { dir =>
      val df = readTsv(dir)
      assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ===
        Seq(("id", "bigint"), ("segment", "string"), ("sales", "double")))
      assert(df.count() === 5)
      assert(df.where(col("sales").isNull).select("id").as[Long](spark.implicits.newLongEncoder)
        .collect().toSeq === Seq(2L))
    }
  }

  test("column pruning reaches the scan (unread columns never parsed)") {
    withTable { dir =>
      val df = readTsv(dir).select("segment")
      assert(scanOf(df).output.map(_.name) === Seq("segment"))
      assert(df.distinct().count() === 4) // Government, Midmarket, Enterprise, null
    }
  }

  test("filter pushdown: =/>/IS NOT NULL evaluate in the reader, residual stays") {
    withTable { dir =>
      val df = readTsv(dir).where(col("sales") > 50.0 && col("segment") === "Government")
      val scan = scanOf(df)
      val desc = scan.scan.description()
      assert(desc.contains("GreaterThan(sales,50.0)"), desc)
      assert(desc.contains("EqualTo(segment,Government)"), desc)
      assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 4L))
      // unsupported predicate (endsWith) must stay residual and still work
      val residual = readTsv(dir).where(col("segment").endsWith("market"))
      assert(!scanOf(residual).scan.description().contains("StringEndsWith"))
      assert(residual.select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    }
  }

  test("one partition per file → parallel readers") {
    withTable { dir =>
      assert(readTsv(dir).rdd.getNumPartitions === 2)
    }
  }

  test("byte-range splits: a large file fans out and every line is read exactly once") {
    withTempDir("graft_tsv_split") { d =>
      // rows long enough that 256-byte splits land mid-line in many
      // places, including (by varying widths) near line boundaries
      val rows = (1 to 400).map(i => s"$i\t${"x" * (i % 37)}pad$i\t${i * 1.5}")
      Files.writeString(d.resolve("big.tsv"),
        "id:long\tname:string\tsales:double\n" + rows.mkString("\n") + "\n")
      val df = spark.read.format(classOf[TsvDataSource].getName)
        .option("split_bytes", "256").load(d.toString)
      assert(df.rdd.getNumPartitions > 1, "expected >1 InputPartition for one large file")
      assert(df.count() === 400)
      // no line lost or double-read at any boundary, and values survive
      assert(df.agg(sum(col("id"))).collect().head.getLong(0) === 400L * 401 / 2)
      // pushdown still composes with splits
      assert(df.where(col("id") <= 10).count() === 10)
      // unsplit read agrees completely
      val whole = spark.read.format(classOf[TsvDataSource].getName).load(d.toString)
      assert(df.orderBy("id").collect().toSeq === whole.orderBy("id").collect().toSeq)
    }
  }

  test("a malformed header cell is rejected with a clear message") {
    withTempDir("graft_tsv_badcell") { d =>
      Files.writeString(d.resolve("a.tsv"), "id:long\tname\n1\tx\n")
      val e = intercept[IllegalArgumentException] {
        spark.read.format(classOf[TsvDataSource].getName).load(d.toString)
      }
      assert(e.getMessage.contains("malformed header cell 'name'"), e.getMessage)
    }
  }

  test("pushed string LessThan survives compareTo's arbitrary return values") {
    withTable { dir =>
      // "Government".compareTo("I") == -2: with an in-band -2 null
      // sentinel in the comparator this row was silently dropped
      val df = readTsv(dir).where(col("segment") < "I")
      assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 4L))
    }
  }

  test("a ragged data row fails with file and line context") {
    withTempDir("graft_tsv_ragged") { d =>
      Files.writeString(d.resolve("a.tsv"), "id:long\tname:string\n1\tx\n2\n")
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format(classOf[TsvDataSource].getName).load(d.toString).collect()
      }
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("expected 2 cells, got 1"), msg)
    }
  }

  test("a file whose header disagrees with the table schema fails loudly at planning") {
    withTempDir("graft_tsv_bad") { d =>
      Files.writeString(d.resolve("a.tsv"), "id:long\tname:string\n1\tx\n")
      Files.writeString(d.resolve("b.tsv"), "id:long\tprice:double\n2\t3.5\n")
      // validation happens in planInputPartitions (driver side, before
      // any task launches), so the header message is the DIRECT failure,
      // not buried under a task-failure stack
      val e = intercept[Exception] {
        spark.read.format(classOf[TsvDataSource].getName).load(d.toString).collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("header"), msgs)
    }
  }

  test("unsupported column type in the header is rejected at inference") {
    withTempDir("graft_tsv_badtype") { d =>
      Files.writeString(d.resolve("a.tsv"), "id:uuid\n1\n")
      val e = intercept[IllegalArgumentException] {
        spark.read.format(classOf[TsvDataSource].getName).load(d.toString)
      }
      assert(e.getMessage.contains("unsupported type"))
    }
  }

  test("q_tsv_roundtrip: graded read-back pushes the filter and plans exact byte-range splits") {
    // the driver gate hashes the VALUES; this pin keeps the graded
    // path's CONNECTOR mechanics asserted — the acctbal filter must
    // reach the TsvScan (reader-side eval, not a post-scan Filter
    // doing all the work) and the scan must plan EXACTLY
    // Σ ceil(size/16k) byte-range partitions over the written files
    // (at sf0.001 that is one per file; at the sf0.1 bench the
    // supplier file crosses 16k and genuinely fans out)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = graft.sources.SourceQueries.qTsvRoundtrip.fn(spark, sfDir)
    // the aggregate plan is AQE-wrapped (AdaptiveSparkPlanExec is a
    // leaf to collect), so walk through the wrapper explicitly
    def findScan(p: SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case o => o.children.view.flatMap(findScan).headOption
    }
    val scan = findScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no BatchScanExec in the graded round-trip plan"))
    assert(scan.toString.contains("GreaterThan(s_acctbal"),
      s"filter not pushed to the TSV reader: $scan")
    val dest = graft.sources.SourceQueries.sinkDir("tsv", sfDir)
    val expected = Files.list(dest).iterator().asScalaCompat
      .filter(_.toString.endsWith(".tsv"))
      .map(f => math.max(1L, (Files.size(f) + 16383) / 16384)).sum
    assert(scan.inputRDD.getNumPartitions === expected.toInt,
      s"expected $expected byte-range splits, got ${scan.inputRDD.getNumPartitions}")
  }
}

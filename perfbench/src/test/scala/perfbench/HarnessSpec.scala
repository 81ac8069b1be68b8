package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness's pure parts. Run with `sbt test` from
  * the perfbench directory. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  import Stats._

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("seeded order is a deterministic permutation of the workload") {
    val qs = (1 to 30).map(i => s"q$i")
    for (seed <- Seq(0L, 1L, 7L, 123456789L); pass <- 0 to 5) {
      val o = order(qs, seed, pass)
      assert(o == order(qs, seed, pass))
      assert(o.sorted == qs.sorted)
    }
    // the order is pinned, so a change of shuffle algorithm shows
    assert(order(Seq("a", "b", "c", "d", "e"), 1L, 0) == Vector("b", "c", "a", "e", "d"))
    assert(order(qs, 1L, 0) != order(qs, 2L, 0))
    assert(order(qs, 1L, 0) != order(qs, 1L, 1))
  }

  test("the tail percentile always leaves at least ten samples beyond it") {
    for (n <- 20 to 2000) {
      val p = tailPercentile(n, 10).get
      assert(n * (100 - p) / 100.0 >= 10 - 1e-9, s"n=$n p=$p")
      assert(p == 99 || n * (100 - (p + 1)) / 100.0 < 10, s"n=$n p=$p is not the highest")
    }
    assert(tailPercentile(19, 10).isEmpty)
    assert(tailPercentile(48, 10).contains(79))
    assert(tailPercentile(100, 10).contains(90))
  }

  test("quantiles interpolate between closest ranks") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(quantile((1 to 11).map(_.toDouble), 0.9) == 10.0)
  }

  test("the digest ignores row order and column order but not values") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 1.5, Map("x" -> 1, "y" -> 2)), (2L, "b", -0.25, Map("z" -> 3)),
                 (3L, null, 7.0, Map.empty[String, Int]))
      .toDF("id", "name", "v", "m")
    val base = Digest.of(df)
    assert(base.rows == 3)
    assert(Digest.of(df.orderBy(col("id").desc)) == base)
    assert(Digest.of(df.repartition(3)) == base)
    assert(Digest.of(df.select("m", "v", "name", "id")) == base)
    assert(Digest.of(df.withColumn("v", when(col("id") === 2, 0.25).otherwise(col("v")))) != base)
    assert(Digest.of(df.withColumnRenamed("v", "w")) != base)
    assert(Digest.of(df.union(df.limit(1))) != base)
  }

  test("build, plan and exec spans account for each query's wall") {
    val spans = new Spans
    spans("q", "query") {
      spans("q", "build")(Thread.sleep(20))
      spans("q", "plan")(Thread.sleep(10))
      spans("q", "exec")(Thread.sleep(30))
    }
    val root = spans.all.find(_.name == "query").get
    assert(spans.all.count(_.parent == root.id) == 3)
    assert(coverage(root, spans.all.toSeq) > 0.95)
    // a gap the children do not cover lowers the coverage
    val gap = Span(0, -1, "q", "query", 0, 100)
    val kids = Seq(Span(1, 0, "q", "build", 0, 40), Span(2, 0, "q", "exec", 60, 100),
                   Span(3, 0, "q", "exec", 70, 90))
    assert(coverage(gap, gap +: kids) == 0.8)
  }
}

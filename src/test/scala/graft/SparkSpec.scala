package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** `body` over a fresh temp dir named `prefix…`, which is removed
    * afterwards whether `body` returns or throws, so a test run leaves
    * no trees behind. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally streaming.StreamQueries.rmRf(dir)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the warehouse lives as long as the shared session, so it goes
    // when the JVM exits
    val warehouse = Files.createTempDirectory("graft_warehouse")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => streaming.StreamQueries.rmRf(warehouse)))
    val s = SparkEntry.localSession("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

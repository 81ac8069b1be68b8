package graft.tools

/** One-off diagnostic: scan partition counts of the base tables at a
  * given SF — the r19 scan-parallelism investigation (single small
  * parquet files = single-task scan stages). */
object PartProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.schemas.keys.toSeq.sorted.foreach { t =>
      val df = graft.Tables.read(spark, sfDir, t)
      println(s"$t: ${df.rdd.getNumPartitions} partitions")
    }
    spark.stop()
  }
}

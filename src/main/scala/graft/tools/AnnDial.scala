package graft.tools

import org.apache.spark.sql.functions._

/** ANN dial sweep (dev tooling, r17 verdict #3): recall@3 / candidate
  * cost of the IVF probe join at a range of nprobe values, through
  * the EXACT graded kernels ([[graft.ops.VectorOps.ivfCentsOf]] /
  * `ivfIndexedOf` / `ivfProbeCandsOf` / `exactTopPairsOf`) — the
  * instrument used to choose the committed `ivfNprobe` after the
  * cell count became data-driven (k ≈ √N). Usage:
  *
  *   runMain graft.tools.AnnDial [sfDir] [p1,p2,...]
  *
  * The measured curves live in docs/SCALE.md; re-run after touching
  * the quantizer to re-justify the dial. */
object AnnDial {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probes: Seq[Int] =
      if (args.length > 1) args(1).split(",").toSeq.map(_.trim.toInt)
      else Seq(1, 2, 3, 4, 6, 8, 10, 12, 16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Quiet.muteKnownBenign()
    val strides: Seq[Option[Long]] =
      if (args.length > 2) args(2).split(",").toSeq.map(s => Some(s.trim.toLong))
      else Seq(None)
    val raw = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = graft.ops.VectorOps.normedOf(raw).persist()
    val exact = graft.ops.VectorOps.exactTopPairsOf(n, 3).persist()
    val total = n.count()
    val nBrute = 20L * (total - 1L)
    strides.foreach { st =>
      val cents = graft.ops.VectorOps.ivfCentsOf(n, st).persist()
      val indexed = graft.ops.VectorOps.ivfIndexedOf(n, cents).persist()
      println(s"corpus $total vectors, stride ${st.getOrElse("sqrt(N)")}: " +
        s"${cents.count()} trained cells ($sfDir)")
      probes.foreach { p =>
        val c = graft.ops.VectorOps.ivfProbeCandsOf(indexed, cents, p).persist()
        val cost = c.count() * 1000L / nBrute
        val rec = c.join(exact, Seq("query_id", "neighbor_id")).count() * 1000L / 60L
        c.unpersist()
        println(f"  nprobe=$p%-3d recall@3 $rec%4d permille  cost $cost%4d permille")
      }
      cents.unpersist(); indexed.unpersist()
    }
    spark.stop()
  }
}

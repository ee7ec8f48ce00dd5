package graft

import org.apache.spark.sql.SparkSession

/** r4/r5-style drift adjudication runner: time the named queries N times
  * back-to-back in a Bench-identical session (local[32], 32 shuffle
  * partitions, AQE, warm-up scans first) and print every timing plus
  * /proc/loadavg, so an apparent idle-to-idle drift can be attributed to
  * machine noise (unstable series) or data shift (stable series at the
  * new level, unchanged code/plan). Usage:
  *   sbt 'Test/runMain graft.DriftTwin q_a,q_b [iters]'
  */
object DriftTwin {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q_minhash_band_pairs", "q_median"))
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(6)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables(spark, sfDir, "lineitem").count()
    Tables(spark, sfDir, "documents").count()
    def load(): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0)
    names.foreach { name =>
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[twin] $name%-24s load=${load()} " +
        ts.map(t => f"$t%5.2f").mkString(" ") +
        f"  min=${ts.min}%5.2f median=${ts.sorted.apply(iters / 2)}%5.2f")
    }
    spark.stop()
  }
}

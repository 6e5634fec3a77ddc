package graft.tools

import org.apache.spark.sql.SparkSession

/** Times individual SparkEntry queries at a given sf dir (steady-state:
  * one warmup pass then best of 3). The master is `local[$SPARK_GRAFT_CPUS]`
  * with as many shuffle partitions (default 4), as in `graft.Verify`. Usage:
  *   sbt "Test/runMain graft.tools.QueryProbe <sfDir> <query>[,<query>...]"
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = (if (args.length > 1) args(1) else "q_embed_near_dup").split(",")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("query-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).collect() // warmup: codegen + first planning
      val times = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(200)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).collect().length
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"QPROBE $name rows=${times.head._1} " +
        f"best=${times.map(_._2).min}%.3fs all=${times.map(t => f"${t._2}%.3f").mkString(",")}")
    } finally spark.stop()
  }
}

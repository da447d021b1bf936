package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of selected queries so
  * pushdown / broadcast / codegen coverage can be inspected
  * (`sbt "runMain graft.Explain [queryName ...]"`).
  *
  * Session config mirrors Bench (same master/core-count envs, same
  * autoBroadcastJoinThreshold/AQE settings) so the dumped plans are the
  * plans the bench actually runs — a local[4]/10MB-threshold session used
  * to flip broadcast decisions relative to the benched configuration.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.quietRddLogs()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

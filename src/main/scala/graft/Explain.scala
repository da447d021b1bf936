package graft

/** Plan auditor: prints the formatted physical plan of selected queries so
  * pushdown / broadcast / codegen coverage can be inspected
  * (`sbt "runMain graft.Explain [queryName ...]"`). It runs on the harness
  * session, so the dumped plans are the plans the bench actually runs.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    Harness.quietRddLogs()
    new java.io.File(outDir).mkdirs()
    val catalog = SparkEntry.queries
    Harness.eachQuery(spark, catalog.keys) { name =>
      catalog(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Harness.json(SparkEntry.oracleSql))
    // Error-band verdicts for the rows-only (no-oracle) queries: the
    // sketch/MLlib estimates are checked in-engine against exact twins
    // under their documented bounds (BandChecks scaladoc), so the artifact
    // carries band_ok booleans instead of bare no_oracle nulls.
    val bands = BandChecks.run(spark, sfDir, Harness.only, dumpDir = Some(outDir))
    Files.writeString(Paths.get(s"$outDir/band_checks.json"),
      BandChecks.toJson(bands))
    bands.foreach(b => println(BandChecks.line(b)))
    spark.stop()
  }
}

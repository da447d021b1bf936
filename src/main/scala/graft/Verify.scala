package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      // same suite hygiene as Bench: ~100 queries share this JVM
      .config("spark.cleaner.periodicGC.interval", "30s")
      // honor write-time sortBy on bucketed scans (see Bench/BucketingSpec)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.quietRddLogs()
    new java.io.File(outDir).mkdirs()
    // Local iteration aid (mirrors Bench): SPARK_GRAFT_ONLY=q1,q2 restricts
    // the dump to a subset. Unset for the driver, which needs all queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    var sinceGc = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Bench.failure(e)}")
      }
      // suite hygiene (mirrors Bench): deterministically unpersist every
      // block the finished query left behind (safe: frames are query-scoped)
      graft.operators.Settle.sweep(spark)
      sinceGc += 1
      if (sinceGc >= 8) { System.gc(); sinceGc = 0 }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Error-band verdicts for the rows-only (no-oracle) queries: the
    // sketch/MLlib estimates are checked in-engine against exact twins
    // under their documented bounds (BandChecks scaladoc), so the artifact
    // carries band_ok booleans instead of bare no_oracle nulls.
    val bands = BandChecks.run(spark, sfDir, only, dumpDir = Some(outDir))
    Files.writeString(Paths.get(s"$outDir/band_checks.json"),
      BandChecks.toJson(bands))
    bands.foreach(b => println(s"[band] ${b.query}: " +
      s"${if (b.ok) "ok" else "FAIL"} — ${b.detail}"))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing demo for the co-located join strategy (SURVEY §1.3 / scale
  * stance): fact and dim bucketed by the join key join WITHOUT a shuffle
  * exchange — the layout a 100 TB deployment pre-pays once at write time
  * and amortizes across every subsequent join on that key.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("bucketed tables join without an exchange on the bucketed key") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString

    // no shuffle before the join: the only Exchange allowed is none at all
    // (the groupBy reuses the join key partitioning too)
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"unexpected shuffle on the bucketed key:\n$plan")

    // same join unbucketed DOES shuffle both sides
    val unbucketed = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
    unbucketed.collect()
    assert(unbucketed.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))

    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
  }

  test("q_bucketed_join plans ZERO exchanges and ZERO sorts end to end") {
    val sf = "/root/testdata/sf0.001"
    Seq("graft_li_bucketed", "graft_ord_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a stale location from a prior JVM blocks managed-table creation even
      // after DROP (the in-memory catalog forgot the table, the dir remains)
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }
    // disable broadcast: at 100 TB neither side fits, so the pin must be the
    // big-data shape — SMJ over co-bucketed scans, not a small-sf BHJ
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedOrdering = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // honor the write-time sortBy: safe because writeBucketed writes each
    // bucket as ONE file from one job (the case the default guards against
    // is multi-job appends); the harness session sets the same flag
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val q = SparkEntry.queries("q_bucketed_join")(spark, sf)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      // The whole declared query — SMJ on the bucket key, aggregate whose
      // leading grouping key is the bucket key, global top-k — runs without
      // a single shuffle, and the write-time sortBy also removes both
      // join-side sorts. TakeOrderedAndProject limits without an exchange.
      assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
      assert(!plan.contains("Sort "), s"unexpected sort:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", savedOrdering)
    }
  }
}

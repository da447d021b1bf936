package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every suite runs the optimizer the engine ships with: the shared test
  * session is the harness session, whichever suite touches it first.
  */
class HarnessSpec extends AnyFunSuite with SparkTestBase {

  test("the shared test session carries the harness conf") {
    assert(spark eq Harness.session(4))
    val cos = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "64m")
    assert(spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
  }
}

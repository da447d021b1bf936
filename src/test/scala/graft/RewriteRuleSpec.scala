package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The disjunctive-semi-join rewrite and the SQL functions GraftExtensions
  * injects, on the shared harness session.
  */
class RewriteRuleSpec extends AnyFunSuite with SparkTestBase {

  test("OR-of-equi semi join plans as equi joins, not BroadcastNestedLoopJoin") {
    import spark.implicits._
    val rel = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("a", "c"))
      .toDF("source", "target")
    val names = Seq("a", "d").toDF("name")
    val naive = rel.join(names,
      rel("source") === names("name") || rel("target") === names("name"),
      "left_semi")
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // semantics preserved: rows touching a or d from either side, duplicates kept
    val got = naive.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == Seq(("a", "b"), ("a", "c"), ("a", "c"), ("c", "d")))
  }

  test("non-equi disjuncts are left untouched") {
    import spark.implicits._
    val l = Seq((2, 0), (5, 99), (7, 1)).toDF("x", "y")
    val r = Seq((2, 9)).toDF("u", "v")
    val j = l.join(r, l("x") === r("u") || l("y") > r("v"), "left_semi")
    // still correct (whatever join strategy Spark picks):
    // (2,0) matches x=u, (5,99) matches y>v, (7,1) matches neither
    assert(j.collect().map(_.getInt(0)).toSeq.sorted == Seq(2, 5))
  }

  test("cosine_sim SQL function is injected by the extension") {
    val out = spark.sql(
      "SELECT cosine_sim(array(CAST(3.0 AS FLOAT)), array(CAST(7.0 AS FLOAT)))")
      .head().getDouble(0)
    assert(math.abs(out - 1.0) < 1e-12)
  }
}

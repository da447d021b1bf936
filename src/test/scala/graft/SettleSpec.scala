package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.LoggerContext
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Settle

/** The one round loop's lifecycle rule, and that the library object
  * leaves logging alone (only the harness mains quiet `org.apache.spark.rdd`).
  */
class SettleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("touching Settle leaves the org.apache.spark.rdd log level as it was") {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    def rddLevel = ctx.getConfiguration.getLoggerConfig("org.apache.spark.rdd").getLevel
    spark // the session's own log setup runs before the level is read
    val before = rddLevel
    Settle.unpersistSettled(Seq(1L, 2L).toDF("x"))
    assert(rddLevel == before)
    // no package-level logger config exists at all: the check holds even
    // when another suite touched Settle first in this JVM
    assert(!ctx.getConfiguration.getLoggers.containsKey("org.apache.spark.rdd"))
  }

  test("fixpoint drops each settled round once the next settles, never an unowned seed") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{least, lit}
    def persisted(df: DataFrame): Boolean = Settle.rddsOf(df)
      .forall(r => spark.sparkContext.getPersistentRDDs.contains(r.id))
    val capAt3 = (cur: DataFrame, _: Long) => cur.select(least($"n", lit(3L)).as("n")).distinct()
    // unowned seed, stop test: round 1 shrinks 8 rows to 3, round 2
    // confirms the count and stops
    val callers = (1L to 8L).toDF("n").localCheckpoint(true)
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val fp = Settle.fixpoint(callers, 8L, maxRounds = 10, stop = Some(Settle.unchanged),
      seedOwned = false) { (cur, m) => seen += cur; capAt3(cur, m) }
    assert(fp.converged && fp.roundsUsed == 2)
    assert(fp.result.as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(persisted(callers) && callers.count() == 8, "an unowned seed must stay readable")
    assert(!persisted(seen(1)), "round 1's frame is dead once round 2 settles")
    assert(persisted(fp.result))
    // owned seed, no stop test: exactly maxRounds rounds, the seed dropped
    val owned = (1L to 8L).toDF("n").localCheckpoint(true)
    val fixed = Settle.fixpoint(owned, 8L, maxRounds = 4)(capAt3)
    assert(fixed.roundsUsed == 4 && !fixed.converged)
    assert(!persisted(owned) && persisted(fixed.result))
  }
}

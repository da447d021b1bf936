package perfbench

import org.apache.spark.sql.Row

import graft.store.{Entity, Relation}

/** Checks of the driver's own logic that need no Spark session: the serve
  * generator is a function of the seed, the store model rejects corrupted
  * answers, the analytics hash sees a changed row, and JSON output escapes
  * and formats locale-independently. Prints "selftest ok" or fails.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val a = ServeData.generate(7, 300, 50)
    check(a == ServeData.generate(7, 300, 50), "serve generator must be deterministic per seed")
    check(a != ServeData.generate(8, 300, 50), "serve generator must depend on the seed")

    val m = new StoreModel(a)
    val hit = a.hitQueries.find(q => m.search(q, 10).nonEmpty).get
    val names = m.search(hit, 10)
    val good = (names.map(n => m.entity(n).get), m.edgesTouching(names.toSet))
    val e0 = good._1.head
    val corrupt = Seq(
      "dropped hit" -> good.copy(_1 = good._1.tail),
      "wrong type" -> good.copy(_1 = e0.copy(entityType = e0.entityType + "X") +: good._1.tail),
      "lost observation" -> good.copy(_1 = e0.copy(observations = e0.observations.tail) +: good._1.tail),
      "extra relation" -> good.copy(_2 = good._2 :+ Relation(e0.name, e0.name, "bogus")),
      "reordered hits" -> good.copy(_1 = good._1.reverse))
    check(ServeCheck.graph(m, names)(good).isEmpty, "a correct search answer must pass")
    corrupt.foreach { case (what, bad) =>
      check(what == "reordered hits" && names.size < 2 || ServeCheck.graph(m, names)(bad).nonEmpty,
        s"the checker must flag a $what")
    }
    check(m.like("Customer#000000012", "customer#0000000"), "LIKE prefix match")
    check(m.like("order 5 1-URGENT status F", "order urgent"), "LIKE tokens in order")
    check(!m.like("order 5 1-URGENT", "urgent order"), "LIKE tokens out of order")

    m.createEntities(Seq(Entity("Agent#1", "X", Seq("b", "a"))))
    check(m.recent(1) == Seq("Agent#1"), "newest entity ranks first by recency")
    m.deleteEntity("Agent#1")
    check(m.entity("Agent#1").isEmpty && m.deleted("Agent#1"), "delete removes the entity")

    val wl = new ServeWorkload(null, 7, a)
    val block = wl.blockOrder()
    check(block.size == 10 && block.count(wl.WriteKinds.contains) == 4 && block.toSet == wl.Kinds.toSet,
      "a serve block is four writes in ten and has every call kind")

    val rows = Array(Row(1, "a"), Row(2, "b"))
    check(Analytics.hash(rows) == Analytics.hash(rows.clone()), "hash is a function of the rows")
    check(Analytics.hash(rows) != Analytics.hash(Array(Row(1, "a"), Row(2, "c"))), "hash sees a changed value")
    check(Analytics.hash(rows) != Analytics.hash(rows.reverse), "hash sees a changed order")

    check(Json.str("a\"b\\c\n\u0001 ") == "\"a\\\"b\\\\c\\n\\u0001\\u2028\"", "JSON escaping")
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try check(Json.num(0.5) == "0.5" && Json.num(2.0) == "2", "JSON numbers ignore the default locale")
    finally java.util.Locale.setDefault(prev)
    println("selftest ok")
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }
}

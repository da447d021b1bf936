package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Unit coverage of the read operators against inline graphs — exercises the
  * relevance branches and the R8 exactly-once union that the oracle queries
  * can't isolate.
  */
class GraphOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val entities: DataFrame = Seq(
    ("Alice", "person", ts("2024-01-03 00:00:00")),
    ("Bob", "person", ts("2024-01-02 00:00:00")),
    ("Acme Corp", "company", ts("2024-01-01 00:00:00"))
  ).toDF("name", "entity_type", "created_at")

  private val observations: DataFrame = Seq(
    (1L, "Alice", "software engineer", ts("2024-01-03 00:00:00")),
    (2L, "Bob", "product manager", ts("2024-01-02 00:00:00")),
    (3L, "Acme Corp", "tech startup", ts("2024-01-01 00:00:00"))
  ).toDF("id", "entity_name", "content", "created_at")

  private val relations: DataFrame = Seq(
    (1L, "Alice", "Bob", "works_with", ts("2024-01-03 00:00:00")),
    (2L, "Acme Corp", "Alice", "employs", ts("2024-01-03 00:00:00")),
    (3L, "Alice", "Bob", "works_with", ts("2024-01-04 00:00:00")) // parallel edge
  ).toDF("id", "source", "target", "relation_type", "created_at")

  test("R4: relevance 3 for name hit, 2 for type hit, 1 for observation-only hit") {
    def score(q: String, name: String): Int =
      GraphOps.searchEntities(entities, observations, q, 50)
        .filter($"name" === name).select("relevance_score").head().getInt(0)
    assert(score("alice", "Alice") == 3)           // name, case-insensitive
    assert(score("company", "Acme Corp") == 2)     // type
    assert(score("product manager", "Bob") == 1)   // observation only
  }

  test("R4: fuzzy pattern spans gaps (client.ts:217)") {
    val hits = GraphOps.searchEntities(entities, observations, "software-engineer", 50)
    assert(hits.select("name").as[String].collect().contains("Alice"))
  }

  test("R4: one row per entity even with multiple matching observations") {
    val obs2 = observations.union(Seq(
      (9L, "Alice", "software architect", ts("2024-01-05 00:00:00"))
    ).toDF("id", "entity_name", "content", "created_at"))
    val hits = GraphOps.searchEntities(entities, obs2, "software", 50)
    assert(hits.filter($"name" === "Alice").count() == 1)
  }

  test("R7: recency order with limit") {
    val top2 = GraphOps.recentEntities(entities, 2).select("name").as[String].collect()
    assert(top2.toSeq == Seq("Alice", "Bob"))
  }

  test("R8: edge matching both sides appears exactly once; parallel edges kept") {
    val names = Seq("Alice", "Bob").toDF("name")
    val edges = GraphOps.relationsForEntities(relations, names).collect()
    // works_with matches source AND target → once each for the two parallel rows
    assert(edges.count(r => r.getString(0) == "Alice" && r.getString(1) == "Bob") == 2)
    // employs matches target only → once
    assert(edges.count(r => r.getString(0) == "Acme Corp") == 1)
    assert(edges.length == 3)
  }

  test("R10: empty search query rejected (client.ts:448-454)") {
    intercept[IllegalArgumentException] {
      GraphOps.searchNodeEdges(entities, observations, relations, "  ", 10)
    }
  }

  test("R6: hydrate aggregates sorted observation arrays, empty for no obs") {
    val hits = Seq(("Alice", "person"), ("Nobody", "ghost")).toDF("name", "entity_type")
    val out = GraphOps.hydrate(hits, observations)
      .orderBy("name").collect()
    assert(out(0).getString(0) == "Alice" &&
      out(0).getSeq[String](2) == Seq("software engineer"))
    assert(out(1).getString(0) == "Nobody" && out(1).getSeq[String](2).isEmpty)
  }

  test("property: search invariants over generated graphs (SURVEY §5.2)") {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "omega", "zeta")
    def word() = words(rnd.nextInt(words.size))
    val ents = (0 until 60).map(i =>
      (s"node-${word()}-$i", word(), ts(f"2024-01-${1 + rnd.nextInt(28)}%02d 00:00:00")))
      .toDF("name", "entity_type", "created_at")
    val obs = (0 until 200).map(i =>
      (i.toLong, s"node-${word()}-${rnd.nextInt(60)}", s"${word()} ${word()} content", ts("2024-01-01 00:00:00")))
      .toDF("id", "entity_name", "content", "created_at")

    for (q <- Seq("alpha", "beta gamma", "ZETA", "nope-nothing"); limit <- Seq(3, 10, 999)) {
      val hits = GraphOps.searchEntities(ents, obs, q, limit).collect()
      // ≤ clamped limit
      assert(hits.length <= math.min(math.max(limit, 1), 50))
      // relevance ∈ {1,2,3}; every hit matches at least one predicate
      val pat = graft.functions.TextFns.likePattern(q).toLowerCase.replace("%", ".*")
      hits.foreach { r =>
        val (name, tpe, rel) = (r.getString(0), r.getString(1), r.getInt(3))
        assert(rel >= 1 && rel <= 3)
        val nameHit = name.toLowerCase.matches(pat)
        val typeHit = tpe.toLowerCase.matches(pat)
        if (rel == 3) assert(nameHit)
        else if (rel == 2) assert(!nameHit && typeHit)
        else {
          assert(!nameHit && !typeHit)
          // observation-only hit: some observation of this entity matches
          val obsHit = obs.filter($"entity_name" === name)
            .collect().exists(_.getString(2).toLowerCase.matches(pat))
          assert(obsHit)
        }
      }
      // unique names, ordered by (relevance desc, created_at desc, name asc)
      assert(hits.map(_.getString(0)).distinct.length == hits.length)
      val keys = hits.map(r => (-r.getInt(3), -r.getTimestamp(2).getTime, r.getString(0)))
      assert(keys.sameElements(keys.sortBy(identity)))
    }
  }
}

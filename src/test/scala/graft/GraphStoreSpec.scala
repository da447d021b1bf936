package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps
import graft.store.{Entity, GraphStore, Relation}

/** Port of the reference's behavioral test matrix
  * (/root/reference/src/db/client.test.ts) against the parquet-backed store.
  * Each test gets a throwaway store dir, mirroring the reference's throwaway
  * SQLite file per test (client.test.ts:11-29).
  */
class GraphStoreSpec extends AnyFunSuite with SparkTestBase {

  private def freshStore(): GraphStore = {
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir)
    st.initialize()
    st
  }

  // canonical fixture (client.test.ts:157-176)
  private def seed(st: GraphStore): Unit =
    st.createEntities(Seq(
      Entity("Alice", "person", Seq("software engineer")),
      Entity("Bob", "person", Seq("product manager")),
      Entity("Acme Corp", "company", Seq("tech startup"))))

  test("create entities and read back (client.test.ts:31-64)") {
    val st = freshStore()
    seed(st)
    val e = st.getEntity("Alice")
    assert(e == Entity("Alice", "person", Seq("software engineer")))
  }

  test("upsert replaces entity_type and observations (client.test.ts:45-64)") {
    val st = freshStore()
    seed(st)
    st.createEntities(Seq(Entity("Alice", "human", Seq("rock climber", "engineer"))))
    val e = st.getEntity("Alice")
    assert(e.entityType == "human")
    assert(e.observations.sorted == Seq("engineer", "rock climber"))
    // others untouched
    assert(st.getEntity("Bob").observations == Seq("product manager"))
  }

  test("rejects empty name / empty observations / >100 observations (client.test.ts:66-104)") {
    val st = freshStore()
    intercept[IllegalArgumentException] {
      st.createEntities(Seq(Entity("", "t", Seq("x"))))
    }
    intercept[IllegalArgumentException] {
      st.createEntities(Seq(Entity("E", "t", Nil)))
    }
    intercept[IllegalArgumentException] {
      st.createEntities(Seq(Entity("E", "t", (1 to 101).map(i => s"o$i"))))
    }
  }

  test("sanitizes control chars on write (client.test.ts:106-128)") {
    val st = freshStore()
    st.createEntities(Seq(Entity("test\u0000name", "t", Seq("hello\u0000world"))))
    val e = st.getEntity("testname")
    assert(e.observations == Seq("helloworld"))
  }

  test("truncates name to 256 and observation to 4096 (client.test.ts:130-154)") {
    val st = freshStore()
    st.createEntities(Seq(Entity("a" * 300, "t", Seq("x" * 5000))))
    val e = st.getEntity("a" * 256)
    assert(e.observations.head.length == 4096)
  }

  test("search matches by name, type, and observation (client.test.ts:157-201)") {
    val st = freshStore()
    seed(st)
    val (byName, _) = st.searchNodes("Alice")
    assert(byName.map(_.name) == Seq("Alice"))
    val (byType, _) = st.searchNodes("company")
    assert(byType.map(_.name) == Seq("Acme Corp"))
    val (byObs, _) = st.searchNodes("product manager")
    assert(byObs.map(_.name) == Seq("Bob"))
    val (none, noneRel) = st.searchNodes("zzz-no-match")
    assert(none.isEmpty && noneRel.isEmpty)
  }

  test("search rejects empty query; respects limit (client.test.ts:202-212)") {
    val st = freshStore()
    seed(st)
    intercept[IllegalArgumentException] { st.searchNodes("   ") }
    st.createEntities((1 to 20).map(i => Entity(s"person$i", "person", Seq(s"obs $i"))))
    val (hits, _) = st.searchNodes("person", limit = 5)
    assert(hits.size == 5)
  }

  test("search rejects queries over 512 chars (index.ts:40 valibot cap)") {
    val st = freshStore()
    seed(st)
    assert(st.searchNodes("a" * 512)._1.isEmpty) // at the cap: accepted
    intercept[IllegalArgumentException] { st.searchNodes("a" * 513) }
    intercept[IllegalArgumentException] {
      graft.operators.GraphOps.searchNodeEdges(
        st.entities, st.observations, st.relations, "a" * 513)
    }
  }

  test("time travel: old versions stay readable until vacuumed") {
    val st = freshStore()
    st.createEntities(Seq(Entity("A", "t1", Seq("o1"))))
    st.createEntities(Seq(Entity("A", "t2", Seq("o2")))) // upsert → new version
    val vs = st.tableVersions("entities")
    assert(vs.size >= 3) // bootstrap + two writes
    val before = st.readTableVersion("entities", vs(vs.size - 2))
      .select("entity_type").collect().map(_.getString(0)).toSeq
    assert(before == Seq("t1")) // pre-upsert snapshot
    assert(st.entities.select("entity_type").collect().map(_.getString(0)).toSeq == Seq("t2"))
    st.vacuum(keepVersions = 1)
    intercept[IllegalArgumentException] {
      st.readTableVersion("entities", vs.head)
    }
    intercept[IllegalArgumentException] { st.tableVersions("nope") }
  }

  test("diffVersions: snapshot diff reports added/removed/changed keys") {
    val st = freshStore()
    st.createEntities(Seq(
      Entity("A", "t1", Seq("o1")), Entity("B", "t1", Seq("o1")),
      Entity("C", "t1", Seq("o1"))))
    val v1 = st.tableVersions("entities").last
    st.createEntities(Seq(Entity("A", "t2", Seq("o2")))) // change A
    st.createEntities(Seq(Entity("D", "t1", Seq("o1")))) // add D
    st.deleteEntity("C")                                 // remove C
    val v2 = st.tableVersions("entities").last
    val diff = st.diffVersions("entities", v1, v2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diff == Map("A" -> "changed", "C" -> "removed", "D" -> "added"))
    // self-diff is empty; unknown table rejected
    assert(st.diffVersions("entities", v2, v2).isEmpty)
    intercept[IllegalArgumentException] { st.diffVersions("nope", v1, v2) }
    // self-diff prunes EVERYTHING before reading a file (identical
    // versions ⇒ empty dir lists on both sides)
    val (selfOld, selfNew) = st.changedBucketDirs("entities", v2, v2)
    assert(selfOld.isEmpty && selfNew.isEmpty)
  }

  test("diffVersions reads only CHANGED buckets; unchanged rows survive a split address change") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 64)
    st.initialize()
    st.upsertEntitiesDf(
      (1 to 300).map(i => (s"e#$i", "t", Seq(s"o$i")))
        .toDF("name", "entity_type", "observations"))
    val v1 = st.tableVersions("entities").last
    st.createEntities(Seq(Entity("e#7", "t2", Seq("updated")))) // one bucket
    val v2 = st.tableVersions("entities").last
    val (oldDirs, newDirs) = st.changedBucketDirs("entities", v1, v2)
    // a 1-entity mutation diffs by reading 1 bucket per side, not 64
    assert(oldDirs.size == 1 && newDirs.size == 1,
      s"expected 1 changed bucket per side, got ${oldDirs.size}/${newDirs.size}")
    assert(st.diffVersions("entities", v1, v2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq("e#7" -> "changed"))
    // split a bucket BETWEEN diffed versions: addresses change, so parent
    // and children enter the changed set — but unchanged rows must still
    // match across the address change and report no diff
    val parent = st.liveBuckets("entities").find(_.gen == 0).get
    st.splitBucket("entities", parent)
    val v3 = st.tableVersions("entities").last
    val diff23 = st.diffVersions("entities", v2, v3).collect()
    assert(diff23.isEmpty,
      s"a pure split changes no rows, got ${diff23.toSeq}")
  }

  test("diffVersions: relations default keys resolve against the stored schema") {
    // the relations table's columns are (source, target, relation_type) —
    // the default key set must reference those, not GraphOps' renamed
    // output columns (this path was latent-crashing before round 5)
    val st = freshStore()
    st.createEntities(Seq(
      Entity("A", "t", Seq("o")), Entity("B", "t", Seq("o")),
      Entity("C", "t", Seq("o"))))
    st.createRelations(Seq(Relation("A", "B", "likes")))
    val v1 = st.tableVersions("relations").last
    st.createRelations(Seq(Relation("A", "C", "likes")))
    val v2 = st.tableVersions("relations").last
    val diff = st.diffVersions("relations", v1, v2)
      .select("source", "target", "change")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(diff == Set(("A", "C", "added")))
  }

  test("manifest tracks id high-water mark: no O(table) max-id scan per write") {
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir)
    st.initialize()
    st.createEntities(Seq(Entity("A", "t", Seq("o1", "o2"))))
    val manifest1 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MANIFEST")))
    assert(manifest1.contains("maxid.observations="))
    st.createRelations(Seq(Relation("A", "A", "self")))
    st.createEntities(Seq(Entity("B", "t", Seq("o3"))))
    val manifest2 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MANIFEST")))
    assert(manifest2.contains("maxid.relations="))
    // ids stay globally unique across writes driven by the manifest mark
    val ids = st.observations.select("id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length && ids.length == 3)
    // the persisted mark is a correct upper bound of the live ids
    val mark = manifest2.linesIterator
      .find(_.startsWith("maxid.observations=")).get.split("=")(1).toLong
    assert(ids.forall(_ <= mark))
  }

  test("createEntities assigns dense observation ids base+1 … base+n in batch order, whatever the batch's partition count") {
    val batch = (1 to 50).map(i => Entity(f"d$i%02d", "t", Seq(s"first $i", s"second $i")))
    val want = batch.flatMap(e => e.observations.map(o => (e.name, o))).zipWithIndex
      .map { case ((n, o), i) => (4L + i, n, o) }
    // a local batch is split over this many scan partitions
    val leaf = "spark.sql.leafNodeDefaultParallelism"
    for (parallelism <- Seq(1, 8)) {
      val dir = Files.createTempDirectory("graft-store-").toString
      val st = new GraphStore(spark, dir)
      st.initialize()
      st.createEntities(Seq(Entity("base", "t", Seq("a", "b", "c")))) // ids 1..3
      spark.conf.set(leaf, parallelism.toString)
      try st.createEntities(batch) finally spark.conf.unset(leaf)
      val got = st.observations.filter("entity_name != 'base'").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(got == want, s"at $parallelism partitions")
      val mark = new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "_MANIFEST")))
        .linesIterator.find(_.startsWith("maxid.observations=")).get.split("=")(1).toLong
      assert(mark == 3L + want.size)
    }
  }

  test("searchNodes returns entities in relevance rank order (client.ts:241-246)") {
    val st = freshStore()
    st.createEntities(Seq(
      Entity("zz-widget", "tool", Seq("unrelated")),          // name hit → 3
      Entity("aa-thing", "widget", Seq("unrelated")),         // type hit → 2
      Entity("mm-item", "tool", Seq("a widget observation")))) // obs hit → 1
    val (hits, _) = st.searchNodes("widget")
    assert(hits.map(_.name) == Seq("zz-widget", "aa-thing", "mm-item"))
  }

  test("createRelations rejects blank source/target/type") {
    val st = freshStore()
    seed(st)
    intercept[IllegalArgumentException] {
      st.createRelations(Seq(Relation("Alice", "Bob", "   ")))
    }
    intercept[IllegalArgumentException] {
      st.createRelations(Seq(Relation("", "Bob", "knows")))
    }
  }

  test("relations: create, read back, targeted delete (client.test.ts:214-254)") {
    val st = freshStore()
    seed(st)
    st.createRelations(Seq(Relation("Alice", "Bob", "works_with")))
    val (_, rels) = st.searchNodes("Alice")
    assert(rels.contains(Relation("Alice", "Bob", "works_with")))
    st.deleteRelation("Alice", "Bob", "works_with")
    val (_, after) = st.searchNodes("Alice")
    assert(!after.contains(Relation("Alice", "Bob", "works_with")))
    intercept[NoSuchElementException] {
      st.deleteRelation("Alice", "Bob", "works_with")
    }
  }

  test("parallel edges allowed and preserved (client.ts:324-325)") {
    val st = freshStore()
    seed(st)
    st.createRelations(Seq(
      Relation("Alice", "Bob", "works_with"),
      Relation("Alice", "Bob", "works_with")))
    val (_, rels) = st.searchNodes("Alice")
    assert(rels.count(_ == Relation("Alice", "Bob", "works_with")) == 2)
  }

  test("delete_entity cascades to observations and relations (client.test.ts:256-289)") {
    val st = freshStore()
    seed(st)
    st.createRelations(Seq(
      Relation("Alice", "Bob", "works_with"),
      Relation("Acme Corp", "Alice", "employs")))
    st.deleteEntity("Alice")
    intercept[NoSuchElementException] { st.getEntity("Alice") }
    val (_, rels) = st.searchNodes("Bob")
    assert(!rels.exists(r => r.from == "Alice" || r.to == "Alice"))
    intercept[NoSuchElementException] { st.deleteEntity("Ghost") }
  }

  test("read_graph: empty DB then populated (client.test.ts:291-319)") {
    val st = freshStore()
    val (e0, r0) = st.readGraph()
    assert(e0.isEmpty && r0.isEmpty)
    st.createEntities(Seq(
      Entity("A", "t", Seq("first")),
      Entity("B", "t", Seq("second"))))
    st.createRelations(Seq(Relation("A", "B", "links_to")))
    val (es, rs) = st.readGraph()
    assert(es.map(_.name).toSet == Set("A", "B"))
    assert(rs == Seq(Relation("A", "B", "links_to")))
  }

  test("upsert preserves created_at of existing entities (client.ts:145-156)") {
    val st = freshStore()
    seed(st)
    val before = st.entities.filter("name = 'Alice'")
      .select("created_at").head().getTimestamp(0)
    st.createEntities(Seq(Entity("Alice", "human", Seq("x"))))
    val after = st.entities.filter("name = 'Alice'")
      .select("created_at").head().getTimestamp(0)
    assert(before == after)
  }

  test("truncation counts codepoints, not UTF-16 units (SURVEY §2.3 S2)") {
    val st = freshStore()
    // 255 ASCII chars + an astral-plane emoji (2 UTF-16 units): codepoint
    // truncation at 256 keeps the whole emoji; UTF-16 slicing would split it
    val name = "a" * 255 + "🌍" + "suffix"
    st.createEntities(Seq(Entity(name, "t", Seq("x"))))
    val e = st.getEntity("a" * 255 + "🌍")
    assert(e.name.codePointCount(0, e.name.length) == 256)
  }

  test("cross-process writer blocks on the file lock instead of losing its commit") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir)
    st.initialize()
    // second PROCESS takes the same fcntl lock the store's withWriteLock
    // takes (root/_LOCK) — in-JVM channels can't simulate this (they throw
    // OverlappingFileLockException rather than blocking)
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"), "graft.LockHolderMain", dir)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    try {
      val line = reader.readLine()
      assert(line == "LOCKED", s"lock-holder failed to start: $line")
      val write = Future(st.createEntities(Seq(Entity("Held", "t", Seq("x")))))
      // poll rather than trusting one fixed sleep (a loaded box could make a
      // single timing assertion flaky): the writer must stay incomplete
      // across several observation windows while the foreign process holds
      // the lock — a merely-slow writer would complete during them, the
      // blocked writer cannot complete at all
      (1 to 8).foreach { _ =>
        Thread.sleep(250)
        assert(!write.isCompleted,
          "writer must block while another process holds the store lock")
      }
      proc.destroyForcibly().waitFor() // process death releases the fcntl lock
      Await.result(write, 120.seconds) // blocked writer proceeds, commit lands
      assert(st.getEntity("Held").observations == Seq("x"))
    } finally { proc.destroyForcibly(); reader.close() }
  }

  test("commit is versioned: concurrent reader sees old or new, never partial") {
    val st = freshStore()
    seed(st)
    val oldDf = st.entities // bound to version v1
    st.createEntities(Seq(Entity("New", "t", Seq("z"))))
    // the previously-resolved DataFrame still reads its pinned version
    assert(oldDf.count() == 3)
    assert(st.entities.count() == 4)
  }

  // ── bucketed copy-on-write layout (round-8 verdict item 1) ──────────────

  /** All bucket-version dirs of a table, as (bucket, version) pairs. */
  private def bucketVersions(dir: String, table: String): Set[(Int, Long)] = {
    val td = new java.io.File(s"$dir/$table")
    Option(td.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty)
        .filter(v => v.isDirectory && v.getName.matches("v\\d+"))
        .map(v => (b.getName.drop(1).toInt, v.getName.drop(1).toLong)))
      .toSet
  }

  test("50-entity upsert into a 64-bucket store rewrites ONLY the touched buckets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 64)
    st.initialize()
    // base load: 600 entities spread across (essentially) all 64 buckets
    st.upsertEntitiesDf(
      (1 to 600).map(i => (s"base#$i", "base", Seq(s"obs $i")))
        .toDF("name", "entity_type", "observations"))
    val before = bucketVersions(dir, "entities")
    val beforeObs = bucketVersions(dir, "observations")
    assert(before.map(_._1).size > 60) // the base genuinely occupies the store

    val names = (1 to 50).map(i => s"upd#$i")
    st.createEntities(names.map(n => Entity(n, "t2", Seq("updated"))))

    val expectedBuckets = names.map(GraphStore.bucketFor(_, 64)).toSet
    val newEnt = bucketVersions(dir, "entities") -- before
    val newObs = bucketVersions(dir, "observations") -- beforeObs
    // the commit staged EXACTLY one new version per touched bucket, for
    // exactly the buckets hashing the 50 names — not 64 table-wide rewrites
    assert(newEnt.map(_._1) == expectedBuckets,
      s"entities rewrote buckets ${newEnt.map(_._1).toSeq.sorted}, " +
        s"expected ${expectedBuckets.toSeq.sorted}")
    assert(newObs.map(_._1) == expectedBuckets)
    assert(newEnt.size == expectedBuckets.size && expectedBuckets.size < 64)
    // and content is still exact
    assert(st.entities.count() == 650)
    assert(st.getEntity("upd#7") == Entity("upd#7", "t2", Seq("updated")))
    assert(st.getEntity("base#17").entityType == "base")
  }

  test("driver-side bucketFor equals the in-plan pmod(xxhash64) bucket column") {
    import spark.implicits._
    val names = Seq("Alice", "名前", "🌍emoji", "", "a b_c-d", "x" * 300,
      "Ω≈ç√∫", " nbsp", "ALICE", "alice")
    for (b <- Seq(16, 64, 1024)) {
      val inPlan = names.toDF("n")
        .select(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.col("n")),
          org.apache.spark.sql.functions.lit(b.toLong)).cast("int"))
        .collect().map(_.getInt(0)).toSeq
      assert(inPlan == names.map(GraphStore.bucketFor(_, b)),
        s"driver/in-plan bucket mismatch at B=$b")
    }
  }

  test("reference API caps: ≤50 entities and ≤100 relations per call (index.ts:35,53)") {
    val st = freshStore()
    intercept[IllegalArgumentException] {
      st.createEntities((1 to 51).map(i => Entity(s"e$i", "t", Seq("o"))))
    }
    st.createEntities((1 to 50).map(i => Entity(s"e$i", "t", Seq("o")))) // at cap: ok
    intercept[IllegalArgumentException] {
      st.createRelations((1 to 101).map(i => Relation("e1", "e2", s"r$i")))
    }
    st.createRelations((1 to 100).map(i => Relation("e1", "e2", s"r$i"))) // at cap: ok
    assert(st.entities.count() == 50 && st.relations.count() == 100)
  }

  test("cascade delete rewrites only the buckets holding the entity's rows and edges") {
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 64)
    st.initialize()
    st.createEntities((1 to 40).map(i => Entity(s"n#$i", "t", Seq("o"))))
    // victim has 2 out-edges (source bucket = bucket(victim)) and 2 in-edges
    // from two other sources (their buckets get rewritten too)
    st.createRelations(Seq(
      Relation("n#1", "n#2", "a"), Relation("n#1", "n#3", "b"),
      Relation("n#4", "n#1", "c"), Relation("n#5", "n#1", "d"),
      Relation("n#9", "n#10", "unrelated")))
    val before = bucketVersions(dir, "relations")
    st.deleteEntity("n#1")
    val touched = (bucketVersions(dir, "relations") -- before).map(_._1)
    val expected = Seq("n#1", "n#4", "n#5").map(GraphStore.bucketFor(_, 64)).toSet
    assert(touched == expected,
      s"cascade rewrote relation buckets ${touched.toSeq.sorted}, expected ${expected.toSeq.sorted}")
    // and the graph is consistent: no dangling edges, unrelated edge kept
    assert(st.relations.count() == 1)
    intercept[NoSuchElementException] { st.getEntity("n#1") }
  }

  test("readTableAt: store versions are CROSS-TABLE consistent (cascade delete wholly present or absent)") {
    val st = freshStore()
    st.createEntities(Seq(
      Entity("A", "t", Seq("oa")), Entity("B", "t", Seq("ob"))))
    st.createRelations(Seq(Relation("A", "B", "knows")))
    val beforeDelete = st.storeVersions.last
    st.deleteEntity("A") // one manifest flip rewrites 3 tables
    val afterDelete = st.storeVersions.last
    assert(afterDelete > beforeDelete)
    // at the pre-delete store version ALL THREE tables still show A
    assert(st.readTableAt("entities", beforeDelete).filter("name = 'A'").count() == 1)
    assert(st.readTableAt("observations", beforeDelete)
      .filter("entity_name = 'A'").count() == 1)
    assert(st.readTableAt("relations", beforeDelete).count() == 1)
    // at the post-delete version the cascade is wholly absent — no state
    // where the entity is gone but its edges linger
    assert(st.readTableAt("entities", afterDelete).filter("name = 'A'").count() == 0)
    assert(st.readTableAt("observations", afterDelete)
      .filter("entity_name = 'A'").count() == 0)
    assert(st.readTableAt("relations", afterDelete).count() == 0)
    // vacuum prunes history under the same horizon; the current version stays
    st.vacuum(keepVersions = 1)
    intercept[IllegalArgumentException] { st.readTableAt("entities", beforeDelete) }
    assert(st.readTableAt("entities", st.storeVersions.last).count() == 1)
    intercept[IllegalArgumentException] { st.readTableAt("nope", afterDelete) }
  }

  test("write amplification: a 10-entity upsert into a 5000-entity 256-bucket store stages ~buckets-touched/B of the bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 256)
    st.initialize()
    st.upsertEntitiesDf(
      (1 to 5000).map(i => (s"bulk#$i", "t", Seq(s"obs $i")))
        .toDF("name", "entity_type", "observations"))
    def bytesUnder(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
      else f.length()
    def dataBytes(table: String): Long =
      bytesUnder(new java.io.File(s"$dir/$table")) // version dirs + snapshots
    val before = dataBytes("entities") + dataBytes("observations")
    st.createEntities((1 to 10).map(i => Entity(s"upd#$i", "t2", Seq("u"))))
    val staged = dataBytes("entities") + dataBytes("observations") - before
    val frac = staged.toDouble / before
    // 10 names touch ≤10 of 256 buckets per table → the staged bytes are a
    // few percent of the store, NOT a copy of it (2.5x slack over the
    // 10/256 ideal covers parquet per-file overhead); the pre-round-8
    // whole-table rewrite would put this at ~1.0
    assert(frac < 10.0 / 256 * 2.5,
      f"upsert staged ${staged} bytes = ${frac * 100}%.1f%% of the $before-byte store")
  }

  test("filesPerBucket splits a bucket's rewrite; nbuckets pinned by the manifest, not the constructor") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 2, filesPerBucket = 4)
    st.initialize()
    st.upsertEntitiesDf(
      (1 to 200).map(i => (s"e#$i", "t", Seq(s"o$i")))
        .toDF("name", "entity_type", "observations"))
    // each populated bucket's version dir carries ~filesPerBucket parquet
    // files (range cells over (bucket, key); a cell straddling a bucket
    // boundary adds at most one extra file), never one monolith per task
    val perBucket = Option(new java.io.File(s"$dir/entities").listFiles()).get
      .filter(_.getName.matches("b\\d+"))
      .map { b =>
        val v = b.listFiles().filter(_.getName.matches("v\\d+")).maxBy(_.getName.drop(1).toLong)
        v.listFiles().count(_.getName.endsWith(".parquet"))
      }
    assert(perBucket.nonEmpty && perBucket.forall(n => n >= 2 && n <= 5),
      s"expected 2-5 files per 100-entity bucket, got ${perBucket.toSeq}")
    assert(st.entities.count() == 200)
    // re-open with a DIFFERENT constructor bucket count: the manifest wins
    // (honoring the new value would require rehashing every row), so reads
    // and writes stay consistent
    val st2 = new GraphStore(spark, dir, numBuckets = 64)
    assert(st2.getEntity("e#7").observations == Seq("o7"))
    st2.createEntities(Seq(Entity("e#7", "t2", Seq("updated"))))
    assert(st2.getEntity("e#7").entityType == "t2")
    assert(new GraphStore(spark, dir).entities.count() == 200)
  }

  /** Every bucket version `table` gained between committed snapshots
    * `from` and `to` holds exactly one parquet file, sorted by the bucket
    * key `key` and named by the version's one `_FILESTATS` line, and a
    * point lookup of each of its keys prunes to that file. Returns how many
    * versions it checked.
    */
  private def assertOneSortedFilePerVersion(st: GraphStore, table: String, key: String,
      from: Long, to: Long): Int = {
    val (_, newDirs) = st.changedBucketDirs(table, from, to)
    newDirs.foreach { dir =>
      val files = dir.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$dir holds ${files.length} parquet files")
      val file = files.head.toPath
      val keys = spark.read.parquet(file.toString).select(key).collect().map(_.getString(0)).toSeq
      assert(keys.nonEmpty && keys == keys.sorted(GraphStore.CodepointOrdering),
        s"$dir is not sorted by $key: $keys")
      val stats = new String(Files.readAllBytes(dir.resolve("_FILESTATS")), "UTF-8").split("\n").toSeq
      val line = stats.head.split("\t")
      assert(stats.size == 1 && line(0) == file.getFileName.toString && line(1) != "-",
        s"$dir sidecar: $stats")
      keys.distinct.foreach(k => assert(st.filesForKeys(table, Seq(k)) == Seq(file), s"$table lookup of $k"))
    }
    newDirs.size
  }

  test("filesPerBucket = 1 writes one key-sorted file per new bucket version: a multi-bucket commit, a split's children, a one-bucket deleteRelation") {
    import spark.implicits._
    def last(st: GraphStore, t: String) = st.tableVersions(t).last
    // a commit over at least three buckets of both tables
    val st = freshStore()
    val (e0, o0) = (last(st, "entities"), last(st, "observations"))
    val names = (1 to 12).map(i => s"m$i")
    st.createEntities(names.map(n => Entity(n, "t", Seq(s"$n one", s"$n two"))))
    assert(assertOneSortedFilePerVersion(st, "entities", "name", e0, last(st, "entities")) >= 3)
    assert(assertOneSortedFilePerVersion(st, "observations", "entity_name", o0,
      last(st, "observations")) >= 3)

    // splitBucket's two children
    val sp = new GraphStore(spark, Files.createTempDirectory("graft-store-").toString, numBuckets = 4)
    sp.initialize()
    sp.upsertEntitiesDf((1 to 120).map(i => (s"n#$i", "t", Seq(s"o-$i")))
      .toDF("name", "entity_type", "observations"))
    val before = last(sp, "entities")
    sp.splitBucket("entities", sp.liveBuckets("entities").head)
    assert(assertOneSortedFilePerVersion(sp, "entities", "name", before, last(sp, "entities")) == 2)

    // a one-bucket deleteRelation that leaves an edge in both buckets
    st.createRelations(Seq(Relation("m1", "m2", "a"), Relation("m1", "m2", "b"),
      Relation("m1", "m3", "c")))
    val (r0, rr0) = (last(st, "relations"), last(st, "relations_rev"))
    st.deleteRelation("m1", "m2", "a")
    assert(assertOneSortedFilePerVersion(st, "relations", "source", r0, last(st, "relations")) == 1)
    assert(assertOneSortedFilePerVersion(st, "relations_rev", "target", rr0,
      last(st, "relations_rev")) == 1)
    assertRevMirror(st)
  }

  test("a commit whose content holds a row of an untouched bucket fails loudly and commits nothing") {
    import spark.implicits._
    val st = freshStore()
    def b(n: String) = GraphStore.Bucket(0, GraphStore.bucketFor(n, 16))
    val names = (1 to 40).map(i => s"s$i").groupBy(b).values.map(_.min).toSeq.sorted.take(3)
    st.createEntities(names.map(n => Entity(n, "t", Seq("o"))))
    val before = st.tableVersions("entities").last
    val rows = names.map(n => (n, "t", new java.sql.Timestamp(0L))).toDF("name", "entity_type", "created_at")
    // one touched bucket (one task, no shuffle) and two (one task per bucket)
    for (touched <- Seq(names.take(1), names.take(2))) {
      val err = intercept[IllegalArgumentException](st.withWriteLock(st.commitBuckets(
        Map("entities" -> st.BucketWrite(touched.map(b).toSet, rows)))))
      assert(err.getMessage.contains("staged rows for untouched buckets"), err.getMessage)
    }
    assert(st.tableVersions("entities").last == before)
    assert(st.entities.count() == 3)
  }

  test("splitBucket: parent's rows partition exactly into two children; mixed generations read/write/lookup correctly") {
    import spark.implicits._
    import GraphStore.Bucket
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 4)
    st.initialize()
    val names = (1 to 120).map(i => s"n#$i")
    st.upsertEntitiesDf(
      names.map(n => (n, "t", Seq(s"o-$n"))).toDF("name", "entity_type", "observations"))
    val parent = st.liveBuckets("entities").head // a gen-0 bucket
    val parentNames = names.filter(n => GraphStore.bucketFor(n, 4) == parent.id)
    assert(parentNames.nonEmpty)

    st.splitBucket("entities", parent)
    val live = st.liveBuckets("entities")
    // parent retired, both gen-1 children present (even if one is empty)
    assert(!live.contains(parent))
    val kids = Seq(Bucket(1, parent.id), Bucket(1, parent.id + 4))
    assert(kids.forall(live.contains), s"live buckets after split: $live")
    // the children's rows are EXACTLY the parent's, split by pmod(h, 8)
    assert(st.entities.count() == 120) // nothing lost, nothing duplicated
    for (n <- parentNames) {
      val expected = Bucket(1, GraphStore.bucketFor(n, 8))
      assert(kids.contains(expected))
      val files = st.filesForKeys("entities", Seq(n))
      assert(files.forall(_.toString.contains(expected.dirName)),
        s"$n should resolve into ${expected.dirName}, got $files")
      assert(st.getEntity(n).observations == Seq(s"o-$n"))
    }
    // a write touching a split key routes to the gen-1 child, not a
    // resurrected parent; other tables (unsplit) keep working
    val victim = parentNames.head
    st.createEntities(Seq(Entity(victim, "t2", Seq("updated"))))
    assert(st.getEntity(victim).entityType == "t2")
    assert(!st.liveBuckets("entities").contains(parent))
    // doubling the whole generation keeps every read identical
    st.advanceGeneration("entities")
    assert(st.liveBuckets("entities").forall(_.gen >= 1))
    assert(st.entities.count() == 120)
    assert(st.getEntity("n#55").observations.head.startsWith("o-"))
    // cascade delete across MIXED generations (relations still gen 0)
    st.createRelations(Seq(Relation("n#1", "n#2", "knows")))
    st.deleteEntity("n#2")
    assert(st.relations.count() == 0)
    assert(st.entities.count() == 119)
    // re-open resolves the mixed-generation layout identically
    val st2 = new GraphStore(spark, dir, numBuckets = 4)
    assert(st2.entities.count() == 119)
    assert(st2.getEntity(victim).entityType == "t2")
  }

  test("splitOversized policy: splits exactly the heavy buckets, children inherit the data, bounded rounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 4)
    st.initialize()
    st.upsertEntitiesDf(
      (1 to 400).map(i => (s"e#$i", "t", Seq(s"o$i")))
        .toDF("name", "entity_type", "observations"))
    val sizes = st.bucketBytes("entities")
    assert(sizes.values.forall(_ > 0) && sizes.size == 4)
    // threshold between min and max: only the heavier buckets split
    val cut = (sizes.values.min + sizes.values.max) / 2
    val heavy = sizes.filter(_._2 > cut).keySet
    assume(heavy.nonEmpty && heavy.size < 4) // data-dependent but stable (fixed names)
    val n = st.splitOversized("entities", cut, maxRounds = 1)
    assert(n == heavy.size, s"expected ${heavy.size} splits, did $n")
    val live = st.liveBuckets("entities").toSet
    heavy.foreach { b =>
      assert(!live.contains(b))
      assert(live.contains(GraphStore.Bucket(b.gen + 1, b.id)))
    }
    sizes.keySet.diff(heavy).foreach(b => assert(live.contains(b)))
    assert(st.entities.count() == 400)
    assert(st.getEntity("e#123").observations == Seq("o123"))
    // a tiny threshold with a round cap terminates (hot buckets cannot
    // shrink forever) and leaves the store intact
    val more = st.splitOversized("entities", 1L, maxRounds = 2)
    assert(more > 0)
    assert(st.entities.count() == 400)
  }

  test("split-policy drill: repeated upsert waves keep max bucket bytes bounded; reads stay exact (ScaleDrill shape)") {
    import spark.implicits._
    // The operational loop a store at 100 TB runs after every ingest:
    // grow → splitOversized → bounded buckets, with per-key resolution
    // staying exact through every generation change. Five waves, each
    // followed by the unconditional heal call; after EVERY wave the max
    // bucket must sit at or under the gate (the ScaleDrill invariant —
    // without it a hot key range grows one bucket without bound and every
    // read of it degrades).
    val dir = Files.createTempDirectory("graft-store-drill-").toString
    val st = new GraphStore(spark, dir, numBuckets = 4)
    st.initialize()
    val gate = 4096L
    // names carry a 16-hex dictionary-resistant tail: 300 thin rows sit
    // RIGHT AT a 4 KB parquet file (whether the gate trips then depends
    // on range-sampling boundaries, which vary with the session's RDD id
    // counter — the round-15 in-suite flake); ~40 B/row makes every wave
    // decisively heavier than the gate once two waves share a bucket
    def name(wave: Int, i: Int): String =
      f"w$wave#e$i#${i * 0x9E3779B97F4A7C15L + wave}%016x"
    var total = 0
    for (wave <- 1 to 5) {
      st.upsertEntitiesDf(
        (1 to 300).map(i => (name(wave, i), s"t$wave", Seq(s"obs $wave/$i x${name(wave, i)}")))
          .toDF("name", "entity_type", "observations"))
      total += 300
      st.splitOversized("entities", gate)
      st.splitOversized("observations", gate)
      for (t <- Seq("entities", "observations")) {
        val max = st.bucketBytes(t).values.max
        assert(max <= gate,
          s"wave $wave: $t max bucket $max bytes over the $gate gate — " +
            "the heal loop is not bounding growth")
      }
      assert(st.entities.count() == total, s"wave $wave lost entities")
    }
    assert(st.liveBuckets("entities").exists(_.gen > 0),
      "five waves over tiny gen-0 never split — the drill lost its teeth")
    // point reads resolve through the mixed-generation layout
    assert(st.getEntity(name(3, 7)).observations ==
      Seq(s"obs 3/7 x${name(3, 7)}"))
    assert(st.getEntity(name(5, 299)).entityType == "t5")
    // and a cascade delete on the grown store stays exact
    st.deleteEntity(name(3, 7))
    intercept[NoSuchElementException](st.getEntity(name(3, 7)))
    assert(st.entities.count() == total - 1)
  }

  test("mergeChildren restores the split parent: data intact, writes route to it, preconditions loud") {
    import spark.implicits._
    import GraphStore.Bucket
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 4)
    st.initialize()
    val names = (1 to 120).map(i => s"n#$i")
    st.upsertEntitiesDf(
      names.map(n => (n, "t", Seq(s"o-$n"))).toDF("name", "entity_type", "observations"))
    val parent = st.liveBuckets("entities").head
    st.splitBucket("entities", parent)
    assert(!st.liveBuckets("entities").contains(parent))

    // merge is the exact inverse: parent live again, children retired
    st.mergeChildren("entities", parent)
    val live = st.liveBuckets("entities").toSet
    assert(live.contains(parent))
    assert(!live.contains(Bucket(1, parent.id)) && !live.contains(Bucket(1, parent.id + 4)))
    assert(st.entities.count() == 120)
    val parentNames = names.filter(n => GraphStore.bucketFor(n, 4) == parent.id)
    for (n <- parentNames.take(5)) {
      assert(st.getEntity(n).observations == Seq(s"o-$n"))
      val files = st.filesForKeys("entities", Seq(n))
      assert(files.forall(_.toString.contains(parent.dirName)),
        s"$n should resolve into restored ${parent.dirName}, got $files")
    }
    // a post-merge write routes to the restored parent, not a dead child
    val victim = parentNames.head
    st.createEntities(Seq(Entity(victim, "t2", Seq("after-merge"))))
    assert(st.getEntity(victim).entityType == "t2")
    assert(st.liveBuckets("entities").toSet.forall(_.gen == 0))
    // preconditions: live parent / absent children fail loudly
    intercept[IllegalArgumentException](st.mergeChildren("entities", parent))
    intercept[IllegalArgumentException](
      st.mergeChildren("entities", Bucket(1, parent.id))) // children never existed
    // re-open resolves the merged layout identically
    val st2 = new GraphStore(spark, dir, numBuckets = 4)
    assert(st2.entities.count() == 120)
    assert(st2.getEntity(victim).entityType == "t2")
  }

  test("mergeUndersized policy cascades a doubled table back down; oversized pairs stay split") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 4)
    st.initialize()
    st.upsertEntitiesDf(
      (1 to 200).map(i => (s"e#$i", "t", Seq(s"o$i")))
        .toDF("name", "entity_type", "observations"))
    st.advanceGeneration("entities")
    st.advanceGeneration("entities") // 4 → 16 live buckets, all gen 2
    assert(st.liveBuckets("entities").size == 16)
    // a huge budget merges everything back to generation 0 across rounds
    val n = st.mergeUndersized("entities", Long.MaxValue / 2, maxRounds = 4)
    assert(n == 12, s"16→8→4 buckets is 12 merges, did $n") // 8 + 4
    val live = st.liveBuckets("entities")
    assert(live.size == 4 && live.forall(_.gen == 0), s"live after cascade: $live")
    assert(st.entities.count() == 200)
    assert(st.getEntity("e#77").observations == Seq("o77"))
    // a budget below any combined pair merges nothing
    st.advanceGeneration("entities")
    assert(st.mergeUndersized("entities", 1L) == 0)
    assert(st.liveBuckets("entities").size == 8)
  }

  test("point lookup reads ONE file of a split bucket (sorted buckets + _FILESTATS pruning)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    // single bucket, 4-way split: every entity shares the bucket, so only
    // the per-file key-range sidecar can narrow a lookup below bucket level
    val st = new GraphStore(spark, dir, numBuckets = 1, filesPerBucket = 4)
    st.initialize()
    val names = (1 to 400).map(i => f"e#$i%04d")
    st.upsertEntitiesDf(
      names.map(n => (n, "t", Seq(s"obs of $n"))).toDF("name", "entity_type", "observations"))
    val bucketFiles = {
      val b = new java.io.File(s"$dir/entities/b0")
      val v = b.listFiles().filter(_.getName.matches("v\\d+")).maxBy(_.getName.drop(1).toLong)
      v.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(bucketFiles >= 2, s"split bucket expected, got $bucketFiles file(s)")
    // a point lookup prunes to EXACTLY one of those files — range-disjoint
    // sorted files mean one key can live in at most one file's [min,max]
    for (probe <- Seq("e#0001", "e#0123", "e#0256", "e#0400")) {
      val files = st.filesForKeys("entities", Seq(probe))
      assert(files.size == 1,
        s"$probe should prune to 1 of $bucketFiles files, got ${files.size}")
      assert(st.getEntity(probe).observations == Seq(s"obs of $probe"))
    }
    // a key OUTSIDE every file's range reads nothing at all
    assert(st.filesForKeys("entities", Seq("zzz-absent")).isEmpty)
    intercept[NoSuchElementException] { st.getEntity("zzz-absent") }
    // no false prune: the union of per-key pruned reads covers every row
    val viaPruned = names.grouped(50).flatMap(g =>
      st.filesForKeys("entities", g)).toSeq.distinct
    val allRows = spark.read.schema(GraphStore.EntitiesSchema)
      .parquet(viaPruned.map(_.toString): _*).select("name")
      .collect().map(_.getString(0)).toSet
    assert(allRows == names.toSet)
    // observations prune the same way (bucketed by entity_name)
    assert(st.filesForKeys("observations", Seq("e#0123")).size == 1)
  }

  test("_FILESTATS sidecar missing falls back to reading the whole bucket (old stores)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 1, filesPerBucket = 4)
    st.initialize()
    st.upsertEntitiesDf(
      (1 to 100).map(i => (f"e#$i%03d", "t", Seq(s"o$i")))
        .toDF("name", "entity_type", "observations"))
    // simulate a pre-round-10 store: drop the sidecars
    def dropSidecars(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(dropSidecars)
      else if (f.getName == "_FILESTATS") f.delete()
    }
    dropSidecars(new java.io.File(dir))
    val files = st.filesForKeys("entities", Seq("e#042"))
    assert(files.size >= 2, s"no sidecar -> all bucket files, got ${files.size}")
    assert(st.getEntity("e#042").observations == Seq("o42"))
  }

  test("pre-row-count sidecars (3-field lines): a point lookup still prunes to one file, metaRowCount reads footers") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir, numBuckets = 1, filesPerBucket = 4)
    st.initialize()
    st.upsertEntitiesDf(
      (1 to 100).map(i => (f"e#$i%03d", "t", Seq(s"o$i")))
        .toDF("name", "entity_type", "observations"))
    // rewrite every sidecar as a store written before row counts existed
    // did: `name \t min \t max`, no count field
    val sidecars = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString == "_FILESTATS").toList
    sidecars.foreach { p =>
      val lines = new String(Files.readAllBytes(p), UTF_8).split("\n")
      assert(lines.forall(_.split("\t").length == 4))
      Files.write(p, lines.map(_.split("\t").take(3).mkString("\t")).mkString("\n").getBytes(UTF_8))
    }
    assert(sidecars.nonEmpty)
    val bucketFiles = new java.io.File(st.filesForKeys("entities", Seq("e#042")).head.getParent.toString)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(bucketFiles >= 2, s"split bucket expected, got $bucketFiles file(s)")
    assert(st.filesForKeys("entities", Seq("e#042")).size == 1)
    assert(st.filesForKeys("observations", Seq("e#042")).size == 1)
    assert(st.getEntity("e#042").observations == Seq("o42"))
    val (counts, jobs) = jobsDuring(Seq("entities", "observations").map(st.metaRowCount))
    assert(counts == Seq(100L, 100L), s"footer fallback counts $counts")
    assert(jobs == 0, s"metaRowCount must not run Spark jobs, saw $jobs")
  }

  test("vacuum reader horizon: stale DataFrame fails loudly after vacuum(1), survives keepVersions=2") {
    val st = freshStore()
    st.createEntities(Seq(Entity("A", "t1", Seq("o1"))))
    val pinnedOk = st.entities
    assert(pinnedOk.count() == 1) // executed before any vacuum: fine
    st.createEntities(Seq(Entity("A", "t2", Seq("o2"))))
    val stale = st.entities // bound to the post-upsert snapshot
    st.createEntities(Seq(Entity("A", "t3", Seq("o3"))))
    // keepVersions=2 keeps the snapshot `stale` is pinned to → safe
    st.vacuum(keepVersions = 2)
    assert(stale.select("entity_type").head().getString(0) == "t2")
    val stale2 = st.entities
    st.createEntities(Seq(Entity("A", "t4", Seq("o4"))))
    st.vacuum(keepVersions = 1)
    // the pinned bucket version is gone — the scan must fail LOUDLY (Spark
    // pins file listings at resolution), never silently return wrong rows
    val err = intercept[Exception] { stale2.select("entity_type").collect() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        c.getMessage != null && (c.getMessage.contains("FileNotFound") ||
          c.getMessage.contains("does not exist") ||
          c.getMessage.contains("PATH_NOT_FOUND"))),
      s"expected a loud missing-file failure, got: $err")
  }

  test("metaRowCount: exact counts from sidecars, ZERO Spark jobs, footer fallback") {
    val st = freshStore()
    seed(st)
    st.createRelations(Seq(Relation("Alice", "Bob", "knows"),
      Relation("Bob", "Acme Corp", "works_at")))
    st.deleteEntity("Acme Corp") // cascades: entity + obs + 1 relation
    val want = Seq("entities", "observations", "relations")
      .map(t => t -> (t match {
        case "entities" => st.entities.count()
        case "observations" => st.observations.count()
        case "relations" => st.relations.count()
      })).toMap
    val (got, jobs) = jobsDuring(Seq("entities", "observations", "relations")
      .map(t => t -> st.metaRowCount(t)).toMap)
    assert(got == want, s"meta counts $got != scan counts $want")
    assert(jobs == 0, s"metaRowCount must not run Spark jobs, saw $jobs")
    // footer fallback: delete every sidecar; counts must still be exact
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    Seq("entities", "observations", "relations").foreach { t =>
      JFiles.walk(JPaths.get(st.root, t)).iterator().asScala
        .filter(_.getFileName.toString == "_FILESTATS")
        .toList.foreach(JFiles.delete)
      assert(st.metaRowCount(t) == want(t), s"footer fallback wrong for $t")
    }
  }

  /** The fwd ≡ rev mirror invariant: the reverse-edge index holds exactly
    * the relations rows (same ids, same timestamps), just bucketed by
    * target.
    */
  private def assertRevMirror(st: GraphStore): Unit = {
    val fwd = st.relations.orderBy("id").collect().toSeq
    val rev = st.relationsRev.orderBy("id").collect().toSeq
    assert(fwd == rev, s"rev index diverged: fwd=$fwd rev=$rev")
  }

  test("deleteEntity in-edge discovery reads ONE pruned file of the rev index (no relations scan)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-").toString
    // single bucket, 4-way split: every target shares the rev bucket, so
    // only the per-file target-range sidecar can narrow the discovery probe
    // (mirror of the "point lookup reads ONE file" pin)
    val st = new GraphStore(spark, dir, numBuckets = 1, filesPerBucket = 4)
    st.initialize()
    val names = (1 to 200).map(i => f"e#$i%03d")
    st.upsertEntitiesDf(
      names.map(n => (n, "t", Seq(s"obs $n"))).toDF("name", "entity_type", "observations"))
    // spread edges across many targets so the rev bucket splits into
    // range-disjoint files, plus a hub with many IN-edges
    st.createRelations((1 to 99).map(i => Relation(f"e#$i%03d", f"e#${i + 100}%03d", "next")))
    st.createRelations((2 to 98 by 2).map(i => Relation(f"e#$i%03d", "e#100", "links")))
    st.createRelations(Seq(Relation("e#100", "e#150", "out"))) // hub out-edge
    assertRevMirror(st)
    val bucketFiles = {
      val b = new java.io.File(s"$dir/relations_rev/b0")
      val v = b.listFiles().filter(_.getName.matches("v\\d+")).maxBy(_.getName.drop(1).toLong)
      v.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(bucketFiles >= 2, s"split rev bucket expected, got $bucketFiles file(s)")
    val probed = st.filesForKeys("relations_rev", Seq("e#100"))
    assert(probed.size == 1,
      s"in-edge discovery should prune to 1 of $bucketFiles files, got ${probed.size}")
    st.deleteEntity("e#100")
    assert(st.relations.filter("source = 'e#100' or target = 'e#100'").count() == 0)
    assert(st.relationsRev.filter("source = 'e#100' or target = 'e#100'").count() == 0)
    // untouched edges survive in both tables and the mirror holds:
    // 99 next + 49 links + 1 out, minus 49 in-edges and 1 out-edge of e#100
    assert(st.relations.count() == 99)
    assertRevMirror(st)
  }

  test("rev index mirrors relations through create/delete/split/deleteRelation") {
    val st = freshStore()
    seed(st)
    st.createRelations(Seq(
      Relation("Alice", "Bob", "knows"),
      Relation("Alice", "Bob", "mentors"), // parallel edge
      Relation("Bob", "Acme Corp", "works_at"),
      Relation("Alice", "Acme Corp", "works_at")))
    assertRevMirror(st)
    st.deleteRelation("Alice", "Bob", "mentors")
    assertRevMirror(st)
    assert(st.relations.count() == 3)
    // splitting the REV table keeps contents identical (ownership-only move)
    st.advanceGeneration("relations_rev")
    assertRevMirror(st)
    st.deleteEntity("Bob") // cascades through a split rev index
    assertRevMirror(st)
    assert(st.relations.filter("source = 'Bob' or target = 'Bob'").count() == 0)
    assert(st.relations.count() == 1) // Alice -works_at-> Acme Corp
  }

  test("CAS commit: two lockless writers (two simulated drivers) lose no update") {
    // advisoryLock = false removes the machine-local lock entirely — the
    // two-machines-on-a-shared-filesystem situation. Interleaved
    // read-modify-write batches from two stores must all land: the manifest
    // CAS forces the loser of every race to rerun on the winner's state.
    val root = Files.createTempDirectory("graft-cas-").toString
    val a = new GraphStore(spark, root, advisoryLock = false)
    a.initialize()
    val b = new GraphStore(spark, root, advisoryLock = false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def writer(st: GraphStore, pre: String) =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 4).foreach { i =>
          st.createEntities(Seq(Entity(s"$pre#$i", "t", Seq(s"obs $pre $i"))))
        }
      })
    val fa = writer(a, "left")
    val fb = writer(b, "right")
    fa.get(); fb.get(); pool.shutdown()
    val names = a.entities.select("name").collect().map(_.getString(0)).toSet
    val expected = (1 to 4).flatMap(i => Seq(s"left#$i", s"right#$i")).toSet
    assert(names == expected, s"lost updates: missing ${expected -- names}")
    // observations rode along with their entities
    assert(a.observations.count() === 8L)
  }

  test("CAS stress: four lockless writers, mixed create/relate/cascade-delete, no lost update") {
    // heavier interleaving than the two-writer test: cascading deletes run
    // MULTI-commit transactions (rev-index discovery + the flip) while
    // three other writers race creates and edge inserts
    val root = Files.createTempDirectory("graft-cas-stress-").toString
    val seedStore = new GraphStore(spark, root, advisoryLock = false)
    seedStore.initialize()
    (0 until 4).foreach { w =>
      seedStore.createEntities(Seq(Entity(s"seed#$w", "t", Seq("s"))))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (0 until 4).map { w =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val st = new GraphStore(spark, root, advisoryLock = false)
          (1 to 3).foreach { i =>
            st.createEntities(Seq(Entity(s"w$w#$i", "t", Seq(s"obs $w $i"))))
            st.createRelations(Seq(Relation(s"w$w#$i", s"seed#$w", "made_by")))
          }
          st.deleteEntity(s"w$w#2") // cascades entity + obs + both edge sides
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val names = seedStore.entities.select("name").collect().map(_.getString(0)).toSet
    val expected = (0 until 4).flatMap(w => Seq(s"seed#$w", s"w$w#1", s"w$w#3")).toSet
    assert(names === expected,
      s"diff: missing ${expected -- names}, extra ${names -- expected}")
    assert(seedStore.relations.count() === 8L, "2 surviving edges per writer")
    assert(seedStore.observations.count() === 12L, "seed obs + 2 surviving per writer")
  }

  test("CAS commit: a stale transaction conflicts and reruns; a crashed flip is repaired by the next writer") {
    val root = Files.createTempDirectory("graft-cas2-").toString
    val st = new GraphStore(spark, root, advisoryLock = false)
    st.initialize()
    st.createEntities(Seq(Entity("Seed", "t", Seq("s"))))
    val mdir = java.nio.file.Paths.get(root, "_manifests")
    def head: Long = Option(mdir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("m\\d+")).map(_.getName.drop(1).toLong).max
    // a foreign driver commits AFTER this transaction pinned its base: the
    // first attempt's manifest slot is taken, so the body must rerun
    var runs = 0
    st.withWriteLock {
      runs += 1
      if (runs == 1) {
        val h = head
        Files.copy(mdir.resolve("m" + h), mdir.resolve("m" + (h + 1)))
      }
      st.createEntities(Seq(Entity("AfterConflict", "t", Seq("x"))))
    }
    assert(runs === 2, "the stale first attempt must conflict and rerun")
    assert(st.getEntity("AfterConflict").name === "AfterConflict")
    assert(st.getEntity("Seed").name === "Seed")
    // crash window: commit linked into history but the reader pointer never
    // flipped — roll _MANIFEST back one version to simulate it
    st.createEntities(Seq(Entity("Late", "t", Seq("z"))))
    val mk = head
    Files.copy(mdir.resolve("m" + (mk - 1)),
      java.nio.file.Paths.get(root, "_MANIFEST"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def names() = st.entities.select("name").collect().map(_.getString(0)).toSet
    assert(!names().contains("Late"), "readers follow the (stale) pointer")
    // the next writer repairs the pointer before pinning its own base
    st.createEntities(Seq(Entity("Next", "t", Seq("w"))))
    assert(names().contains("Late") && names().contains("Next"),
      "repairManifest must publish the durable-but-unflipped commit")
  }

  test("pre-rev-index store is refused (rebuild it); a stale revsync line is ignored") {
    val st = freshStore()
    seed(st)
    st.createRelations(Seq(
      Relation("Alice", "Bob", "knows"),
      Relation("Bob", "Acme Corp", "works_at")))
    // a current store still carrying the retired `revsync=1` marker line
    // opens and serves unchanged
    val root = st.root
    val manifest = java.nio.file.Paths.get(root, "_MANIFEST")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def lines(p: java.nio.file.Path) = new String(Files.readAllBytes(p), utf8).split("\n").toSeq
    def rewrite(p: java.nio.file.Path)(f: Seq[String] => Seq[String]): Unit =
      Files.write(p, f(lines(p)).mkString("\n").getBytes(utf8)): Unit
    def manifests() = manifest +: Option(new java.io.File(s"$root/_manifests").listFiles())
      .getOrElse(Array.empty).filter(_.getName.matches("m\\d+")).map(_.toPath).toSeq
    manifests().foreach(rewrite(_)(ls => (ls :+ "revsync=1").distinct.sorted))
    val marked = new GraphStore(spark, root)
    marked.initialize()
    assert(marked.getEntity("Alice") == Entity("Alice", "person", Seq("software engineer")))
    assert(marked.readGraph()._2.toSet == Set(
      Relation("Alice", "Bob", "knows"), Relation("Bob", "Acme Corp", "works_at")))
    assertRevMirror(marked)
    // simulate a store written before the rev index existed: drop the rev
    // table dir, its snapshots, and the marker from _MANIFEST AND every
    // history manifest — a genuinely old store has them nowhere (stripping
    // only _MANIFEST would be undone by repairManifest, which flips the
    // pointer to the history head)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$root/relations_rev"))
    manifests().foreach(rewrite(_)(_.filterNot(l =>
      l.startsWith("revsync") || l.startsWith("relations_rev"))))
    val old = new GraphStore(spark, root)
    val onInit = intercept[IllegalArgumentException](old.initialize())
    assert(onInit.getMessage.contains("rebuild"), onInit.getMessage)
    val onRead = intercept[IllegalArgumentException](old.getEntity("Alice"))
    assert(onRead.getMessage.contains("rebuild"), onRead.getMessage)
    // refusing writes nothing: the store is left as it was found
    assert(!new java.io.File(s"$root/relations_rev").exists())
  }

  test("first createEntities and createRelations on a fresh store: pinned job counts") {
    // a table without an id mark has never held a row: its id base is 0,
    // read from the manifest — no max(id) job over the empty table
    val st = freshStore()
    val (_, entityJobs) = jobsDuring(seed(st))
    assert(entityJobs == 7, s"first createEntities ran $entityJobs jobs")
    val (_, relationJobs) = jobsDuring(st.createRelations(Seq(
      Relation("Alice", "Bob", "knows"),
      Relation("Bob", "Acme Corp", "works_at"))))
    assert(relationJobs == 4, s"first createRelations ran $relationJobs jobs")
    val obsIds = st.observations.select("id").collect().map(_.getLong(0)).toSeq
    assert(obsIds.size == 3 && obsIds.distinct.size == 3 && obsIds.forall(_ >= 1L))
    assert(st.relations.orderBy("id").select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L))
    assertRevMirror(st)
  }

  test("serve writes run at their job floor on a warm 16-bucket store: createEntities, createRelations, deleteEntity, deleteRelation") {
    val st = freshStore()
    def b(n: String) = GraphStore.bucketFor(n, 16)
    // one name per bucket, so every role below sits in its own bucket
    val spread = (1 to 40).map(i => f"w$i%02d").groupBy(b).values.map(_.min).toSeq.sorted
    assert(spread.size >= 10)
    st.createEntities(spread.map(n => Entity(n, "t", Seq(s"about $n"))))
    val hub = spread.head
    st.createRelations(Seq(
      Relation(spread(1), hub, "in"), Relation(spread(2), hub, "in"),
      Relation(hub, spread(3), "out"), Relation(hub, spread(4), "out"),
      Relation(spread(5), spread(6), "side"), Relation(spread(5), spread(6), "kept")))
    // an update plus two inserts over at least two buckets
    val batch = Seq(Entity(spread(7), "t2", Seq("p", "q")),
      Entity("new-a", "t", Seq("r")), Entity("new-b", "t", Seq("s")))
    assert(batch.map(e => b(e.name)).distinct.size >= 2)
    val (_, createEntities) = jobsDuring(st.createEntities(batch))
    val rels = Seq(Relation("new-a", spread(8), "knows"), Relation(spread(9), "new-b", "knows"))
    assert(rels.map(r => b(r.from)).distinct.size == 2 && rels.map(r => b(r.to)).distinct.size == 2)
    val (_, createRelations) = jobsDuring(st.createRelations(rels))
    // the hub's in-edge sources and out-edge targets live in other buckets:
    // the cascade rewrites three relations and three rev buckets
    val (_, deleteEntity) = jobsDuring(st.deleteEntity(hub))
    val (_, deleteRelation) = jobsDuring(st.deleteRelation(spread(5), spread(6), "side"))
    assert((createEntities, createRelations, deleteEntity, deleteRelation) == ((7, 4, 7, 3)))
    assert(st.getEntity(spread(7)) == Entity(spread(7), "t2", Seq("p", "q")))
    assert(st.getEntity("new-b") == Entity("new-b", "t", Seq("s")))
    intercept[NoSuchElementException](st.getEntity(hub))
    assert(st.relations.collect().map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet ==
      Set((spread(5), spread(6), "kept"), ("new-a", spread(8), "knows"), (spread(9), "new-b", "knows")))
    assertRevMirror(st)
  }

  test("serve reads run one Spark job each: getEntity hit and miss, readGraph's hydration, a search hit set's hydration") {
    import spark.implicits._
    // one bucket: every name shares the bucket, so a miss that sorts
    // between stored names still reads a file (the worst case for a miss)
    val st = new GraphStore(spark, Files.createTempDirectory("graft-store-").toString,
      numBuckets = 1)
    st.initialize()
    seed(st)
    st.createRelations(Seq(Relation("Alice", "Bob", "knows"),
      Relation("Bob", "Acme Corp", "works_at")))
    val (alice, hitJobs) = jobsDuring(st.getEntity("Alice"))
    assert(alice == Entity("Alice", "person", Seq("software engineer")))
    assert(hitJobs == 1, s"getEntity hit ran $hitJobs jobs")
    assert(st.filesForKeys("entities", Seq("Alicia")).nonEmpty)
    val (_, missJobs) = jobsDuring(intercept[NoSuchElementException](st.getEntity("Alicia")))
    assert(missJobs == 1, s"getEntity miss ran $missJobs jobs")
    // readGraph: one job for the top-10 recent hits, one for their rows
    val ((ents, rels), graphJobs) = jobsDuring(st.readGraph())
    assert(ents.map(_.name).toSet == Set("Alice", "Bob", "Acme Corp"))
    assert(rels == Seq(Relation("Alice", "Bob", "knows"), Relation("Bob", "Acme Corp", "works_at")))
    assert(graphJobs == 2, s"readGraph ran $graphJobs jobs")
    // a search's hit set, collected to the driver (a local relation runs
    // no job of its own): hydrating it — observations and edges — is 1 job
    val hits = GraphOps.searchEntities(st.entities, st.observations, "person")
      .select("name", "entity_type").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.toDF("name", "entity_type")
    val ((hitEnts, hitRels), hydrateJobs) = jobsDuring(st.graphResult(hits))
    assert(hitEnts.map(_.name) == Seq("Alice", "Bob"))
    assert(hitRels == rels)
    assert(hydrateJobs == 1, s"hydrating a search hit set ran $hydrateJobs jobs")
    assert(st.searchNodes("person") == (hitEnts, hitRels))
  }

  /** A store that counts how often its calls resolve the store state. */
  private class CountingStore(dir: String) extends GraphStore(spark, dir, numBuckets = 1) {
    var states = 0
    override private[graft] def state(): GraphStore.State = { states += 1; super.state() }
  }

  test("serve reads resolve the store state once per call: getEntity hit and miss, searchNodes, readGraph") {
    val st = new CountingStore(Files.createTempDirectory("graft-store-").toString)
    st.initialize()
    seed(st)
    st.createRelations(Seq(Relation("Alice", "Bob", "knows")))
    def once[A](what: String)(call: => A): A = {
      st.states = 0
      val out = call
      assert(st.states == 1, s"$what resolved the store state ${st.states} times")
      out
    }
    assert(once("getEntity")(st.getEntity("Alice")) ==
      Entity("Alice", "person", Seq("software engineer")))
    once("getEntity miss")(intercept[NoSuchElementException](st.getEntity("Nobody")))
    assert(once("searchNodes")(st.searchNodes("person"))._1.map(_.name) == Seq("Alice", "Bob"))
    assert(once("readGraph")(st.readGraph())._2 == Seq(Relation("Alice", "Bob", "knows")))
  }

  test("a read call sees one commit: a commit landing right after it resolved its state stays invisible to it") {
    val dir = Files.createTempDirectory("graft-store-").toString
    val writer = new GraphStore(spark, dir)
    writer.initialize()
    seed(writer)
    writer.createRelations(Seq(Relation("Alice", "Bob", "knows")))
    // the reader runs `commit` (once) right after its next call resolved
    // its state: the commit lands before that call reads any table
    var commit: () => Unit = () => ()
    val reader = new GraphStore(spark, dir) {
      override private[graft] def state(): GraphStore.State = {
        val s = super.state()
        val c = commit
        commit = () => ()
        c()
        s
      }
    }
    val alice = Entity("Alice", "person", Seq("software engineer"))
    val retyped = Entity("Alice", "robot", Seq("rebuilt", "retyped"))
    // an upsert that retypes Alice and replaces her observations
    commit = () => writer.createEntities(Seq(retyped))
    assert(reader.getEntity("Alice") == alice, "the entity row and its observations come from one commit")
    assert(reader.getEntity("Alice") == retyped, "the next call sees the commit")
    // a cascade delete between ranking and hydration
    val before = reader.searchNodes("o")
    assert(before._1.map(_.name).contains("Alice") && before._2.nonEmpty)
    commit = () => writer.deleteEntity("Alice")
    assert(reader.searchNodes("o") == before, "hits hydrate from the state that ranked them")
    val after = reader.searchNodes("o")
    assert(!after._1.map(_.name).contains("Alice") && after._2.isEmpty)
    intercept[NoSuchElementException](reader.getEntity("Alice"))
  }

  test("searchNodes/readGraph edges equal relationsForEntities over the hits, across mixed generations; codepoint order") {
    import spark.implicits._
    import GraphStore.Bucket
    val st = new GraphStore(spark, Files.createTempDirectory("graft-store-").toString,
      numBuckets = 2)
    st.initialize()
    // X and Y are created first, so readGraph's ten most recent are the
    // second batch: A, B and eight fillers
    st.createEntities(Seq(Entity("X", "other", Seq("x")), Entity("Y", "other", Seq("y"))))
    // U+FF21 (fullwidth A) sorts before U+1F600 by codepoint, after it by
    // UTF-16 unit (the emoji's high surrogate is 0xD83D)
    val wide = "\uFF21 fullwidth"
    val grin = "\uD83D\uDE00 grin"
    st.createEntities(Seq(Entity("A", "kindA", Seq(grin, wide)), Entity("B", "kindA", Seq("b"))) ++
      (1 to 8).map(i => Entity(s"f$i", "filler", Seq(s"f$i"))))
    st.createRelations(Seq(
      Relation("A", "A", "self"), // self-loop
      Relation("A", "B", "ab"), Relation("B", "A", "ba"), // hit to hit, both ways
      Relation("A", "B", "par"), Relation("A", "B", "par"), // parallel edges
      Relation("A", "B", grin), Relation("A", "B", wide),
      Relation("X", "A", "in"), // in-edge from a non-hit
      Relation("B", "X", "out"), // out-edge to a non-hit
      Relation("X", "Y", "none"), // touches no hit
      Relation("Y", "f3", "in"), Relation("f5", "Y", "out")))
    val byCodepoint = Ordering.Tuple3(GraphStore.CodepointOrdering,
      GraphStore.CodepointOrdering, GraphStore.CodepointOrdering)
    def check(stage: String): Unit = {
      def want(names: Seq[String]) =
        GraphOps.relationsForEntities(st.relations, names.toDF("name")).collect()
          .map(r => Relation(r.getString(0), r.getString(1), r.getString(2)))
          .sortBy(r => (r.from, r.to, r.relationType))(byCodepoint).toSeq
      val (hits, rels) = st.searchNodes("kinda")
      assert(hits.map(_.name).toSet == Set("A", "B"), stage)
      assert(rels == want(hits.map(_.name)), stage)
      assert(rels.count(_ == Relation("A", "A", "self")) == 1, stage)
      assert(rels.count(_ == Relation("A", "B", "par")) == 2, stage)
      assert(rels.contains(Relation("X", "A", "in")) && !rels.exists(_.relationType == "none"), stage)
      assert(rels.indexOf(Relation("A", "B", wide)) < rels.indexOf(Relation("A", "B", grin)), stage)
      assert(hits.find(_.name == "A").get.observations == Seq(wide, grin), stage)
      val (recent, graphRels) = st.readGraph()
      assert(recent.map(_.name).toSet == Set("A", "B") ++ (1 to 8).map(i => s"f$i"), stage)
      assert(graphRels == want(recent.map(_.name)), stage)
      assert(graphRels.contains(Relation("Y", "f3", "in")), stage)
      assert(st.getEntity("A").observations == Seq(wide, grin), stage)
    }
    assert(Seq(wide, grin).sorted != Seq(wide, grin)) // the two orders differ
    check("generation 0")
    // split one bucket of each edge table: gen-0 and gen-1 buckets coexist
    st.splitBucket("relations", Bucket(0, GraphStore.bucketFor("A", 2)))
    st.splitBucket("relations_rev", Bucket(0, GraphStore.bucketFor("B", 2)))
    assert(st.liveBuckets("relations").map(_.gen).toSet == Set(0, 1))
    assert(st.liveBuckets("relations_rev").map(_.gen).toSet == Set(0, 1))
    check("mixed generations")
  }
}

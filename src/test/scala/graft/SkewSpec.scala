package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.store.{Entity, GraphStore}

class SkewSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // one hot key with 10k values, a handful of cold keys
  private lazy val skewed = ((1 to 10000).map(i => ("hot", s"v$i")) ++
    (1 to 5).map(i => (s"cold$i", s"w$i"))).toDF("k", "v")

  test("saltedJoin equals the plain join, multiplicity preserved") {
    val dim = Seq(("hot", 1), ("cold1", 2), ("cold1", 3)).toDF("dk", "attr")
    val salted = Skew.saltedJoin(skewed, dim, $"k", $"dk", salts = 8)
      .select("k", "v", "attr")
    val plain = skewed.join(dim, $"k" === $"dk").select("k", "v", "attr")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("SQL views expose the graph to spark.sql") {
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir)
    st.initialize()
    st.createEntities(Seq(
      Entity("Alice", "person", Seq("engineer")),
      Entity("Acme", "company", Seq("startup"))))
    st.createOrReplaceViews()
    val out = spark.sql(
      """SELECT e.name, o.content FROM graft_entities e
         JOIN graft_observations o ON e.name = o.entity_name
         WHERE e.entity_type = 'person' ORDER BY e.name""").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("Alice", "engineer")))
  }

  test("multimodal frame sampling emits stride-spaced indices for video rows") {
    import graft.pipeline.{Multimodal, MediaRow}
    val docs = Seq((2L, "a video doc with frames"), (0L, "an image doc"))
      .toDF("doc_id", "text")
    val meta = Multimodal.decodeMeta(
      Multimodal.withMediaColumn(docs, "doc_id", "text").as[MediaRow])
    val out = Multimodal.sampleFrameIndices(meta, stride = 10).collect()
    assert(out.length == 1) // only the video row (doc_id 2)
    val idx = out.head.getSeq[Int](2)
    assert(idx.head == 0 && idx.forall(_ % 10 == 0))
  }

  /** All bucket-version dirs of a table, as "b<k>/v<M>" strings. */
  private def bucketVersionDirs(dir: String, table: String): Set[String] = {
    val td = new java.io.File(s"$dir/$table")
    Option(td.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty)
        .filter(v => v.isDirectory && v.getName.matches("v\\d+"))
        .map(v => s"${b.getName}/${v.getName}"))
      .toSet
  }

  test("crashed stage: orphan bucket versions/snapshots don't affect reads, vacuum removes them, next commit works") {
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir)
    st.initialize()
    st.createEntities(Seq(Entity("A", "t", Seq("one"))))
    // simulate a commit that staged its bucket version and snapshot
    // descriptor but died before the manifest flip
    val entDir = new java.io.File(s"$dir/entities")
    val bucket = entDir.listFiles().filter(_.getName.matches("b\\d+")).head
    val maxV = bucket.listFiles().filter(_.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).max
    val orphan = new java.io.File(bucket, s"v${maxV + 1}")
    orphan.mkdirs()
    new java.io.File(orphan, "part-orphan.parquet").createNewFile()
    val orphanSnap = new java.io.File(s"$dir/entities/_snapshots/s99")
    java.nio.file.Files.write(orphanSnap.toPath,
      s"${bucket.getName.drop(1)}=v${maxV + 1}".getBytes)
    // reads resolve the manifest, not directory listings
    assert(st.getEntity("A").observations == Seq("one"))
    // vacuum under the lock removes both orphans, keeps the live version
    st.vacuum(keepVersions = 1)
    assert(!orphan.exists() && !orphanSnap.exists())
    assert(st.getEntity("A").observations == Seq("one"))
    // and the next commit proceeds normally
    st.createEntities(Seq(Entity("B", "t", Seq("two"))))
    assert(st.entities.count() == 2)
  }

  test("vacuum keeps the current snapshot readable and drops old bucket versions") {
    val dir = Files.createTempDirectory("graft-store-").toString
    val st = new GraphStore(spark, dir)
    st.initialize()
    st.createEntities(Seq(Entity("A", "t", Seq("one"))))
    st.createEntities(Seq(Entity("B", "t", Seq("two"))))
    st.compact("entities")
    assert(st.entities.count() == 2) // compaction preserves content
    val before = bucketVersionDirs(dir, "entities")
    assert(before.size >= 3) // two writes + a compaction across >= 1 bucket
    st.vacuum(keepVersions = 1)
    val after = bucketVersionDirs(dir, "entities")
    // exactly the current snapshot's dirs survive: one live version per
    // populated bucket, nothing else
    assert(after.size < before.size)
    assert(after.groupBy(_.split("/")(0)).forall(_._2.size == 1))
    val snaps = new java.io.File(s"$dir/entities/_snapshots")
      .listFiles().count(_.getName.matches("s\\d+"))
    assert(snaps == 1)
    assert(st.entities.count() == 2) // current snapshot intact
    assert(st.getEntity("B").observations == Seq("two"))
  }
}

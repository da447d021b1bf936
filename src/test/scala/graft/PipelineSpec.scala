package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis, MediaRow}

/** Unit coverage of the pipeline extension operators on inline fixtures. */
class PipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("shingles: trigrams with positions; short docs yield empty") {
    val out = Seq("a b c d", "a b", "").toDF("text")
      .select(Dedup.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
    assert(out(2).isEmpty)
  }

  test("native shingles expression equals the builtin-HOF twin on real docs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
    Seq(2, 3, 5).foreach { n =>
      val both = docs.select(
        Dedup.shingles(col("text"), n).as("fast"),
        Dedup.shinglesFold(col("text"), n).as("fold")).collect()
      both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    }
  }

  test("winnowing: locality guarantee, density, rightmost tie, short docs") {
    def fps(rows: Seq[(Long, String)]): Map[Long, Set[(Long, String)]] =
      TextAnalysis.winnow(rows.toDF("doc_id", "text"),
          col("doc_id"), col("text"), k = 3, w = 4)
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(x => (x._2, x._3)).toSet }
    // two docs sharing a (w+k-1)=6-word run MUST share >=1 fingerprint
    // hash, wherever the run sits (the winnowing guarantee)
    val shared = "quick brown foxes vault over hedges"
    val out = fps(Seq(
      1L -> s"alpha beta gamma $shared delta epsilon",
      2L -> s"$shared zeta eta theta iota kappa lambda mu"))
    val common = out(1).map(_._2) intersect out(2).map(_._2)
    assert(common.nonEmpty, "docs sharing a 6-word run must share a fingerprint")
    // density: far fewer fingerprints than grams on a real doc
    val real = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val nGrams = real.select(size(Dedup.shingles(col("text"), 3)).cast("long"))
      .as[Long].collect().sum
    val nFps = TextAnalysis.winnow(real, col("doc_id"), col("text")).count()
    assert(nFps > 0 && nFps < nGrams,
      s"winnowing must subsample: $nFps fingerprints of $nGrams grams")
    // rightmost tie: a doc of one repeated word has ONE distinct gram
    // hash everywhere; each window picks its RIGHTMOST position
    val rep = fps(Seq(3L -> Array.fill(10)("x").mkString(" "))) // 8 grams
    assert(rep(3).map(_._1) == Set(3L, 4L, 5L, 6L, 7L),
      s"rightmost-tie positions wrong: ${rep(3)}")
    // short docs: < k tokens -> no rows; k..k+w-2 tokens -> one window
    val short = fps(Seq(4L -> "a b", 5L -> "p q r s")) // 0 grams / 2 grams
    assert(!short.contains(4L))
    assert(short(5L).size == 1)
  }

  test("native winnow expression equals the builtin-HOF twin on real docs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(300)
    Seq((3, 4), (2, 5), (5, 1), (3, 50)).foreach { case (k, w) =>
      val fast = TextAnalysis.winnow(docs, col("doc_id"), col("text"), k, w)
        .orderBy("doc_id", "pos").collect().toSeq
      val fold = TextAnalysis.winnowFold(docs, col("doc_id"), col("text"), k, w)
        .orderBy("doc_id", "pos").collect().toSeq
      assert(fast == fold, s"k=$k w=$w: native ${fast.size} != fold ${fold.size}")
    }
    // planted rightmost-tie case: identical grams — deque's >= pop must pick
    // the rightmost, like the HOF's index fold
    val tie = Seq((1L, "x y z x y z x y z")).toDF("doc_id", "text")
    val a = TextAnalysis.winnow(tie, col("doc_id"), col("text"), 3, 4)
      .orderBy("pos").collect().toSeq
    val b = TextAnalysis.winnowFold(tie, col("doc_id"), col("text"), 3, 4)
      .orderBy("pos").collect().toSeq
    assert(a == b)
  }

  test("winnowPairs: planted near-dups collide, winnowed index far smaller than shingle index, hot fps pruned") {
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> base,
      2L -> (base + " tail one two three"), // shares 40-word prefix with 1
      3L -> (0 until 40).map(i => s"z$i").mkString(" "), // unrelated
      4L -> ("common boiler plate here " * 3).trim) // repeated grams only
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, col("doc_id"), col("text"),
        k = 3, w = 4, minShared = 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L),
      s"docs sharing a 40-word run must pair: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get
    assert(p12._6 > 900000L, s"near-total overlap expected, got ppm ${p12._6}")
    // the scale claim: the winnowed inverted index is a small fraction of
    // the full shingle index on real docs
    val real = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
    val nSh = real.select(explode(array_distinct(Dedup.shingles(col("text"), 3))))
      .count()
    val nFp = TextAnalysis.winnow(real, col("doc_id"), col("text"))
      .select("doc_id", "fp").distinct().count()
    assert(nFp * 2 < nSh, s"winnowed index $nFp not smaller than shingle index $nSh")
    // stop-fingerprint pruning: a fp in ALL docs is dropped at maxDocFreq=2
    val many = (10L to 15L).map(i => i -> (base + s" unique$i marker$i end$i"))
      .toDF("doc_id", "text")
    val pruned = Dedup.winnowPairs(many, col("doc_id"), col("text"),
      k = 3, w = 4, minShared = 1L, maxDocFreq = 2)
    assert(pruned.count() == 0, "fps shared by >2 docs must be pruned from the index")
  }

  test("removeDuplicatedSpansKeepFirst: exactly one copy of a duplicated span survives") {
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      1L -> s"alpha beta $span gamma delta epsilon zeta eta",
      2L -> s"$span other words here completely different tail ok",
      3L -> "totally unrelated content with eight unique words here")
      .toDF("doc_id", "text")
    val keepFirst = TextAnalysis.removeDuplicatedSpansKeepFirst(
        docs, col("doc_id"), col("text"), k = 8)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    // doc 1 holds the canonical (first-by-key) occurrence: fully kept
    assert(keepFirst(0)._3.contains(span), s"canonical copy cut: ${keepFirst(0)}")
    // doc 2's copy is cut
    assert(!keepFirst(1)._3.contains("dup1"), s"non-canonical copy kept: ${keepFirst(1)}")
    assert(keepFirst(2)._2 == 8, "untouched doc must keep all tokens")
    // the both-copies variant cuts doc 1's copy too — keep-first strictly retains more
    val both = TextAnalysis.removeDuplicatedSpans(
        docs, col("doc_id"), col("text"), k = 8)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    assert(!both(0)._3.contains("dup1"))
    assert(keepFirst.map(_._2).sum > both.map(_._2).sum)
  }

  test("removeDuplicatedSpansKeepFirst: string ids get the same keep-one semantics") {
    // the winner key is min(struct(doc_id, i)) — lexicographic, so a
    // string id column works exactly; a packed numeric key would go NULL
    // here and silently keep every copy
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      "doc-a" -> s"alpha beta $span gamma delta epsilon zeta eta",
      "doc-b" -> s"$span other words here completely different tail ok")
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicatedSpansKeepFirst(
        docs, col("doc_id"), col("text"), k = 8)
      .orderBy("doc_id").as[(String, Long, String)].collect()
    assert(out(0)._3.contains(span), s"canonical (min-id) copy cut: ${out(0)}")
    assert(!out(1)._3.contains("dup1"), s"non-canonical copy kept: ${out(1)}")
  }

  test("winnowPairsIncremental: maintained index equals from-scratch restricted to batch pairs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 40)
    val batch = docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
    val corpusFps = TextAnalysis.winnow(corpus, col("doc_id"), col("text"))
      .select("doc_id", "fp").distinct()
    val inc = Dedup.winnowPairsIncremental(batch, col("doc_id"), col("text"),
        corpusFps, minShared = 1L, maxDocFreq = 8)
      .orderBy("a_id", "b_id").collect().toSeq
    val full = Dedup.winnowPairs(docs.filter(col("doc_id") < 60),
        col("doc_id"), col("text"), minShared = 1L, maxDocFreq = 8)
      .filter(col("b_id") >= 40)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(inc == full, s"incremental ${inc.size} pairs != restricted full ${full.size}")
    assert(inc.nonEmpty, "fixture must produce at least one candidate pair")
  }

  test("gopherRules: each rule flips on exactly its planted violation") {
    val okDoc = "the cat sat of the mat and that dog have fun with all " +
      "going around town today making words reach twenty easily now"
    val docs = Seq(
      1L -> okDoc, // passes all five
      2L -> "the of and", // too short: r_len=0 (others may pass)
      3L -> okDoc.replace("cat", "x".repeat(600)), // giant word: r_mwl=0
      4L -> okDoc.split(" ").map(w => "123").mkString(" "), // no alpha, no stops
      5L -> okDoc.replaceAll("\\b(the|of|and|that|have|with)\\b", "zz"), // r_stop=0
      6L -> (okDoc + " " + "#".repeat(50).split("").mkString(" "))) // symbols
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    def flags(i: Int) = (r(i).getAs[Int]("r_len"), r(i).getAs[Int]("r_mwl"),
      r(i).getAs[Int]("r_alpha"), r(i).getAs[Int]("r_stop"),
      r(i).getAs[Int]("r_sym"), r(i).getAs[Int]("keep"))
    assert(flags(0) == ((1, 1, 1, 1, 1, 1)), s"doc1 ${flags(0)}")
    assert(flags(1)._1 == 0 && flags(1)._6 == 0)
    assert(flags(2)._2 == 0 && flags(2)._6 == 0)
    assert(flags(3)._3 == 0 && flags(3)._4 == 0 && flags(3)._6 == 0)
    assert(flags(4)._4 == 0 && flags(4)._6 == 0)
    assert(flags(5)._5 == 0 && flags(5)._6 == 0)
    // ppm measurements are exact integers (true integer division)
    assert(r(0).schema("mwl_ppm").dataType.typeName == "long")
  }

  test("dsirWeights: target-like docs outrank off-target; deterministic") {
    // target corpus speaks bigrams over {alpha}; raw noise speaks {zeta}
    val target = (0 until 20).map(i =>
      (i.toLong, "alpha beta gamma delta alpha beta gamma delta", true))
    val noise = (20 until 40).map(i =>
      (i.toLong, s"zeta$i eta$i theta$i iota$i kappa$i lambda$i", false))
    // probes: 100 = pure target language, 101 = pure noise language
    val probes = Seq((100L, "alpha beta gamma delta", false),
      (101L, "zeta0 eta0 theta0 iota0", false))
    val docs = (target ++ noise ++ probes).toDF("doc_id", "text", "is_t")
    val w = TextAnalysis.dsirWeights(docs, col("doc_id"), col("text"),
        isTarget = col("is_t"), buckets = 64)
      .as[(Long, Long)].collect().toMap
    assert(w(100L) > w(101L),
      s"target-language probe must outweigh noise probe: ${w(100L)} vs ${w(101L)}")
    assert(w(100L) > 0 && w(101L) < 0,
      s"signs: target-like positive, off-target negative (${w(100L)}, ${w(101L)})")
    val w2 = TextAnalysis.dsirWeights(docs.repartition(7), col("doc_id"),
      col("text"), isTarget = col("is_t"), buckets = 64)
      .as[(Long, Long)].collect().toMap
    assert(w == w2, "weights must be layout-independent (sequential fold)")
  }

  test("shingles: null tokens skipped with their separator (concat_ws semantics)") {
    // 'a',null,'c' → one 3-shingle "a c" — identical to the documented
    // concat_ws twin, which drops nulls entirely (ADVICE r1: the old native
    // expression rendered 'a  c' with a double separator)
    val out = Seq(Tuple1(Seq("a", null, "c")))
      .toDF("toks")
      .select(graft.functions.VectorFunctions.shingles(col("toks"), 3))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a c"))
    // and agrees with concat_ws directly
    val ws = Seq(Tuple1(Seq("a", null, "c"))).toDF("toks")
      .select(concat_ws(" ", col("toks"))).as[String].collect()
    assert(out(0).head == ws.head)
  }

  test("ngram jaccard: stop-shingle pruning drops hot-shingle-only pairs, keeps denominators exact") {
    // docs 1/2 share a REAL near-dup overlap; docs 3/4/5/6 share only the
    // ubiquitous shingle "the same thing" (df=6 > maxDocFreq=2) — with
    // pruning they must not pair, and 1/2's jaccard must still use the
    // UNPRUNED set sizes in the denominator.
    val docs = Seq(
      (1L, "the same thing w1 w2 w3 w4 w5"),
      (2L, "the same thing w1 w2 w3 w4 w5"),
      (3L, "the same thing a1 a2 a3 a4 a5"),
      (4L, "the same thing b1 b2 b3 b4 b5"),
      (5L, "the same thing c1 c2 c3 c4 c5"),
      (6L, "the same thing d1 d2 d3 d4 d5")).toDF("doc_id", "text")
    val unpruned = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pruned = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.05,
      maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(unpruned.keySet.contains((3L, 4L))) // hot-shingle pair, unpruned
    assert(!pruned.keySet.contains((3L, 4L))) // pruned away
    assert(unpruned((1L, 2L)) == 1.0)
    // true near-dup survives; the hot shingle leaves the numerator (5 of 6
    // common shingles remain) but the denominator stays the UNPRUNED union
    assert(pruned((1L, 2L)) == 5.0 / 7.0)
  }

  test("repetitionRatio: repeats counted, clean text 0, short text 0") {
    val out = Seq(
      (1L, "a b c a b c"),   // shingles: abc bca cab abc → 1 repeat of 4
      (2L, "w x y z"),       // all distinct
      (3L, "a b")            // too short → 0
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) == 0.25 && out(2L) == 0.0 && out(3L) == 0.0)
  }

  test("contamination: shared shingles counted, clean docs absent") {
    val train = Seq((10L, "the exact benchmark phrase appears here"),
      (11L, "totally unrelated words only")).toDF("doc_id", "text")
    val bench = Seq((1L, "the exact benchmark phrase is secret")).toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.contamination(
        train, col("doc_id"), col("text"), bench, col("text"), n = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(10L -> 2L)) // "the exact benchmark", "exact benchmark phrase"
  }

  test("ivfTopK: probing all cells equals brute force; partial probe has decent recall") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    def run(nprobe: Int) = Similarity.ivfTopK(
        q, e, cents,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        col("vec_id"), col("embedding"), k = 3, nprobe = nprobe)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(q, e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(run(nprobe = 4) == brute) // all cells probed ⇒ exhaustive
    val recall = (run(nprobe = 2) & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"nprobe=2 recall $recall")
  }

  test("ivf persisted index: probe equals the inline search and prunes to probed cells") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_spec").toString
    Similarity.buildIvfIndex(e, cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$dir/ivf")
    val persisted = Similarity.ivfProbeIndex(q, s"$dir/ivf", cents,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    val inline = Similarity.ivfTopK(q, e, cents,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        col("vec_id"), col("embedding"), k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(persisted == inline, "index probe must equal the inline IVF search")
    // disk-level pruning: a one-cell filter must SCAN only that cell's
    // directory. (inputFiles reflects the pre-pruning listing, so the
    // evidence is the executed scan's numFiles metric + PartitionFilters.)
    val oneCell = spark.read.parquet(s"$dir/ivf").filter(col("centroid_id") === 0)
    assert(oneCell.collect().nonEmpty)
    val scan = oneCell.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("centroid_id"),
      s"no partition filter pushed: ${scan.metadata("PartitionFilters")}")
    val total = spark.read.parquet(s"$dir/ivf").inputFiles.length
    assert(scan.metrics("numFiles").value < total,
      s"scanned ${scan.metrics("numFiles").value} of $total files - no pruning")
  }

  test("ivf incremental append: probing base+appended index equals a from-scratch rebuild") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val incDir = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    val allDir = java.nio.file.Files.createTempDirectory("ivf_all").toString
    Similarity.buildIvfIndex(e.filter(col("vec_id") >= 20), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$incDir/ivf")
    Similarity.appendToIvfIndex(e.filter(col("vec_id") < 20), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$incDir/ivf")
    Similarity.buildIvfIndex(e, cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$allDir/ivf")
    def probe(path: String) = Similarity.ivfProbeIndex(q, path, cents,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(probe(s"$incDir/ivf") == probe(s"$allDir/ivf"))
  }

  test("ivf deletion: cell-pruned rewrite equals a rebuild over survivors; untouched cells untouched; emptied cells removed") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val delDir = java.nio.file.Files.createTempDirectory("ivf_del").toString
    val survDir = java.nio.file.Files.createTempDirectory("ivf_surv").toString
    Similarity.buildIvfIndex(e, cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$delDir/ivf")
    // pick the delete batch as EVERY vector of one whole cell plus a
    // scattering from others (vec_id % 9 == 4) — exercises both the
    // emptied-cell removal and the in-cell anti-join
    val idx = spark.read.parquet(Similarity.ivfCurrentDir(s"$delDir/ivf"))
    val cellOf = idx.select("neighbor_id", "centroid_id")
      .as[(Long, Long)].collect().toMap
    val victimCell = cellOf.values.groupBy(identity).minBy(_._2.size)._1
    val deletePred = col("vec_id") % 9 === 4 ||
      col("vec_id").isInCollection(cellOf.collect {
        case (v, c) if c == victimCell => v }.toSeq)
    // files of an unaffected cell must be byte-identical afterwards (the
    // rewrite must not touch cells holding no deleted vector; the version
    // flip carries them by hardlink, so name AND mtime survive). Resolves
    // the CURRENT committed version dir at each call.
    def cellFiles(c: Long) = {
      val dir = new java.io.File(
        s"${Similarity.ivfCurrentDir(s"$delDir/ivf")}/centroid_id=$c")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedCell = cellOf.collect {
      case (v, c) if c != victimCell && v % 9 != 4 => c }.headOption
      .filter(c => !cellOf.exists { case (v, cc) => cc == c && v % 9 == 4 })
    val beforeFiles = untouchedCell.map(cellFiles)
    Similarity.deleteFromIvfIndex(e.filter(deletePred), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$delDir/ivf")
    assert(!new java.io.File(
        s"${Similarity.ivfCurrentDir(s"$delDir/ivf")}/centroid_id=$victimCell").exists(),
      "a cell whose vectors were all deleted must disappear")
    untouchedCell.foreach { c =>
      assert(cellFiles(c) == beforeFiles.get, s"unaffected cell $c was rewritten")
    }
    // probe ≡ rebuild over the survivors
    Similarity.buildIvfIndex(e.filter(!deletePred), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$survDir/ivf")
    def probe(path: String) = Similarity.ivfProbeIndex(q, path, cents,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    val got = probe(s"$delDir/ivf")
    assert(got.nonEmpty)
    assert(got == probe(s"$survDir/ivf"))
    // no deleted vector can surface as a neighbor
    val deletedIds = e.filter(deletePred).select("vec_id").as[Long].collect().toSet
    assert(got.forall { case (_, n, _) => !deletedIds.contains(n) })
  }

  test("ivf commit protocol: readers never see a partial mutation; crash leaves the committed version intact") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("ivf_commit").toString
    val path = s"$root/ivf"
    def probe() = Similarity.ivfProbeIndex(q, path, cents,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    def versions() = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d{6}"))
      .map(_.getName).toSet
    // retain window off FOR THIS ROOT ONLY: this test pins the GC floor
    // itself (head + head−1 always survive); the reader GRACE period on
    // top of it is VersionedDirSpec's "pinned reader survives rapid
    // commits" test
    graft.store.VersionedDir.withRetention(path, 0L) {
    Similarity.buildIvfIndex(e, cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), path)
    assert(versions() == Set("v000001"))
    val p0 = probe()
    // a CRASHED mutation = a _stage_* dir that never claimed a version
    // slot: readers must be untouched by it, and later mutations step past
    // it (version ids are claimed by atomic rename, never by a stage name)
    val stray = new java.io.File(path, "_stage_deadbeef/centroid_id=0")
    java.nio.file.Files.createDirectories(stray.toPath)
    assert(probe() == p0, "an uncommitted stage dir must be invisible to probes")
    // delete a vector that IS a returned neighbor, so the commit observably
    // changes the probe result
    val victim = p0.map(_._2).min
    Similarity.deleteFromIvfIndex(e.filter(col("vec_id") === victim), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), path)
    // the PREVIOUS committed version survives one commit for in-flight
    // readers; everything older is GC'd
    assert(versions() == Set("v000001", "v000002"), s"got ${versions()}")
    val p1 = probe()
    assert(p1.nonEmpty && p1 != p0)
    assert(!p1.exists(_._2 == victim), "deleted vector surfaced as a neighbor")
    Similarity.deleteFromIvfIndex(e.filter(col("vec_id") === p1.map(_._2).min),
      cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), path)
    assert(versions() == Set("v000002", "v000003"), s"got ${versions()}")
    }
  }

  test("ivf CAS commit: a mutation racing another reruns — exactly one claims each slot, no lost update") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("ivf_cas").toString
    val path = s"$root/ivf"
    def cols = (col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(e.filter(col("vec_id") >= 40), cents,
      cols._1, cols._2, cols._1, cols._2, path) // v1
    // deterministic CAS loss: between THIS append's stage and its claim, a
    // competing append commits from the same base — the exact lost-update
    // interleaving the old last-writer-wins flip silently dropped
    @volatile var injected = false
    graft.store.VersionedDir.withPreCommitHook(path, _ =>
      if (!injected) {
        injected = true // the injected mutation must not re-trigger itself
        Similarity.appendToIvfIndex(e.filter(col("vec_id") < 20), cents,
          cols._1, cols._2, cols._1, cols._2, path)
      }) {
      Similarity.appendToIvfIndex(
        e.filter(col("vec_id") >= 20 && col("vec_id") < 40), cents,
        cols._1, cols._2, cols._1, cols._2, path)
    }
    assert(injected, "the competing commit never ran")
    // both batches landed: the loser rerun re-staged on the winner's state
    val ids = spark.read.parquet(Similarity.ivfCurrentDir(path))
      .select("neighbor_id").as[Long].collect().toSet
    assert(ids == e.select("vec_id").as[Long].collect().toSet,
      s"lost update: ${e.count() - ids.size} vectors missing")
    // the slots tell the story: v2 = injected winner, v3 = rerun commit
    // (v1 may linger inside the commit-GC reader grace period)
    val vs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d{6}"))
      .map(_.getName).toSet
    assert(Set("v000002", "v000003").subsetOf(vs) && !vs.contains("v000004"),
      s"got $vs")
    // the audit diff of the FINAL commit is exactly the rerun's batch
    val d = Similarity.diffIvfVersions(path, spark)
      .as[(String, Long, Long)].collect()
    assert(d.forall(_._1 == "added"))
    assert(d.map(_._2).toSet ==
      e.filter(col("vec_id") >= 20 && col("vec_id") < 40)
        .select("vec_id").as[Long].collect().toSet)
    // and the index answers like a from-scratch build over everything
    val unionDir = java.nio.file.Files.createTempDirectory("ivf_cas_u").toString
    Similarity.buildIvfIndex(e, cents, cols._1, cols._2, cols._1, cols._2,
      s"$unionDir/ivf")
    def probe(p: String) = Similarity.ivfProbeIndex(q, p, cents,
        cols._1, cols._2, cols._1, cols._2, k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(probe(path) == probe(s"$unionDir/ivf"))
  }

  test("ivf CAS commit: a crashed append leaves the committed version byte-identical — no torn batch") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("ivf_crash").toString
    val path = s"$root/ivf"
    def cols = (col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(e.filter(col("vec_id") >= 20), cents,
      cols._1, cols._2, cols._1, cols._2, path) // v1
    def filesOf(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).map(f => f.getPath -> f.length()).toMap
    }
    val curBefore = Similarity.ivfCurrentDir(path)
    val before = filesOf(curBefore)
    def probe() = Similarity.ivfProbeIndex(q, path, cents,
        cols._1, cols._2, cols._1, cols._2, k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    val p0 = probe()
    // crash at the worst point: the stage is fully built (all cells
    // written) but the version slot was never claimed — with the old
    // in-place mode("append") this was a TORN batch inside the committed
    // dir; now the committed version must be byte-identical
    graft.store.VersionedDir.withPreCommitHook(path,
      _ => throw new RuntimeException("simulated crash")) {
      intercept[RuntimeException] {
        Similarity.appendToIvfIndex(e.filter(col("vec_id") < 20), cents,
          cols._1, cols._2, cols._1, cols._2, path)
      }
    }
    assert(Similarity.ivfCurrentDir(path) == curBefore,
      "a crashed append must not advance the committed version")
    assert(filesOf(curBefore) == before,
      "a crashed append mutated the committed version's files")
    assert(probe() == p0)
    // the orphaned stage is on disk (offline-vacuum garbage), invisible
    assert(Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .exists(f => f.isDirectory && f.getName.startsWith("_stage_")))
    // retrying the append on the intact index completes and lands the batch
    Similarity.appendToIvfIndex(e.filter(col("vec_id") < 20), cents,
      cols._1, cols._2, cols._1, cols._2, path)
    val ids = spark.read.parquet(Similarity.ivfCurrentDir(path))
      .select("neighbor_id").as[Long].collect().toSet
    assert(ids == e.select("vec_id").as[Long].collect().toSet)
    // and the audit diff now SEES the append (round-11 verdict: in-place
    // appends bypassed version history)
    val d = Similarity.diffIvfVersions(path, spark)
      .as[(String, Long, Long)].collect()
    assert(d.forall(_._1 == "added"))
    assert(d.map(_._2).toSet ==
      e.filter(col("vec_id") < 20).select("vec_id").as[Long].collect().toSet)
  }

  test("ivf CAS commit: two concurrent appenders from two threads lose no update") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("ivf_threads").toString
    val path = s"$root/ivf"
    def cols = (col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(e.filter(col("vec_id") >= 40), cents,
      cols._1, cols._2, cols._1, cols._2, path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def appender(pred: org.apache.spark.sql.Column) =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = Similarity.appendToIvfIndex(e.filter(pred), cents,
          cols._1, cols._2, cols._1, cols._2, path)
      })
    val fa = appender(col("vec_id") < 20)
    val fb = appender(col("vec_id") >= 20 && col("vec_id") < 40)
    fa.get(); fb.get(); pool.shutdown()
    val ids = spark.read.parquet(Similarity.ivfCurrentDir(path))
      .select("neighbor_id").as[Long].collect().toSet
    assert(ids == e.select("vec_id").as[Long].collect().toSet,
      "a concurrent append was lost")
  }

  test("ivf stats + maintainIfNeeded: append file growth heals IN PLACE; probes bit-identical; trigger resets") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("ivf_maint").toString
    val path = s"$root/ivf"
    def cols = (col("vec_id"), col("embedding"))
    def probe() = Similarity.ivfProbeIndex(q, path, cents,
        cols._1, cols._2, cols._1, cols._2, k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    Similarity.buildIvfIndex(e.filter(col("vec_id") >= 300), cents,
      cols._1, cols._2, cols._1, cols._2, path)
    // three appends: every touched cell gains a part file per append
    // (old files adopted beside the new ones)
    for (lo <- Seq(0, 100, 200))
      Similarity.appendToIvfIndex(
        e.filter(col("vec_id") >= lo && col("vec_id") < lo + 100), cents,
        cols._1, cols._2, cols._1, cols._2, path)
    val s1 = Similarity.ivfStats(spark, path)
    assert(s1.version == 4 && s1.vectors == e.count())
    assert(s1.maxFilesPerCell >= 4,
      s"appends should accumulate files per cell, got $s1")
    val before = probe()
    // rows untouched => the compacted index probes bit-identically
    assert(Similarity.ivfMaintainIfNeeded(spark, path,
      maxFilesPerCell = s1.maxFilesPerCell - 1))
    val s2 = Similarity.ivfStats(spark, path)
    assert(s2.version == 5 && s2.maxFilesPerCell == 1 &&
      s2.vectors == s1.vectors && s2.cells == s1.cells, s"got $s2")
    assert(probe() == before, "compaction changed probe results")
    // trigger reset: the unconditional per-batch call is now a no-op
    assert(!Similarity.ivfMaintainIfNeeded(spark, path,
      maxFilesPerCell = s1.maxFilesPerCell - 1))
    assert(graft.store.VersionedDir.head(path) == 5)
    // and the healed index keeps taking appends + deletes
    Similarity.deleteFromIvfIndex(e.filter(col("vec_id") === 7), cents,
      cols._1, cols._2, cols._1, cols._2, path)
    assert(!probe().exists(_._2 == 7L))
  }

  test("ivf hot-cell split: one CAS claim retires the parent; membership exact; appends route to children") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = e.filter(col("vec_id") < 2) // two close centroids → fat cells
    val root = java.nio.file.Files.createTempDirectory("ivf_split_").toString
    val path = s"$root/ivf"
    def cols = (col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(e.filter(col("vec_id") < 400), cents,
      cols._1, cols._2, cols._1, cols._2, path)
    def members() = spark.read.parquet(Similarity.ivfCurrentDir(path))
      .select("neighbor_id").as[Long].collect().toSet
    val before = Similarity.ivfCellRowCounts(spark, path).toMap
    val hot = before.maxBy(_._2)._1.stripPrefix("centroid_id=").toLong
    val memBefore = members()
    assert(Similarity.splitIvfCell(spark, path, hot))
    val after = Similarity.ivfCellRowCounts(spark, path).toMap
    assert(!after.contains(s"centroid_id=$hot"), "parent cell not retired")
    val kids = after.keySet -- before.keySet
    assert(kids == Set("centroid_id=2", "centroid_id=3"),
      s"children must mint past the max centroid id, got $kids")
    assert(kids.forall(k => after(k) > 0) &&
      kids.toSeq.map(after).sum == before(s"centroid_id=$hot"),
      "split membership must repartition the parent exactly")
    assert(members() == memBefore, "split lost or duplicated vectors")
    // the centroid table evolved in the SAME claim: -parent +2 children
    val ct = spark.read.parquet(s"${Similarity.ivfCurrentDir(path)}/_centroids")
    assert(ct.count() == 3 &&
      ct.filter(col("centroid_id") === hot).isEmpty)
    // appends after the split route under the index's OWN centroids —
    // the retired parent id must never get a cell dir again
    Similarity.appendToIvfIndex(e.filter(col("vec_id") >= 400), cents,
      cols._1, cols._2, cols._1, cols._2, path)
    val grown = Similarity.ivfCellRowCounts(spark, path).toMap
    assert(!grown.contains(s"centroid_id=$hot"),
      "an append resurrected the retired parent cell")
    assert(grown.values.sum == e.count(), "append after split lost rows")
    // exhaustive probe over the split index == brute force
    val q = e.filter(col("vec_id") < 8)
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val probed = triples(Similarity.ivfProbeIndex(q, path, cents,
      cols._1, cols._2, cols._1, cols._2, k = 3, nprobe = 16))
    val brute = triples(Similarity.bruteForceTopK(q, e,
      cols._1, cols._2, cols._1, cols._2, k = 3))
    assert(probed == brute, "exhaustive probe of the split index diverged")
  }

  test("ivf hot-cell split: identical-vector cell is degenerate — no commit, maintenance does not spin") {
    import graft.store.VersionedDir
    val corpus = (0L until 10L).map(i => (i, Seq.fill(8)(1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((100L, Seq.fill(8)(1f))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivf_degen_")
      .toString + "/ivf"
    def cols = (col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(corpus, cents,
      cols._1, cols._2, cols._1, cols._2, path)
    val h = VersionedDir.head(path)
    assert(!Similarity.splitIvfCell(spark, path, 100L),
      "a cell of identical vectors must refuse to split")
    assert(VersionedDir.head(path) == h, "a refused split committed a version")
    // the rows gate marks it unsplittable and exits instead of spinning
    assert(!Similarity.ivfMaintainIfNeeded(spark, path, maxRowsPerCell = 2))
    assert(VersionedDir.head(path) == h)
  }

  test("ivfMaintainIfNeeded rows gate: recursive splits bound the hot cell; trigger resets; rows preserved") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = e.filter(col("vec_id") < 2)
    val path = java.nio.file.Files.createTempDirectory("ivf_rowgate_")
      .toString + "/ivf"
    def cols = (col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(e, cents, cols._1, cols._2, cols._1, cols._2, path)
    val s0 = Similarity.ivfStats(spark, path)
    val gate = s0.maxRowsPerCell / 2
    assert(Similarity.ivfMaintainIfNeeded(spark, path, maxRowsPerCell = gate))
    val s1 = Similarity.ivfStats(spark, path)
    assert(s1.maxRowsPerCell <= gate,
      s"hot cells not bounded: ${s1.maxRowsPerCell} > $gate")
    assert(s1.cells > s0.cells && s1.vectors == s0.vectors, s"$s0 -> $s1")
    assert(!Similarity.ivfMaintainIfNeeded(spark, path, maxRowsPerCell = gate),
      "healed index must be a maintenance no-op")
  }

  test("ivf version diff: a delete's removals, cell-exact; a crashed stage is never diffed against") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("ivf_diff_").toString
    val path = s"$root/ivf"
    def cols = (col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(e, cents, cols._1, cols._2, cols._1, cols._2, path)
    // fresh index: one committed version, nothing to diff against
    assert(Similarity.diffIvfVersions(path, spark).count() === 0L)
    Similarity.deleteFromIvfIndex(e.filter(col("vec_id") % 7 === 3), cents,
      cols._1, cols._2, cols._1, cols._2, path)
    // a crashed mutation's stage (never claimed a version slot) must be
    // invisible to the diff
    java.nio.file.Files.createDirectories(
      new java.io.File(path, "_stage_00crash/centroid_id=0").toPath)
    val d = Similarity.diffIvfVersions(path, spark)
      .orderBy("neighbor_id").as[(String, Long, Long)].collect()
    val expected = e.filter(col("vec_id") % 7 === 3)
      .select("vec_id").as[Long].collect().toSet
    assert(d.forall(_._1 == "removed"), "a pure delete adds nothing")
    assert(d.map(_._2).toSet === expected, "diff must be exactly the deleted ids")
  }

  test("ivf merge: cell-wise file adoption equals a rebuild over the union; no vector bytes rewritten") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cents = e.filter(col("vec_id") < 4)
    val aDir = java.nio.file.Files.createTempDirectory("ivf_a").toString
    val bDir = java.nio.file.Files.createTempDirectory("ivf_b").toString
    val allDir = java.nio.file.Files.createTempDirectory("ivf_u").toString
    Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$aDir/ivf")
    Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 =!= 0), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$bDir/ivf")
    Similarity.buildIvfIndex(e, cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$allDir/ivf")
    def partNames(root: String): Set[String] = {
      // cell data files only: the _centroids sidecar is EQUAL by content
      // on both sides, so the merge carries exactly one side's copy
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory && f.getName != "_centroids")
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else if (f.isDirectory) Seq.empty
        else Seq(f)
      walk(new java.io.File(root))
        .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val bFiles = partNames(s"$bDir/ivf")
    assert(bFiles.nonEmpty)
    Similarity.mergeIvfIndexes(s"$bDir/ivf", s"$aDir/ivf")
    // adoption, not rewrite: every one of B's part files now lives under A
    // byte-identically (same name — writer part names carry a UUID), and
    // the source index is consumed
    assert(bFiles.subsetOf(partNames(s"$aDir/ivf")),
      "merge must adopt the source's part files, not rewrite them")
    assert(!new java.io.File(s"$bDir/ivf").exists())
    def probe(path: String) = Similarity.ivfProbeIndex(q, path, cents,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    val got = probe(s"$aDir/ivf")
    assert(got.nonEmpty)
    assert(got == probe(s"$allDir/ivf"),
      "probing the merged index must equal probing a from-scratch union build")
  }

  test("stratified sampling: untouched strata exact, downsampled near fraction") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val fr = Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0)
    val keep = graft.pipeline.Splits.stratifiedKeep(col("doc_id"), col("lang"), fr)
    val counts = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val sampled = docs.filter(keep)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    Seq("de", "es", "fr", "zh").foreach(l => assert(sampled(l) == counts(l)))
    val frac = sampled("en").toDouble / counts("en")
    assert(frac > 0.3 && frac < 0.7, s"en sampled fraction $frac")
    // layout-independent: the EXACT same rows survive under any partitioning
    // (the property seeded sampleBy lacks — its RNG stream is per-partition)
    val first = docs.filter(keep).select("doc_id").as[Long].collect().toSet
    val again = docs.repartition(7).filter(keep)
      .select("doc_id").as[Long].collect().toSet
    assert(again == first)
    // strata absent from the fraction map are dropped (sampleBy semantics)
    val only = docs.filter(
        graft.pipeline.Splits.stratifiedKeep(col("doc_id"), col("lang"), Map("en" -> 1.0)))
      .select("lang").distinct().as[String].collect().toSeq
    assert(only == Seq("en"))
  }

  test("curate: exact dups dropped, per-lang median threshold applied") {
    val good = "the quick brown fox jumps over the lazy dog and keeps " +
      "running through the wide open field for a while longer today"
    val docs = Seq(
      (1L, "en", good),        // high quality
      (2L, "en", good),        // exact dup of 1 → dropped before scoring
      (3L, "en", "x y"),       // low quality
      (4L, "en", good + " extra tail words here"),
      (5L, "fr", "a b")        // sole fr doc: median = itself → kept
    ).toDF("doc_id", "lang", "text")
    val out = graft.pipeline.Curate.curate(docs,
        col("doc_id"), col("text"), col("lang"))
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(2L)) // dup never scored
    assert(out.contains(5L))  // == its own median
    assert(out.contains(1L) && out.contains(4L) && !out.contains(3L))
  }

  test("packBatches: contiguous token-budget packing per shard") {
    val docs = Seq(
      (1L, "s1", "a b c"),       // 3 tokens, cum_before 0 → batch 0
      (2L, "s1", "d e f g"),     // 4 tokens, cum_before 3 → batch 0
      (3L, "s1", "h i j k l m"), // 6 tokens, cum_before 7 → batch 0 (overflows)
      (4L, "s1", "n o"),         // cum_before 13 → batch 1
      (5L, "s2", "p q r")        // fresh shard → batch 0
    ).toDF("doc_id", "shard", "text")
    val out = TextAnalysis.packBatches(docs, col("doc_id"), col("text"),
        shard = col("shard"), budget = 10L, order = col("doc_id"))
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
    // every batch holds ≤ budget tokens before its last (possibly
    // overflowing) document — the contiguous-packing invariant
  }

  test("exact dedup keeps smallest id per duplicated key") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "k")
    val out = Dedup.exact(df, col("k"), col("id")).collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "x" && out.head.getLong(2) == 1L)
  }

  test("ngram jaccard: identical docs score 1.0; disjoint docs absent") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 w5"),
      (3L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.1).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L &&
      out.head.getDouble(2) == 1.0)
  }

  test("containment: short doc quoted in long doc scores 1.0 where jaccard misses it") {
    // doc 1 (6 shingles) appears verbatim inside doc 2 (18 shingles):
    // containment(1⊆2) = 6/6 = 1.0, but jaccard = 6/18 = 0.33 — under any
    // usable near-dup threshold. Doc 3 is disjoint and must not pair.
    val quoted = "q1 q2 q3 q4 q5 q6 q7 q8"
    val docs = Seq(
      (1L, quoted),
      (2L, s"p1 p2 p3 p4 p5 $quoted s1 s2 s3 s4 s5"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
    val cont = Dedup.containment(docs, col("doc_id"), col("text"), 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(cont.keySet == Set((1L, 2L)))
    assert(cont((1L, 2L))._1 == 1.0)             // all of 1's shingles in 2
    assert(cont((1L, 2L))._2 < 0.5)              // 2 mostly NOT in 1
    val jac = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.5).collect()
    assert(jac.isEmpty)                          // jaccard misses the quote
  }

  test("containment dominates jaccard: every jaccard pair passes containment at the same threshold") {
    // max-direction containment = |∩|/min(|A|,|B|) ≥ |∩|/|A∪B| = jaccard,
    // so at equal thresholds the jaccard pair set must be a subset
    val docs = (1 to 40).map { i =>
      val words = (0 until (3 + i % 7)).map(j => s"w${(i * 13 + j * 7) % 25}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val jac = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 2, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val con = Dedup.containment(docs, col("doc_id"), col("text"), 2, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(jac.nonEmpty, "fixture must produce jaccard pairs")
    assert(jac.subsetOf(con), s"jaccard pairs missing from containment: ${jac -- con}")
  }

  test("connected components: chains merge, disjoint stay apart, rep is min id") {
    // chain 5-4-3-2-1 needs multiple propagation rounds; (10,11) is a
    // separate component
    val pairs = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L))
      .toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(cc(_) == 1L))
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc.size == 7)
  }

  test("connected components: non-convergence within maxIter fails loudly") {
    // chain 1-2-3-4-5 cannot settle in one round — silent wrong
    // representatives would split duplicate clusters undetected
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 1).collect()
    }
  }

  test("connected components: empty pair input yields empty output") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("minhash LSH: identical docs collide in every band; disjoint docs don't pair") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, col("doc_id"), col("text"), 3, 4, 2).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("incremental minhash: new batch pairs against corpus index without re-pairing corpus") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    val idx = Dedup.minhashBandIndex(corpus, col("doc_id"), col("text"))
    val batch = Seq(
      (10L, "w1 w2 w3 w4 w5 w6"),  // dup of corpus doc 1
      (11L, "q1 q2 q3 q4 q5 q6"),  // novel
      (12L, "q1 q2 q3 q4 q5 q6")   // dup of 11 within the batch
    ).toDF("doc_id", "text")
    val pairs = Dedup.incrementalMinhashPairs(batch, col("doc_id"), col("text"), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 1L), (12L, 11L)))
  }

  test("incremental minhash: persisted index round-trip — append batches, equal full recompute") {
    // the 100 TB ingestion story end-to-end: the band index is durable state
    // on disk; each ingest batch (a) detects pairs against the persisted
    // index and (b) appends its own rows, so no batch ever re-shingles the
    // corpus. Two batches in, the pair set must equal what a from-scratch
    // pairing of everything seen so far would find.
    val dir = java.nio.file.Files.createTempDirectory("mh_idx")
      .toFile.getAbsolutePath + "/mh"
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "w1 w2 w3 w4 w5 w6"),   // dup of corpus doc 1
      (11L, "q1 q2 q3 q4 q5 q6")).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "q1 q2 q3 q4 q5 q6"),   // dup of batch-1 doc 11 — only visible
        (21L, "r1 r2 r3 r4 r5 r6")  // through the persisted index
      ).toDF("doc_id", "text")
    Dedup.buildMinhashIndex(corpus, col("doc_id"), col("text"), dir)
    var found = Set.empty[(Long, Long)]
    Seq(b1, b2).foreach { batch =>
      val idx = Dedup.readMinhashIndex(spark, dir)
      found ++= Dedup.incrementalMinhashPairs(batch, col("doc_id"), col("text"), idx)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      Dedup.appendToMinhashIndex(batch, col("doc_id"), col("text"), dir)
    }
    assert(found == Set((10L, 1L), (20L, 11L)))
    // cross-check vs from-scratch pairing of the full corpus
    val full = Dedup.minhashLsh(corpus.union(b1).union(b2), col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (b,a) = (new, dup_of)
    assert(found == full)
  }

  test("minhash index lifecycle: tombstone delete never re-signatures; maintain heals in place and resets") {
    import graft.store.{VersionedDir, VersionedDocTable}
    def doc(i: Long): String = {
      val base = if (i % 10 == 7) i - 1 else i // planted dup every 10th
      (0 until 6).map(j => s"t${base * 31 + j}").mkString(" ")
    }
    val docs = (0L until 60L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_life")
      .toFile.getAbsolutePath + "/mh"
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") < 40),
      col("doc_id"), col("text"), dir, n = 3, bands = 4, rowsPerBand = 4)
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") >= 40),
      col("doc_id"), col("text"), dir, n = 3, bands = 4, rowsPerBand = 4)
    def pairs() = Dedup.pairsFromBandIndex(Dedup.readMinhashIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 60L).filter(_ % 10 == 7).map(i => (i - 1, i)).toSet
    assert(pairs() == planted, "append != rebuild on the planted dup set")
    // O(batch) delete: tombstones only — the band table carries by hardlink
    val vBefore = VersionedDir.currentDir(dir)
    Dedup.deleteFromMinhashIndex(
      (0L until 60L).filter(_ % 4 == 1).toDF("doc_id"), col("doc_id"), dir)
    val vAfter = VersionedDir.currentDir(dir)
    def ino(f: java.io.File): Any =
      java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
    val oldParts = new java.io.File(s"$vBefore/bands").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(oldParts.nonEmpty && oldParts.forall { p =>
      val np = new java.io.File(s"$vAfter/bands", p.getName)
      np.exists() && ino(np) == ino(p)
    }, "delete rewrote the band table instead of appending tombstones")
    val surviving = planted.filter(p => p._1 % 4 != 1 && p._2 % 4 != 1)
    assert(pairs() == surviving)
    // 25% tombstoned (rowsPerKey = 4 bands) => due; heals in place; resets
    def stats() = VersionedDocTable.stats(spark, dir, Dedup.MinhashTable)
    val st = stats()
    assert(st.rowCount == 240 && st.tombstoneCount == 15)
    assert(st.deletedFraction(4) > 0.2)
    assert(Dedup.minhashMaintainIfNeeded(spark, dir, bands = 4))
    assert(!Dedup.minhashMaintainIfNeeded(spark, dir, bands = 4))
    val healed = stats()
    assert(healed.tombstoneCount == 0 && healed.rowCount == 45 * 4)
    assert(healed.dataFiles <= 8, s"compact left ${healed.dataFiles} files")
    assert(pairs() == surviving, "compact changed the surviving pairs")
  }

  test("semDedup: keep-first within a cell; a similar pair straddling cells is untouched") {
    // c100 = x-axis, c101 = y-axis. v0 ≡ v1 land in cell 100 → v1 (higher
    // id) dropped. v2 → cell 100, v3 → cell 101 with cos(v2,v3) ≈ 0.994 —
    // similar but cross-cell, so BOTH survive: the method's documented
    // recall trade, pinned as a property.
    val emb = Seq(
      (0L, Seq(1f, 0.1f, 0f, 0f)),
      (1L, Seq(1f, 0.1f, 0f, 0f)),
      (2L, Seq(1f, 0.9f, 0f, 0f)),
      (3L, Seq(0.9f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),
      (101L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb, col("vec_id"), col("embedding"),
        cents, col("vec_id"), col("embedding"), threshold = 0.98)
      .orderBy("vec_id").as[(Long, Long, Int)].collect()
    assert(out.map(r => r._1 -> r._2).toMap ===
      Map(0L -> 100L, 1L -> 100L, 2L -> 100L, 3L -> 101L), "cell assignment")
    assert(out.map(r => r._1 -> r._3).toMap ===
      Map(0L -> 1, 1L -> 0, 2L -> 1, 3L -> 1),
      "keep-first in-cell; cross-cell near-dup untouched")
  }

  test("semDedupIncremental: batch verdicts equal from-scratch union verdicts restricted to the batch") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = e.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("semdedup_inc_").toString
    graft.pipeline.Similarity.buildIvfIndex(e.filter(col("vec_id") < 300), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), s"$dir/ivf")
    val inc = Dedup.semDedupIncremental(e.filter(col("vec_id") >= 300),
        col("vec_id"), col("embedding"), s"$dir/ivf",
        cents, col("vec_id"), col("embedding"), threshold = 0.45)
      .orderBy("vec_id").as[(Long, Long, Int)].collect().toSeq
    val full = Dedup.semDedup(e, col("vec_id"), col("embedding"),
        cents, col("vec_id"), col("embedding"), threshold = 0.45)
      .filter(col("vec_id") >= 300)
      .orderBy("vec_id").as[(Long, Long, Int)].collect().toSeq
    assert(inc.nonEmpty && inc === full,
      "incremental must equal the from-scratch union restricted to batch ids")
  }

  test("semDedupIncremental: re-scoring after its batch landed in the index is replay-stable") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = e.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("semdedup_replay_").toString
    val idx = s"$dir/ivf"
    graft.pipeline.Similarity.buildIvfIndex(e.filter(col("vec_id") < 300), cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), idx)
    val batch = e.filter(col("vec_id") >= 300)
    def score() = Dedup.semDedupIncremental(batch, col("vec_id"), col("embedding"),
        idx, cents, col("vec_id"), col("embedding"), threshold = 0.45)
      .orderBy("vec_id").as[(Long, Long, Int)].collect().toSeq
    val first = score()
    graft.pipeline.Similarity.appendToIvfIndex(batch, cents,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), idx)
    // a foreachBatch retry re-scores AFTER the first delivery advanced the
    // index: every batch vector now has an indexed copy of itself (and of
    // its later-id batchmates) at cosine 1.0 — pre-round-15 the corpus
    // join had no id guard, so the replay flipped every verdict to dropped
    assert(score() === first, "replayed verdicts diverged from the first delivery's")
    assert(first.exists(_._3 == 1) && first.exists(_._3 == 0),
      "degenerate fixture: need both kept and dropped verdicts to discriminate")
  }

  test("minhash index over non-numeric doc ids: tombstone delete addresses string keys (no silent no-op)") {
    val docs = (0L until 30L)
      .map(i => (s"doc-$i", (0 until 6).map(j => s"w${i * 31 + j}").mkString(" ")))
      .toDF("name", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_str_")
      .toFile.getAbsolutePath + "/mh"
    Dedup.buildMinhashIndex(docs, col("name"), col("text"), dir)
    assert(Dedup.readMinhashIndex(spark, dir)
      .select("doc_id").distinct().count() == 30)
    // migration seam first: a pre-round-15 delete on this string index
    // wrote all-null LONG tombstones (the silent no-op). The next typed
    // delete must DROP those poisoned parts — adopting them beside
    // string tombstones would mix parquet schemas and break every read
    import graft.store.VersionedDir
    VersionedDir.mutate(dir) { (_, cur) =>
      val stage = VersionedDir.stageDir(dir)
      VersionedDir.adoptTree(
        new java.io.File(s"$cur/bands"), new java.io.File(s"$stage/bands"))
      Seq(Option.empty[Long]).toDF("doc_id").write.parquet(s"$stage/deletes")
      Some(stage)
    }
    Dedup.deleteFromMinhashIndex(
      Seq("doc-3", "doc-7").toDF("name"), col("name"), dir)
    val left = Dedup.readMinhashIndex(spark, dir)
      .select("doc_id").distinct().as[String].collect().toSet
    // pre-round-15 the tombstones were blind-cast to long → all-null
    // keys, the read anti-join matched nothing, and the delete no-op'd
    assert(left.size == 28 && !left("doc-3") && !left("doc-7"),
      "string-keyed delete was a silent no-op (or legacy null tombstones " +
        "schema-mixed the deletes table)")
    // a SECOND typed delete must hardlink-adopt the first's (type-matched)
    // tombstones — both waves stay deleted
    Dedup.deleteFromMinhashIndex(Seq("doc-9").toDF("name"), col("name"), dir)
    val after = Dedup.readMinhashIndex(spark, dir)
      .select("doc_id").distinct().as[String].collect().toSet
    assert(after.size == 27 && !after("doc-9") && !after("doc-3"),
      "typed tombstones must accumulate across deletes")
    // keys that cannot be losslessly cast to the table's doc_id type
    // fail fast instead of tombstoning garbage
    val numDir = java.nio.file.Files.createTempDirectory("mh_num_")
      .toFile.getAbsolutePath + "/mh"
    Dedup.buildMinhashIndex(
      (0L until 5L).map(i => (i, s"a$i b$i c$i d$i")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), numDir)
    intercept[IllegalArgumentException] {
      Dedup.deleteFromMinhashIndex(
        Seq("not-a-number").toDF("doc_id"), col("doc_id"), numDir)
    }
  }

  test("keepRepresentatives: drops non-representative cluster members, keeps pair-free docs") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),  // dup of 1 → dropped
      (3L, "w1 w2 w3 w4 w5 w6"),  // dup of 1 → dropped
      (4L, "z1 z2 z3 z4 z5 z6")   // pair-free → kept
    ).toDF("doc_id", "text")
    val comps = Dedup.connectedComponents(
      Dedup.minhashLsh(docs, col("doc_id"), col("text")))
    val kept = Dedup.keepRepresentatives(docs, col("doc_id"), comps)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("simhash: identical text identical hash; near text within small hamming") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different words about spark catalyst tungsten engine")
    ).toDF("id", "text").select(col("id"), Dedup.simhash(col("text")).as("h"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
    assert(ham(m(1L), m(3L)) <= 12)
  }

  test("cosine: orthogonal -> 0, identical -> 1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f))
    ).toDF("a", "b").select(Similarity.cosine(col("a"), col("b")).as("c"))
    val out = df.as[Double].collect()
    assert(math.abs(out(0)) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
  }

  test("native cosine expression is bit-identical to the builtin fold") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f), Array.fill(64)(rnd.nextFloat() - 0.5f))
    }.toDF("id", "a", "b")
    val out = vecs.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      Similarity.cosineFold(col("a"), col("b")).as("fold"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine_sim registered for SQL via extensions surface") {
    graft.functions.VectorFunctions.register(spark)
    val one = spark.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))")
      .head().getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
  }

  test("bruteForceTopK: self excluded, ranks contiguous, k respected") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 3L))
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2))
  }

  test("tokenStats + subwords + quality + langid sanity") {
    val df = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val stats = TextAnalysis.tokenStats(df, col("doc_id"), col("text")).head()
    assert(stats.getInt(2) == 6)          // n_tokens
    assert(stats.getInt(3) == 5)          // distinct (the ×2)
    val lang = df.select(TextAnalysis.langId(col("text"))).as[String].head()
    assert(lang == "en")
    val und = Seq((2L, "qqq www eee")).toDF("doc_id", "text")
      .select(TextAnalysis.langId(col("text"))).as[String].head()
    assert(und == "und")
    val q = df.select(TextAnalysis.qualityScore(col("text"))).as[Double].head()
    assert(q >= 0.0 && q <= 1.0)
  }

  test("native simhash expression is bit-identical to the builtin fold") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
    val out = docs.select(
      Dedup.simhash(col("text")).as("fast"),
      Dedup.simhashFold(col("text")).as("fold"))
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native simhash yields null on null token elements (like the fold twin)") {
    val df = Seq(("a", Option("b")), ("a", None)).toDF("t1", "t2")
      .select(graft.functions.VectorFunctions.simhash(array(col("t1"), col("t2"))).as("h"))
      .collect()
    assert(!df(0).isNullAt(0))
    assert(df(1).isNullAt(0))
  }

  test("hamming distance column: 0 for identical, counts differing bits") {
    val df = Seq((0L, 0L), (0L, 7L), (255L, 0L)).toDF("a", "b")
      .select(Dedup.hamming(col("a"), col("b")).as("h"))
    assert(df.as[Long].collect().toSeq == Seq(0L, 3L, 8L))
  }

  test("approxDistinct within rsd of exact counts") {
    val df = (1 to 20000).map(i => (i % 1000, i % 37)).toDF("k1", "k2")
    val approx = graft.pipeline.Profile.approxDistinct(df, Seq("k1", "k2"), rsd = 0.02).head()
    assert(math.abs(approx.getLong(0) - 1000) <= 60)
    assert(approx.getLong(1) == 37 || math.abs(approx.getLong(1) - 37) <= 2)
  }

  test("multimodal: decode stub emits typed metadata per row, deterministic") {
    val docs = Seq((0L, "hello spark"), (1L, "binary payload here"), (2L, "video doc"))
      .toDF("doc_id", "text")
    val meta = Multimodal.decodeMeta(
      Multimodal.withMediaColumn(docs, "doc_id", "text").as[MediaRow])
      .collect().sortBy(_.doc_id)
    assert(meta.map(_.format).toSeq == Seq("image", "audio", "video"))
    assert(meta(0).byte_len == "hello spark".length)
    assert(meta.forall(m => m.width >= 16 && m.height >= 16 && m.n_frames >= 1))
    // deterministic across runs
    val again = Multimodal.decodeMeta(
      Multimodal.withMediaColumn(docs, "doc_id", "text").as[MediaRow])
      .collect().sortBy(_.doc_id)
    assert(meta.toSeq == again.toSeq)
  }

  test("multimodal: REAL ImageIO decode of a known synthetic PNG pins exact pixel stats") {
    // doc_id=5: a=5, w=21, h=25 → closed-form sums (verified brute-force):
    //   r_sum = 25·(21·5 + 210) = 7875, g_sum = 255·525 − 7875 = 126000,
    //   b_sum = 21·(25·5 + 300) = 8925
    val png = Multimodal.synthesizePng(5L)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)) // real PNG magic
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 21 && img.getHeight == 25)
    assert((img.getRGB(3, 0) >> 16 & 0xff) == 8) // r(x=3) = (5+3) % 256

    val stats = Multimodal.decodeImage(
      Seq(MediaRow(5L, png, "image")).toDS()).head()
    assert(stats == graft.pipeline.ImageStats(5L, 21, 25, 525, 7875, 126000, 8925))
  }

  test("multimodal: JDK JPEG decode is bit-stable — checked-in byte fixture pins exact pixel stats") {
    // The fixture is a REAL 664-byte JPEG (the doc_id=7 gradient, 23×26,
    // encoded once by this container's JDK 17 built-in writer and frozen
    // here as bytes). Its decoded channel sums were measured at check-in
    // time; if a JDK update ever changes the JPEG decoder's output, this
    // pin fails loudly — the precondition for treating JDK JPEG as a real
    // (non-stub) codec path (round-8 verdict item 7). Note the sums differ
    // from the lossless gradient (r=10965 vs exact 7875-style closed forms
    // would give 13650): DCT quantization is real, which is the point.
    val fixture = java.util.Base64.getDecoder.decode(
      "/9j/4AAQSkZJRgABAgAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0aHBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/2wBDAQkJCQwLDBgNDRgyIRwhMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjL/wAARCAAaABcDASIAAhEBAxEB/8QAHwAAAQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQAAAF9AQIDAAQRBRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3ODk6Q0RFRkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWmp6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/8QAHwEAAwEBAQEBAQEBAQAAAAAAAAECAwQFBgcICQoL/8QAtREAAgECBAQDBAcFBAQAAQJ3AAECAxEEBSExBhJBUQdhcRMiMoEIFEKRobHBCSMzUvAVYnLRChYkNOEl8RcYGRomJygpKjU2Nzg5OkNERUZHSElKU1RVVldYWVpjZGVmZ2hpanN0dXZ3eHl6goOEhYaHiImKkpOUlZaXmJmaoqOkpaanqKmqsrO0tba3uLm6wsPExcbHyMnK0tPU1dbX2Nna4uPk5ebn6Onq8vP09fb3+Pn6/9oADAMBAAIRAxEAPwDUNNNPNMNfniifldMYaKU0VXKda2JjTDTzTTWqRx0xhopTRVWOtbH/2Q==")
    assert(fixture.take(3).map(_ & 0xff).toSeq == Seq(0xff, 0xd8, 0xff)) // JPEG SOI
    val stats = Multimodal.decodeImage(
      Seq(MediaRow(7L, fixture, "image")).toDS()).head()
    assert(stats == graft.pipeline.ImageStats(7L, 23, 26, 598,
      10965L, 141626L, 11517L),
      s"JDK JPEG decoder output changed on this platform: $stats")
    // decode is deterministic within the JVM: second pass bit-identical
    val again = Multimodal.decodeImage(
      Seq(MediaRow(7L, fixture, "image")).toDS()).head()
    assert(again == stats)
    // synthesizeJpeg produces decodable REAL JPEGs whose dimensions always
    // survive the lossy round trip (what the mm_decode_jpeg oracle pins)
    for (id <- Seq(0L, 7L, 42L, 255L, 256L, 9999L)) {
      val j = Multimodal.synthesizeJpeg(id)
      assert(j.take(3).map(_ & 0xff).toSeq == Seq(0xff, 0xd8, 0xff))
      val st = Multimodal.decodeImage(Seq(MediaRow(id, j, "image")).toDS()).head()
      assert(st.width == 16 + id % 17 && st.height == 16 + (id * 7) % 13,
        s"dims lost in JPEG round trip for doc $id: $st")
      assert(st.r_sum >= 0, s"doc $id fell back to the stub path")
    }
  }

  test("multimodal: averageHash matches an independent brute-force replica; fallback hashes 0") {
    val png = Multimodal.synthesizePng(5L)
    // independent replica of the definition: decode here, pool 8×8 on
    // luminance 2r+b, cross-multiplied mean test
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val (w, h) = (img.getWidth, img.getHeight)
    val cs = Array.ofDim[Long](8, 8); val cp = Array.ofDim[Long](8, 8)
    var tot = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val lum = 2L * ((rgb >> 16) & 0xff) + (rgb & 0xff)
      cs(y * 8 / h)(x * 8 / w) += lum; cp(y * 8 / h)(x * 8 / w) += 1; tot += lum
    }
    var want = 0L
    for (cy <- 0 until 8; cx <- 0 until 8)
      if (cs(cy)(cx) * w * h > tot * cp(cy)(cx)) want |= 1L << (cy * 8 + cx)
    val got = Multimodal.averageHash(Seq(MediaRow(5L, png, "image")).toDS())
      .as[(Long, Long, Boolean)].head()
    assert(got == ((5L, want, true)))
    // same image bytes → hamming 0 through the banded join
    val fps = Seq((1L, want), (2L, want)).toDF("doc_id", "fp")
    val p = Dedup.bandedHammingPairs(fps, 64, 4, 3)
      .as[(Long, Long, Int)].collect()
    assert(p.toSeq == Seq((1L, 2L, 0)))
    // 3 flipped bits inside ONE band: other bands match → found (pigeonhole)
    val fps3 = Seq((1L, want), (2L, want ^ 0x7L)).toDF("doc_id", "fp")
    assert(Dedup.bandedHammingPairs(fps3, 64, 4, 3)
      .as[(Long, Long, Int)].collect().toSeq == Seq((1L, 2L, 3)))
    // undecodable payload → hash 0, decoded=false
    val bad = Multimodal.averageHash(
      Seq(MediaRow(9L, "junk".getBytes("UTF-8"), "image")).toDS())
      .as[(Long, Long, Boolean)].head()
    assert(bad == ((9L, 0L, false)))
  }

  test("multimodal: phash index lifecycle — build/append/delete/compact under the CAS, decode paid once") {
    import graft.store.{VersionedDir, VersionedDocTable}
    def media(ids: Seq[Long]) =
      ids.map(i => MediaRow(i, Multimodal.synthesizePng(i), "image")).toDS()
    val root = java.nio.file.Files.createTempDirectory("phash_idx")
      .toString + "/phash"
    Multimodal.buildPhashIndex(media(0L until 40L), root)
    Multimodal.appendToPhashIndex(media(40L until 60L), root)
    val full = Multimodal.averageHash(media(0L until 60L))
      .select("doc_id", "ahash").as[(Long, Long)].collect().toSet
    // append ≡ rebuild: the committed index equals a from-scratch decode
    def read() = Multimodal.readPhashIndex(spark, root)
      .as[(Long, Long)].collect().toSet
    assert(read() == full)
    // O(batch) delete: tombstones only — the hashes table is NOT rewritten
    // (its files carry by hardlink into the new version)
    val vBefore = VersionedDir.currentDir(root)
    Multimodal.deleteFromPhashIndex(
      (0L until 60L).filter(_ % 4 == 1).toDF("doc_id"), col("doc_id"), root)
    val vAfter = VersionedDir.currentDir(root)
    def ino(f: java.io.File): Any =
      java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
    val oldParts = new java.io.File(s"$vBefore/hashes").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(oldParts.nonEmpty && oldParts.forall { p =>
      val np = new java.io.File(s"$vAfter/hashes", p.getName)
      np.exists() && ino(np) == ino(p)
    }, "delete rewrote the hashes table instead of appending tombstones")
    val survivors = full.filterNot(_._1 % 4 == 1)
    assert(read() == survivors)
    // stats sees the drift; maintain folds it in place and resets
    def stats() = VersionedDocTable.stats(spark, root, Multimodal.PhashTable)
    val st = stats()
    assert(st.rowCount == 60 && st.tombstoneCount == 15)
    assert(st.deletedFraction() > 0.2)
    assert(Multimodal.phashMaintainIfNeeded(spark, root))
    assert(!Multimodal.phashMaintainIfNeeded(spark, root))
    val healed = stats()
    assert(healed.tombstoneCount == 0 && healed.rowCount == 45)
    assert(healed.dataFiles <= 8, s"compact left ${healed.dataFiles} files")
    assert(read() == survivors, "compact changed the surviving rows")
    // file-count trigger: enough appends re-arm the gate
    (0 until 4).foreach(b =>
      Multimodal.appendToPhashIndex(media(100L + b until 101L + b), root))
    val grown = stats()
    assert(Multimodal.phashMaintainIfNeeded(spark, root,
      maxHashFiles = grown.dataFiles - 1, targetFiles = 1))
    assert(!Multimodal.phashMaintainIfNeeded(spark, root,
      maxHashFiles = grown.dataFiles - 1, targetFiles = 1))
    // converging knobs are enforced, not documented-only
    intercept[IllegalArgumentException] {
      Multimodal.phashMaintainIfNeeded(spark, root,
        maxHashFiles = 4, targetFiles = 8)
    }
  }

  test("multimodal: decodeImage falls back to the deterministic stub on non-image bytes") {
    val bytes = "not an image at all".getBytes("UTF-8")
    val stats = Multimodal.decodeImage(
      Seq(MediaRow(9L, bytes, "audio")).toDS()).head()
    val (w, h, _) = Multimodal.FakeDecoder.decode(bytes, "audio")
    assert(stats.width == w && stats.height == h)
    assert(stats.r_sum == -1L && stats.g_sum == -1L && stats.b_sum == -1L)
  }

  test("multimodal: REAL JDK audio decode of a known synthetic WAV pins exact sample stats") {
    // doc_id=5: a=5, n=69 → Σs = 256·(2691 − 128·69) = −1572096,
    //   peak = 256·max(|73−128|, |5−128|) = 31488, duration = 69·125 µs
    val wav = Multimodal.synthesizeWav(5L)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    // independent parse: the JDK codec agrees with the hand-rolled header
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ais.getFormat.getSampleRate == 8000f)
    assert(ais.getFormat.getChannels == 1)
    assert(ais.getFrameLength == 69L)

    val stats = Multimodal.decodeAudio(
      Seq(MediaRow(5L, wav, "audio")).toDS()).head()
    assert(stats == graft.pipeline.AudioStats(5L, 8000, 69, -1572096L, 31488, 8625L))
  }

  test("multimodal: decodeAudio falls back to the deterministic stub on non-audio bytes") {
    val bytes = "definitely not a wav".getBytes("UTF-8")
    val stats = Multimodal.decodeAudio(
      Seq(MediaRow(9L, bytes, "image")).toDS()).head()
    assert(stats.sample_rate == -1 && stats.sum_samples == -1L && stats.peak_abs == -1)
  }

  test("multimodal: windowed audio frames aggregate the really-decoded PCM per 32-sample cut") {
    // doc_id=5 (a=5, n=69): frames of 32/32/5 samples with closed-form
    // sums/peaks (verified brute-force against the ramp)
    val wav = Multimodal.synthesizeWav(5L)
    val frames = Multimodal.decodeAudioFrames(
      Seq(MediaRow(5L, wav, "audio")).toDS(), frameLen = 32)
      .collect().sortBy(_.frame_idx).toSeq
    assert(frames == Seq(
      graft.pipeline.AudioFrame(5L, 0, 32, -880640L, 31488),
      graft.pipeline.AudioFrame(5L, 1, 32, -618496L, 23296),
      graft.pipeline.AudioFrame(5L, 2, 5, -72960L, 15104)))
    // windowing is a partition of the stream: totals match the whole-stream decode
    val whole = Multimodal.decodeAudio(Seq(MediaRow(5L, wav, "audio")).toDS()).head()
    assert(frames.map(_.n_samples).sum == whole.n_samples)
    assert(frames.map(_.sum_samples).sum == whole.sum_samples)
    assert(frames.map(_.peak_abs).max == whole.peak_abs)
  }

  test("multimodal: strided video decode reads real PNG frames and skips the rest in O(1)") {
    // doc_id=5: w=21, h=25, nf=3; stride 2 → frames 0 and 2 decoded.
    // Frame 0 phase a=5 matches the PNG pin; frame 2 phase a=(5+22)=27.
    val video = Multimodal.synthesizeVideo(5L)
    assert(new String(video.take(4), "US-ASCII") == "GFV1")
    val frames = Multimodal.decodeVideoFrames(
      Seq(MediaRow(5L, video, "video")).toDS(), stride = 2)
      .collect().sortBy(_.frame_idx).toSeq
    assert(frames == Seq(
      graft.pipeline.FrameStats(5L, 0, 21, 25, 7875L, 126000L, 8925L),
      graft.pipeline.FrameStats(5L, 2, 21, 25, 19425L, 114450L, 20475L)))
  }

  test("multimodal: decodeVideoFrames emits one sentinel row on foreign bytes") {
    val bytes = "no container here".getBytes("UTF-8")
    val rows = Multimodal.decodeVideoFrames(
      Seq(MediaRow(9L, bytes, "video")).toDS(), stride = 2).collect().toSeq
    assert(rows.length == 1 && rows.head.frame_idx == -1 && rows.head.r_sum == -1L)
  }

  test("expectations: one-pass suite counts violations; NULL verdict is a violation") {
    val df = Seq(
      (Some(10), Some("a")),
      (Some(60), Some("b")), // fails small
      (None, Some("c")),     // NULL verdict on small -> violation
      (Some(5), None)        // fails named
    ).toDF("x", "name")
    val out = graft.pipeline.Expectations.check(df, Seq(
        "small" -> (col("x") <= 50),
        "named" -> col("name").isNotNull))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("named", 4L, 1L, false),
      ("small", 4L, 2L, false)))
  }

  test("expectations: non-identifier names are refused before SQL generation") {
    val df = Seq((1, "a")).toDF("x", "name")
    intercept[IllegalArgumentException] {
      graft.pipeline.Expectations.check(df, Seq("bad', x" -> (col("x") > 0)))
    }
  }

  test("expectations: empty input passes every expectation over zero rows") {
    val df = Seq.empty[(Option[Int], Option[String])].toDF("x", "name")
    val out = graft.pipeline.Expectations.check(df, Seq(
        "small" -> (col("x") <= 50),
        "named" -> col("name").isNotNull))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(("named", 0L, 0L, true), ("small", 0L, 0L, true)))
  }

  test("multimodal: a well-magicked but TRUNCATED container falls back, never throws") {
    val whole = Multimodal.synthesizeVideo(5L)
    val truncated = whole.take(whole.length / 2) // magic + count survive; frames don't
    val rows = Multimodal.decodeVideoFrames(
      Seq(MediaRow(5L, truncated, "video")).toDS(), stride = 1).collect().toSeq
    assert(rows.length == 1 && rows.head.frame_idx == -1 && rows.head.r_sum == -1L)
  }

  test("duplicatedSpanStats: cross-doc and intra-doc spans, short docs, overlap union") {
    val docs = Seq(
      (1L, "a b c d e f g h x y"),       // shares the 8-gram with doc 2
      (2L, "z w a b c d e f g h"),       // → positions 2..9 covered
      (3L, "p q r"),                     // shorter than k → zero coverage
      (4L, "m m m m m m m m m")          // intra-doc repeat: both 8-gram
    ).toDF("doc_id", "text")             //   windows duplicated → all 9 covered
    val out = TextAnalysis.duplicatedSpanStats(docs, col("doc_id"), col("text"), k = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 10L, 8L, 0.8),
      (2L, 10L, 8L, 0.8),
      (3L, 3L, 0L, 0.0),
      (4L, 9L, 9L, 1.0)))
    // removal: the shared span is cut from BOTH docs, untouched docs pass
    // through verbatim, a fully-covered doc keeps its row with empty text
    val cleaned = TextAnalysis.removeDuplicatedSpans(docs, col("doc_id"), col("text"), k = 8)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(cleaned == Seq(
      (1L, 2L, "x y"),
      (2L, 2L, "z w"),
      (3L, 3L, "p q r"),
      (4L, 0L, "")))
  }

  test("chunkDedup: first (doc,pos) occurrence wins; ragged tail; intra-doc repeats") {
    // k=2 chunks: doc1 = ["a b","c d","e"], doc2 = ["c d","c d","a b"],
    // doc3 = ["e"]. Winners: "a b"@(1,0), "c d"@(1,1), "e"@(1,2) — doc2
    // loses everything (its second "c d" loses to its own first, which
    // loses to doc1), doc3's "e" loses cross-doc.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "c d c d a b"),
      (3L, "e")).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, col("doc_id"), col("text"), k = 2)
      .orderBy("doc_id", "idx")
      .as[(Long, Long, String, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, "a b", true), (1L, 1L, "c d", true), (1L, 2L, "e", true),
      (2L, 0L, "c d", false), (2L, 1L, "c d", false), (2L, 2L, "a b", false),
      (3L, 0L, "e", false)))
  }

  test("incrementalChunkDedup ≡ from-scratch on the batch slice") {
    val corpus = Seq((1L, "a b c d e"), (2L, "c d x y")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b f g"),      // "a b" loses to index, "f g" wins
      (11L, "f g f g e"))    // both "f g" lose to doc 10's; "e" loses to index
      .toDF("doc_id", "text")
    val idx = Dedup.chunkIndex(corpus, col("doc_id"), col("text"), k = 2)
    val inc = Dedup.incrementalChunkDedup(batch, col("doc_id"), col("text"), idx, k = 2)
      .orderBy("doc_id", "idx")
      .as[(Long, Long, String, Boolean)].collect().toSeq
    val scratch = Dedup.chunkDedup(corpus.union(batch), col("doc_id"), col("text"), k = 2)
      .filter(col("doc_id") >= 10).orderBy("doc_id", "idx")
      .as[(Long, Long, String, Boolean)].collect().toSeq
    assert(inc == scratch)
    assert(inc.map(r => (r._3, r._4)).toSet ==
      Set(("a b", false), ("f g", true), ("f g", false), ("e", false)))
  }
}

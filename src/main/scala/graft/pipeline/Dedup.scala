package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Settle

/** Deduplication operators for large-scale training-data pipelines (north
  * star in /root/repo/BASELINE.json; the reference itself dropped near-dup /
  * vector capability in v0.0.16, /root/reference/CHANGELOG.md:11-16).
  *
  * Scale stance: every method here is shuffle-bounded by an inverted-index /
  * band-bucket join — NEVER an O(n²) cross join. Hashes are md5-based (hex
  * strings or parsed 60-bit ints) so results are engine-portable and
  * deterministic, which the DuckDB oracle compare requires.
  */
object Dedup {

  /** Fan a low-parallelism input out to the session's default parallelism.
    * Small single-file scans otherwise run the whole explode/hash pipeline
    * in ONE task; at real scale (many files) this is a no-op. The shuffle
    * moves only the compact pre-explode rows.
    */
  private[pipeline] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd (InternalRow) reads the physical partitioning without building
    // the deserializing df.rdd lineage
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Word n-gram shingles with positions: "a b c d" → ["a b c", "b c d"],
    * via the native one-pass expression (graft.functions.ShinglesExpr).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.VectorFunctions.shingles(split(text, " "), n)

  /** Builtin-HOF shingles twin, kept for cross-checking the native
    * expression. (Guarded: Spark's `sequence(0, -1)` counts DOWN, so short
    * docs need the explicit empty-array branch.)
    */
  def shinglesFold(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: group by the dedup key, keep the smallest id, count dups.
    * Map-side combine (partial aggregation) makes this one shuffle of the
    * distinct keys only.
    */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** N-gram Jaccard near-dup via inverted-index self-join: explode distinct
    * shingles, join docs sharing a shingle (the index bounds candidate pairs —
    * no cross join), count common shingles, Jaccard = |∩|/|∪|.
    *
    * At 100 TB: hot shingles (stop-shingles) explode the index — drop
    * shingles occurring in more than `maxDocFreq` docs first (standard
    * stop-shingle pruning; pairs sharing ONLY ubiquitous shingles are not
    * near-dups anyway).
    */
  def ngramJaccard(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val base = spread(docs)
      .select(id.as("doc_id"), array_distinct(shingles(text, n)).as("shs"))
    // Jaccard denominators come from the UNPRUNED sets — computed map-side
    // from the shingle array, no shuffle (the previous groupBy(doc_id)
    // shuffled the whole exploded relation just to count it).
    val sizes = base.select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"))
    val sh = base.select(col("doc_id"), explode(col("shs")).as("sh"))
    // Self-join sides share ONE shuffle: repartition the relation on the
    // join key before deriving both sides, so the second side resolves to a
    // ReusedExchange instead of a second full shuffle (and no side gets
    // broadcast — both are the same mid-size exploded relation).
    val coPart = sh.repartition(col("sh"))
    // Inverted-index self-join: docs sharing a shingle become candidate
    // pairs (codegen'd shuffled-hash path beats in-bucket HOF combination
    // generation, whose lambdas run interpreted — measured 9.1s vs 6.6s).
    // Hot shingles are pruned by `maxDocFreq` (stop-shingle pruning) so
    // bucket fan-out stays bounded at scale. The HOT SET (shingles over the
    // threshold) is tiny by definition, so it broadcasts and the anti-join
    // streams map-side; counting uses map-side partial aggregation. A
    // count-over-window on the shingle partitioning would be one shuffle
    // cheaper but buffers EVERY occurrence of a hot key in one task's
    // window buffer — the exact single-key blow-up this guard exists to
    // prevent.
    val pruned =
      if (maxDocFreq == Long.MaxValue) coPart
      else {
        val hot = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > maxDocFreq).select("sh")
        coPart.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val a = pruned.select(col("doc_id").as("a_id"), col("sh")).hint("shuffle_hash")
    val b = pruned.select(col("doc_id").as("b_id"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "a_sh"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "b_sh"), "b_id")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("a_sh") + col("b_sh") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Prefix-filtered shingle-set Jaccard join (PPJoin family, Xiao et al.
    * WWW'08 Lemma 1): order the shingle vocabulary rarest-first (df asc,
    * shingle asc — a total order any engine reproduces), keep only each
    * doc's first |T| − ⌈t·|T|⌉ + 1 shingles as its PREFIX, and generate
    * candidates from the prefix-only inverted index: any pair with
    * Jaccard ≥ t provably shares a prefix shingle, so the filter is
    * LOSSLESS — verified pairs are exactly the brute-force result (the
    * oracle is the direct computation).
    *
    * The principled complement to [[ngramJaccard]]'s stop-shingle pruning
    * at 100 TB: the prefix both (a) drops ~t of every doc's postings and
    * (b) is rarest-first, so surviving postings concentrate in LOW-df
    * shingles — join fan-out per key collapses by construction instead of
    * by a tuned lossy hot-key cutoff, with zero recall loss (hot shingles
    * sort LAST and fall out of prefixes on their own). Verification is
    * O(candidates): each pair re-checks |A∩B| from the two shingle ARRAYS
    * (one hash-join lookup per side), never re-joining the full index.
    *
    * Threshold is the exact rational tNum/tDen so ⌈t·n⌉ is integer
    * arithmetic ((tNum·n + tDen−1) div tDen) — no float ceil at the
    * prefix boundary.
    */
  def prefixFilterJaccard(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      tNum: Int = 1,
      tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    // the shingled base has three physical consumers (df counts, prefix
    // build, verification sets) — materialize it once via localCheckpoint
    // rather than re-shingle per consumer. localCheckpoint over persist():
    // its blocks are released by the ContextCleaner as soon as the query's
    // RDDs are unreferenced, where a persist() with no unpersist() pinned
    // cache partitions for the life of the session (round-10 advice).
    // toks are SORTED (array_sort) — the contract of the early-exit merge
    // verify kernel (SortedOverlapExpr).
    val base = spread(docs).select(id.as("doc_id"),
      array_sort(array_distinct(shingles(text, n))).as("toks"))
      .localCheckpoint(true)
    val tok = base.select(col("doc_id"), explode(col("toks")).as("token"))
    // global rarest-first order: (df, token); df is one partial-agg shuffle
    val dfT = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val prefix = prefixPostings(base, dfT, tNum, tDen)
    // candidate pairs from the PREFIX-only inverted index (one shared
    // shuffle, ReusedExchange on the second side — same shape as
    // ngramJaccard's index join, over ~(1-t) of the postings); the
    // positional filter then kills most survivors with integer math
    // BEFORE the expensive array verification touches them
    val coPart = prefix.repartition(col("token"))
    val a = coPart.select(col("doc_id").as("a_id"), col("token"),
      col("pos").as("pa"), col("n_tok").as("a_n")).hint("shuffle_hash")
    val b = coPart.select(col("doc_id").as("b_id"), col("token"),
      col("pos").as("pb"), col("n_tok").as("b_n"))
    // explicit partition count: the candidate frame is BYTES-small but
    // each row costs an O(|a|+|b|) array intersect — AQE's size-based
    // coalescing would funnel the whole verify onto one task
    val nPart = docs.sparkSession.sparkContext.defaultParallelism
    val cands = a.join(b, Seq("token"))
      .filter(col("a_id") < col("b_id"))
      .filter(positionalFilter(tNum, tDen))
      .select("a_id", "b_id").distinct()
      .repartition(nPart, col("a_id"), col("b_id"))
    // O(candidates) verification from the SORTED token arrays: one
    // early-exit merge scan per pair (SortedOverlapExpr) — a non-qualifying
    // candidate bails after a few comparisons instead of paying the full
    // hash-set intersection, and qualification is exact integer arithmetic
    val setsA = base.select(col("doc_id").as("a_id"), col("toks").as("a_toks"))
    val setsB = base.select(col("doc_id").as("b_id"), col("toks").as("b_toks"))
    cands.join(setsA, "a_id").join(setsB, "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions
          .sortedOverlap(col("a_toks"), col("b_toks"), tNum, tDen)
          .as("n_common"),
        size(col("a_toks")).cast("long").as("a_n"),
        size(col("b_toks")).cast("long").as("b_n"))
      .filter(col("n_common") >= 0L)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("a_n") + col("b_n") - col("n_common")).cast("double"))
      .select("a_id", "b_id", "jaccard")
  }

  /** Per-doc prefix postings under a given (df, token) total order. Tokens
    * absent from `vocab` take df = 0 — UNSEEN tokens are by definition the
    * rarest, and what losslessness actually requires is only that both
    * sides of a candidate join use the SAME total order, which this
    * convention preserves when the vocabulary is frozen at index-build
    * time (see [[prefixFilterIncremental]]).
    */
  private def prefixPostings(base: DataFrame, vocab: DataFrame,
      tNum: Int, tDen: Int): DataFrame =
    base.select(col("doc_id"), explode(col("toks")).as("token"))
      .join(vocab, Seq("token"), "left")
      .select(col("doc_id"), col("token"),
        coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("token"))).as("arr"))
      .select(col("doc_id"), size(col("arr")).as("n_tok"), expr(
        s"slice(array_sort(arr), 1, " +
          s"cast(size(arr) - (($tNum * size(arr) + ${tDen - 1}) div $tDen) + 1 as int))")
        .as("pref"))
      // pos = the token's 0-based rank in the doc's full sorted order (the
      // prefix is the head of that order) — feeds the positional filter
      .select(col("doc_id"), col("n_tok"),
        posexplode(col("pref")).as(Seq("pos", "p")))
      .select(col("doc_id"), col("p.token").as("token"),
        col("pos"), col("n_tok"))

  /** PPJoin positional filter (lossless): seen from a pair's FIRST shared
    * prefix token (positions pa/pb in the docs' sorted orders), the
    * overlap can be at most 1 + min(|a|−pa−1, |b|−pb−1), while J ≥ t
    * needs overlap ≥ ⌈t/(1+t)·(|a|+|b|)⌉. A qualifying pair's
    * first-shared-token row always passes, so filtering per joined row
    * before `distinct` drops only pairs (or duplicate rows) that cannot
    * qualify — integer arithmetic throughout.
    */
  private def positionalFilter(tNum: Int, tDen: Int): Column =
    (lit(1) + least(col("a_n") - col("pa") - 1, col("b_n") - col("pb") - 1)) >=
      expr(s"($tNum * (a_n + b_n) + ${tNum + tDen - 1}) div ${tNum + tDen}")

  /** The persisted artifacts of a prefix-filter index: the per-doc shingle
    * sets, the FROZEN (token, df) vocabulary, and the prefix-only postings
    * under that order. Incremental batches must reuse the frozen
    * vocabulary — re-deriving df over corpus+batch would re-order tokens
    * and silently move old docs' prefixes.
    */
  def prefixIndexFrames(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, tNum: Int = 1, tDen: Int = 2)
      : (DataFrame, DataFrame, DataFrame) = {
    // toks sorted: persisted sets feed the incremental verify kernel
    val base = spread(docs).select(id.as("doc_id"),
      array_sort(array_distinct(shingles(text, n))).as("toks"))
    val tok = base.select(col("doc_id"), explode(col("toks")).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("df"))
    (base, vocab, prefixPostings(base, vocab, tNum, tDen))
  }

  /** O(batch) incremental prefix-filtered Jaccard: the arriving batch is
    * shingled and prefixed under the index's FROZEN vocabulary (unseen
    * tokens rank first at df = 0 — a valid total order, so PPJoin's
    * losslessness is untouched); candidates = batch-prefix × (corpus
    * prefix index ∪ batch-prefix) — the corpus is never re-shingled —
    * and verification joins the persisted per-doc sets. Returns every
    * qualifying pair with at least one batch endpoint.
    */
  def prefixFilterIncremental(
      batchDocs: DataFrame, id: Column, text: Column,
      corpusSets: DataFrame, vocab: DataFrame, corpusPrefix: DataFrame,
      n: Int = 3, tNum: Int = 1, tDen: Int = 2): DataFrame = {
    // two consumers (prefix build + verification sets) — same
    // localCheckpoint rationale as prefixFilterJaccard's base (no leaked
    // cache entries), same SORTED-toks contract for the verify kernel
    val batchBase = spread(batchDocs).select(id.as("doc_id"),
      array_sort(array_distinct(shingles(text, n))).as("toks"))
      .localCheckpoint(true)
    // one token-shuffle of the batch prefixes feeds BOTH candidate joins
    // (ReusedExchange), and both stay hash joins — an unhinted token-string
    // join would plan sort-merge with two full sorts
    val coPart = prefixPostings(batchBase, vocab, tNum, tDen)
      .repartition(col("token"))
    // batch × corpus candidates + batch-internal candidates, each pruned
    // by the positional filter before any verification
    val bc = coPart.select(col("doc_id").as("n_id"), col("token"),
        col("pos").as("pa"), col("n_tok").as("a_n")).hint("shuffle_hash")
      .join(corpusPrefix.select(col("doc_id").as("c_id"), col("token"),
        col("pos").as("pb"), col("n_tok").as("b_n")), Seq("token"))
      .filter(positionalFilter(tNum, tDen))
      .select(least(col("n_id"), col("c_id")).as("a_id"),
        greatest(col("n_id"), col("c_id")).as("b_id"))
    val bb = coPart.select(col("doc_id").as("a_id"), col("token"),
        col("pos").as("pa"), col("n_tok").as("a_n")).hint("shuffle_hash")
      .join(coPart.select(col("doc_id").as("b_id"), col("token"),
        col("pos").as("pb"), col("n_tok").as("b_n")), Seq("token"))
      .filter(col("a_id") < col("b_id"))
      .filter(positionalFilter(tNum, tDen))
      .select("a_id", "b_id")
    // same AQE-coalescing guard as the full build: CPU-heavy verify rows
    // must not funnel onto one task just because they are bytes-small
    val cands = bc.unionByName(bb).distinct()
      .repartition(batchDocs.sparkSession.sparkContext.defaultParallelism,
        col("a_id"), col("b_id"))
    val allSets = corpusSets.unionByName(batchBase)
    cands
      .join(allSets.select(col("doc_id").as("a_id"), col("toks").as("a_toks")),
        "a_id")
      .join(allSets.select(col("doc_id").as("b_id"), col("toks").as("b_toks")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions
          .sortedOverlap(col("a_toks"), col("b_toks"), tNum, tDen)
          .as("n_common"),
        size(col("a_toks")).cast("long").as("a_n"),
        size(col("b_toks")).cast("long").as("b_n"))
      .filter(col("n_common") >= 0L)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("a_n") + col("b_n") - col("n_common")).cast("double"))
      .select("a_id", "b_id", "jaccard")
  }

  /** Candidate-pair counts of the full inverted-index join vs the
    * prefix-filtered one — the measurable scale win (test/bench aid).
    */
  def prefixFilterStats(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, tNum: Int = 1, tDen: Int = 2): (Long, Long) = {
    val base = spread(docs).select(id.as("doc_id"),
      array_distinct(shingles(text, n)).as("toks"))
    val tok = base.select(col("doc_id"), explode(col("toks")).as("token"))
    def pairCount(postings: DataFrame): Long = postings
      .select(col("doc_id").as("a_id"), col("token"))
      .join(postings.select(col("doc_id").as("b_id"), col("token")),
        Seq("token"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct().count()
    val dfT = tok.groupBy("token").agg(count(lit(1)).as("df"))
    (pairCount(tok), pairCount(prefixPostings(base, dfT, tNum, tDen)))
  }

  /** Winnowing near-dup candidates: the inverted-index self-join of
    * [[ngramJaccard]] run over WINNOWED fingerprints instead of every
    * shingle — the index is ~2/(w+1) the size for the same local
    * guarantee (docs sharing a ≥ w+k−1-word run still collide), which is
    * the point at 100 TB: the shuffle that dominates near-dup candidate
    * generation shrinks by the winnowing density, with the loss
    * characterized (only sub-window runs are missed). Same hot-key
    * pruning (stop-fingerprint broadcast anti-join); `overlap_ppm` is the
    * exact-integer shared-fingerprint fraction of the SMALLER doc — the
    * containment analog on the sampled space.
    */
  def winnowPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 3,
      w: Int = 4,
      minShared: Long = 2L,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val fps = graft.pipeline.TextAnalysis.winnow(spread(docs), id, text, k, w)
      .select(col("doc_id"), col("fp")).distinct()
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val coPart = fps.repartition(col("fp"))
    val pruned =
      if (maxDocFreq == Long.MaxValue) coPart
      else {
        val hot = fps.groupBy("fp").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > maxDocFreq).select("fp")
        coPart.join(broadcast(hot), Seq("fp"), "left_anti")
      }
    val a = pruned.select(col("doc_id").as("a_id"), col("fp")).hint("shuffle_hash")
    val b = pruned.select(col("doc_id").as("b_id"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_fp", "a_fp"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_fp", "b_fp"), "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared"), col("a_fp"), col("b_fp"),
        expr("(n_shared * 1000000L) div least(a_fp, b_fp)").as("overlap_ppm"))
  }

  /** Incremental [[winnowPairs]] maintenance: a new batch contributes only
    * its OWN winnowed fingerprints (the corpus is never re-shingled — the
    * economics of index maintenance: fingerprinting is the expensive map
    * stage); candidate pairs touching the batch come from batch-vs-corpus
    * and batch-vs-batch fp joins. Document frequencies for the hot-fp
    * guard are recounted over the merged index (a cheap fp group-by, not a
    * text pass) so the output equals a from-scratch run restricted to
    * pairs with a batch endpoint — the oracle proves exactly that.
    * Corpus and batch doc-id sets must be disjoint.
    */
  def winnowPairsIncremental(
      batch: DataFrame,
      id: Column,
      text: Column,
      corpusFps: DataFrame,
      k: Int = 3,
      w: Int = 4,
      minShared: Long = 2L,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val batchFps = graft.pipeline.TextAnalysis.winnow(spread(batch), id, text, k, w)
      .select(col("doc_id"), col("fp")).distinct()
    val corpus = corpusFps.select(col("doc_id"), col("fp"))
    val all = corpus.unionByName(batchFps)
    val sizes = all.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    def prune(fps: DataFrame): DataFrame =
      if (maxDocFreq == Long.MaxValue) fps
      else {
        val hot = all.groupBy("fp").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > maxDocFreq).select("fp")
        fps.join(broadcast(hot), Seq("fp"), "left_anti")
      }
    val pb = prune(batchFps)
    val cross = pb.select(col("doc_id").as("x_id"), col("fp"))
      .hint("shuffle_hash")
      .join(prune(corpus).select(col("doc_id").as("y_id"), col("fp")), Seq("fp"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
    val intra = pb.select(col("doc_id").as("a_id"), col("fp"))
      .hint("shuffle_hash")
      .join(pb.select(col("doc_id").as("b_id"), col("fp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    cross.unionByName(intra)
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_fp", "a_fp"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_fp", "b_fp"), "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared"), col("a_fp"), col("b_fp"),
        expr("(n_shared * 1000000L) div least(a_fp, b_fp)").as("overlap_ppm"))
  }

  /** Shingle-containment near-dup: C(A⊆B) = |A∩B| / |A|. Asymmetric — a
    * short doc quoted verbatim inside a long one scores ~1.0 here while its
    * Jaccard (|∩|/|∪|) is diluted toward |A|/|B| and slips under any usable
    * threshold. This is the standard quote/boilerplate-inclusion detector in
    * training-data pipelines. Emits one row per unordered pair with BOTH
    * directions, kept when either direction clears `threshold`.
    *
    * Same inverted-index self-join as [[ngramJaccard]] (candidate pairs
    * bounded by shared shingles, stop-shingle pruning for hot keys);
    * denominators come from the unpruned per-doc sets. The output doubles
    * are exact-integer divisions — bit-identical across engines.
    */
  def containment(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val base = spread(docs)
      .select(id.as("doc_id"), array_distinct(shingles(text, n)).as("shs"))
    val sizes = base.select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"))
    val sh = base.select(col("doc_id"), explode(col("shs")).as("sh"))
    val coPart = sh.repartition(col("sh"))
    val pruned =
      if (maxDocFreq == Long.MaxValue) coPart
      else {
        val hot = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > maxDocFreq).select("sh")
        coPart.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val a = pruned.select(col("doc_id").as("a_id"), col("sh")).hint("shuffle_hash")
    val b = pruned.select(col("doc_id").as("b_id"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "a_sh"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "b_sh"), "b_id")
      .withColumn("c_a_in_b", col("n_common").cast("double") / col("a_sh").cast("double"))
      .withColumn("c_b_in_a", col("n_common").cast("double") / col("b_sh").cast("double"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select("a_id", "b_id", "c_a_in_b", "c_b_in_a")
  }

  /** MinHash+LSH candidate pairs: signature of `bands*rowsPerBand` md5
    * minhashes over word-n-gram shingles (hex strings order like their
    * 128-bit values, so `min(md5(...))` is a valid permutation-min and is
    * portable to any engine with md5); docs agreeing on ALL rows of any band
    * land in the same bucket → band-bucket groupBy join.
    *
    * Shape: explode shingles ONCE, then one hash-aggregate computes all
    * signature lanes with map-side partial aggregation — versus folding the
    * shingle array per lane per row, which recomputes the split/distinct
    * `bands*rowsPerBand` times (measured 7× slower at sf0.1). Shuffles only
    * (doc, shingle) and (band, bucket) pairs — the 100 TB path for fuzzy
    * dedup.
    */
  def minhashLsh(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4): DataFrame =
    pairsFromBandIndex(minhashBandIndex(docs, id, text, n, bands, rowsPerBand))

  /** Candidate pairs from an (already-built) band index — the (band,
    * bucket) self-join minhashLsh runs, factored out so a PERSISTED index
    * yields pairs without re-shingling anything. Because a document's
    * signature depends on nothing but its own text, index maintenance is
    * embarrassingly local: append = write the batch's rows
    * ([[minhashBandIndex]] on the batch), DELETE = drop the doc's rows
    * (one filter/anti-join — `dedup_index_delete` pins delete ≡ rebuild).
    */
  def pairsFromBandIndex(index: DataFrame): DataFrame = {
    val l = index.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val r = index.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** 60-bit SimHash over tokens via the native one-pass expression
    * (graft.functions.SimHashExpr): per-token md5 → top 60 bits; bit b
    * contributes +1/−1 to a 60-lane tally; majority sign pattern is the
    * fingerprint. Near-dups differ in few bits (compare via `hamming`).
    */
  def simhash(text: Column, bits: Int = 60): Column =
    graft.functions.VectorFunctions.simhash(split(text, " "), bits)

  /** Builtin-expression simhash twin (60 folds over the token array) — kept
    * for cross-checking the native expression bit-for-bit.
    */
  def simhashFold(text: Column, bits: Int = 60): Column = {
    val toks = split(text, " ")
    val hashes = transform(toks, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val lanes = (0 until bits).map { b =>
      val set = aggregate(hashes, lit(0),
        (acc, h) => acc + shiftright(h, b).bitwiseAND(lit(1L)).cast("int"))
      (set * 2 > size(toks)).cast("long") * shiftleft(lit(1L), b)
    }
    lanes.reduce(_ + _)
  }

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Banded simhash near-dup pairs — the JOIN the fingerprint exists for:
    * the `bits`-bit simhash splits into `bands` equal bit-bands; two docs
    * become candidates when ANY band matches exactly, then exact Hamming ≤
    * `maxHamming` verifies. Pigeonhole-complete: a pair within `bands - 1`
    * differing bits must share at least one untouched band, so for
    * maxHamming < bands recall is 1.0 by construction, not probabilistic.
    *
    * Scale shape: candidates come from equi-joins on (band, bucket) — never
    * an all-pairs Hamming scan; a 15-bit band over uniform fingerprints
    * keeps bucket collisions rare, and the exact bit_count verification
    * runs only on candidates (the embeddingNearDup pattern in integer
    * space).
    */
  def simhashPairs(
      docs: DataFrame, id: Column, text: Column,
      bits: Int = 60, bands: Int = 4, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(
      spread(docs).select(id.as("doc_id"), simhash(text, bits).as("fp")),
      bits, bands, maxHamming)

  /** Banded Hamming pairs over an ALREADY-COMPUTED fingerprint frame
    * `(doc_id, fp)` — the join simhashPairs runs, factored out so any
    * 64-bit-or-less fingerprint (simhash, perceptual image hash, sign
    * sketch) gets the same candidates-by-band + exact-verify shape.
    * Recall is 1.0 (pigeonhole) whenever maxHamming < bands.
    */
  def bandedHammingPairs(
      fps: DataFrame, bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(bits <= 64 && bands >= 1)
    val w = bits / bands
    // mask must stay positive for w = 16 over 64 bits etc.; 1L<<64 wraps,
    // so cap at the full-width -1 only when a band spans all 64 bits
    val mask = if (w == 64) -1L else (1L << w) - 1
    val h = fps.select(col("doc_id"), col("fp").as("sh"))
    val banded = h.select(col("doc_id"), col("sh"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sh"), b * w).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"),
      col("doc_id").as("a_id"), col("sh").as("_sa"))
    val r = banded.select(col("band"), col("bucket"),
      col("doc_id").as("b_id"), col("sh").as("_sb"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "_sa", "_sb").distinct()
      .withColumn("hamming", hamming(col("_sa"), col("_sb")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Persistent minhash band index of a corpus: (doc_id, band, bucket) rows,
    * written once and appended per ingest batch. This is the state that
    * makes dedup INCREMENTAL at 100 TB — new data joins the index instead of
    * re-pairing the whole corpus.
    */
  def minhashBandIndex(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4): DataFrame = {
    val nh = bands * rowsPerBand
    val sh = spread(docs).select(id.as("doc_id"),
      explode(array_distinct(shingles(text, n))).as("sh"))
    val lanes = (0 until nh).map(i =>
      min(md5(concat(col("sh"), lit("#" + i)))).as(s"m_$i"))
    val sig = sh.groupBy("doc_id").agg(lanes.head, lanes.tail: _*)
    sig.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|",
            (0 until rowsPerBand).map(r => col(s"m_${b * rowsPerBand + r}")): _*))
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  // ── persisted minhash band index ────────────────────────────────────────
  //
  // The PERSISTED form of [[minhashBandIndex]] under the shared
  // [[graft.store.VersionedDocTable]] backbone (round 14 — the last
  // single-table maintained state to join the engine-wide CAS discipline):
  // shingling + 16-lane hashing is the expensive stage the index
  // amortizes, so build/append pay it exactly once per doc, deletes are
  // O(batch) tombstones applied at read (a doc's band rows depend only on
  // its own text — nothing else needs fixing up), and the maintenance
  // triple folds tombstones + append file growth on the operator's
  // schedule. Layout: `bands/` (doc_id, band, bucket) + optional
  // `deletes/`, one claim.

  private val MinhashTable = "bands"

  /** Build the persisted index: signature every doc once. */
  def buildMinhashIndex(docs: DataFrame, id: Column, text: Column,
      path: String, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): Unit =
    graft.store.VersionedDocTable.build(
      minhashBandIndex(docs, id, text, n, bands, rowsPerBand),
      path, MinhashTable)

  /** O(batch) incremental maintenance: only the batch is shingled/hashed;
    * prior band rows carry by hardlink. Doc ids must be new.
    */
  def appendToMinhashIndex(batch: DataFrame, id: Column, text: Column,
      path: String, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): Unit =
    graft.store.VersionedDocTable.append(
      minhashBandIndex(batch, id, text, n, bands, rowsPerBand),
      path, MinhashTable)

  /** O(batch) DELETION maintenance: tombstones only — nothing is
    * re-signatured and the band table is never rewritten.
    */
  def deleteFromMinhashIndex(deletedDocs: DataFrame, id: Column,
      path: String): Unit =
    graft.store.VersionedDocTable.delete(deletedDocs, id, path, MinhashTable)

  /** The committed SURVIVOR band rows — feed [[pairsFromBandIndex]] (or
    * [[incrementalMinhashPairs]] as its `corpusIndex`) for candidates.
    */
  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.store.VersionedDocTable.read(spark, path, MinhashTable)

  def minhashIndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): graft.store.VersionedDocTable.Stats =
    graft.store.VersionedDocTable.stats(spark, path, MinhashTable)

  /** Maintenance policy: the deleted-fraction estimate divides tombstones
    * by docs (each doc contributes exactly `bands` band rows — pass the
    * SAME bands as the build or the gate drifts by that ratio).
    */
  def minhashMaintainIfNeeded(spark: org.apache.spark.sql.SparkSession,
      path: String, bands: Int, outPath: String = null,
      maxDeletedFraction: Double = 0.2, maxDataFiles: Int = 64,
      targetFiles: Int = 8): Boolean =
    graft.store.VersionedDocTable.maintainIfNeeded(spark, path, MinhashTable,
      outPath, maxDeletedFraction, maxDataFiles, targetFiles,
      rowsPerKey = bands)

  /** Incremental near-dup: candidate pairs between a NEW batch and an
    * existing corpus band index (plus new-vs-new pairs). Only the batch is
    * shingled/hashed; the corpus contributes its precomputed index — cost is
    * O(batch) + join, independent of corpus size beyond the band join.
    */
  def incrementalMinhashPairs(
      newDocs: DataFrame,
      id: Column,
      text: Column,
      corpusIndex: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4): DataFrame = {
    // repartition once on the join key so the three uses below share the
    // shuffle (ReusedExchange) instead of re-hashing the batch three times
    val newIdx = minhashBandIndex(newDocs, id, text, n, bands, rowsPerBand)
      .repartition(col("band"), col("bucket"))
    val vsCorpus = newIdx.alias("nw")
      .join(corpusIndex.alias("cx"),
        col("nw.band") === col("cx.band") && col("nw.bucket") === col("cx.bucket") &&
          // a replayed/overlapping batch may contain ids already indexed —
          // never emit a doc as a duplicate of itself
          col("nw.doc_id") =!= col("cx.doc_id"))
      .select(col("nw.doc_id").as("new_id"), col("cx.doc_id").as("dup_of"))
    val vsSelf = newIdx.alias("a")
      .join(newIdx.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("new_id"), col("a.doc_id").as("dup_of"))
    vsCorpus.unionByName(vsSelf).distinct()
  }

  /** Connected components over near-dup pairs — the clustering step that
    * turns pairwise dedup output into keep-one-representative groups (a pair
    * list alone can't answer "which docs do I drop": duplicates are
    * transitive through chains A~B~C). Iterative min-label propagation, the
    * standard distributed-CC pattern: each round every node takes the min
    * representative among itself and its neighbors, then pointer-jumps
    * through its rep's rep — one shuffle per round, O(log diameter) rounds
    * (pinned by CCSpec on a 4096-node path; `maxIter` bounds pathology).
    * Per-round checkpointing truncates lineage so the
    * plan doesn't grow with iterations, and the driver loop runs ACTIONS
    * (convergence counts), never collects data. Returns (doc_id, rep_id =
    * min doc id of the component) for every node appearing in a pair;
    * pair-free docs are their own trivial component and are omitted.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxIter: Int = 50,
      reliableCheckpoint: Boolean = false): DataFrame =
    ccWithRounds(pairs, aCol, bCol, maxIter, reliableCheckpoint)._1

  /** [[connectedComponents]] plus the number of propagation rounds it took —
    * the observable that lets CCSpec pin the pointer-jumping complexity
    * claim (rounds ≈ O(log diameter), not O(diameter)).
    *
    * Checkpoint durability: `localCheckpoint` stores blocks in executor
    * memory/disk — fast, but on a real cluster an executor loss mid-iteration
    * kills the job (lineage is truncated, blocks are gone). For cluster runs
    * pass `reliable = true` and set `sparkContext.setCheckpointDir` to a
    * durable store (HDFS/S3): same lineage truncation, recoverable blocks,
    * one extra write per round — the standard trade for long iterative jobs
    * at 100 TB.
    */
  private[graft] def ccWithRounds(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxIter: Int = 50,
      reliable: Boolean = false): (DataFrame, Int) = {
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    val fwd = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // pairs come in as a<b once each, so reversing cannot create duplicates
    // — no distinct needed
    val und = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      // hash-partition on the per-round join key once, up front:
      // localCheckpoint preserves the physical partitioning, so every
      // round's edge-side shuffle is already done (AQE sizes the partition
      // count to the data — few at test scale, many at 100 TB)
      .repartition(col("dst"))
    val undC = ckpt(und, eager = true)
    // labels only ever decrease, so sum(rep) is strictly monotone until the
    // fixpoint — an O(labels) pass per round instead of a join+count.
    // (rows, Σrep) in ONE RDD job over the (lazily checkpointed) label
    // frame: per-partition fold + driver reduce — the SQL sum() it
    // replaces planned a single-partition exchange, making every CC round
    // two jobs instead of one. The job doubles as the checkpoint
    // materializer, exactly like the agg did.
    def sumRep(df: DataFrame): (Long, Long) = {
      // resolve the ordinal by name — node and rep are both longs, so a
      // silent projection reorder would otherwise sum the wrong column
      val repIdx = df.columns.indexOf("rep")
      require(repIdx >= 0,
        s"label frame must carry a rep column, got ${df.columns.mkString(",")}")
      df.queryExecution.toRdd.mapPartitions { it =>
        var n = 0L; var s = 0L
        while (it.hasNext) { val r = it.next(); n += 1; s += r.getLong(repIdx) }
        Iterator.single((n, s))
      }.fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    }
    // seed with the first hop folded in: rep = min(self, neighbors)
    val labels0 = ckpt(undC.groupBy(col("src").as("node"))
      .agg(least(col("src"), min(col("dst"))).as("rep")), eager = false)
    val (seedRows, seedSum) = sumRep(labels0)
    // Settle.fixpoint owns the round loop: each round's label frame is
    // checkpointed lazily and the Σrep job materializes it (one job per
    // round), round N-1's blocks are dropped once round N settles, and the
    // loop stops when Σrep stops falling. No pairs at all → no components.
    val fp =
      if (seedRows == 0L) Settle.Fixpoint(labels0, 0, converged = true)
      else Settle.fixpoint(labels0, seedSum, maxIter, Some(Settle.unchanged),
          settle = df => { val cp = ckpt(df, eager = false); (cp, sumRep(cp)._2) }) {
        (labels, _) =>
          val prop = undC.join(labels, undC("dst") === labels("node"))
            .select(undC("src").as("node"), labels("rep").as("rep"))
          val merged = prop.unionByName(labels.select("node", "rep"))
            .groupBy("node").agg(min("rep").as("rep"))
          // pointer jumping (path halving): follow each node's new rep to
          // that node's previous rep in the same round — long chains
          // collapse in O(log diameter) rounds instead of O(diameter). Reps
          // are always node ids inside the component, so the jump can never
          // undershoot the component minimum; `least` keeps the label
          // decrease monotone (the convergence certificate). The jump join
          // keys on the unique `node` side, so one-row-per-node is
          // preserved without another aggregate.
          val jump = labels.select(col("node").as("_jn"), col("rep").as("_jr"))
          merged
            .join(jump, merged("rep") === col("_jn"), "left")
            .select(merged("node"),
              least(merged("rep"), coalesce(col("_jr"), merged("rep"))).as("rep"))
      }
    // silently-wrong representatives split duplicate clusters undetected —
    // fail loudly and let the caller raise maxIter (rounds needed ≈ the
    // deepest component's diameter)
    if (!fp.converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds — " +
        "a component's diameter exceeds maxIter; raise it")
    (fp.result.select(col("node").as("doc_id"), col("rep").as("rep_id")), fp.roundsUsed)
  }

  /** Incremental connected-components maintenance: merge a BATCH of new
    * near-dup pairs into an existing (doc_id, rep_id) labeling without
    * re-reading or re-pairing the old corpus — the labeling analog of
    * [[incrementalMinhashPairs]], and together with it the full O(batch)
    * ingest path: new docs → index join → new pairs → label merge.
    *
    * Algorithm (contraction): project each batch endpoint onto its current
    * representative (identity for unseen nodes); the distinct non-self-loop
    * projected edges form a CONTRACTED graph whose vertices are component
    * representatives — its size is O(components touched by the batch), not
    * O(corpus). Run [[connectedComponents]] on that contracted graph, then
    * remap old labels and label the batch's new nodes in one pass each.
    * Representatives are min node ids at every step, so merge-of-mins ==
    * min-of-merged and the result is IDENTICAL to a from-scratch run over
    * oldPairs ∪ newPairs (the oracle pins this).
    *
    * Scale shape: two O(batch) joins against the label table (shuffle-joins
    * on node at scale; AQE broadcasts the small side at test scale), a CC
    * loop over the tiny contracted graph, one broadcast remap join over the
    * O(labels) frame. The old PAIR LIST is never touched.
    */
  def mergeComponents(
      labels: DataFrame,
      newPairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    val lab = labels.select(
      col("doc_id").cast("long").as("node"), col("rep_id").cast("long").as("rep"))
    val np = newPairs.select(
      col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val proj = np
      .join(lab.select(col("node").as("a"), col("rep").as("ra")), Seq("a"), "left")
      .join(lab.select(col("node").as("b"), col("rep").as("rb")), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("ca"),
        coalesce(col("rb"), col("b")).as("cb"))
    val contracted = proj.filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("a_id"),
        greatest(col("ca"), col("cb")).as("b_id"))
      .distinct()
    // (old rep | new node id) -> merged representative; tiny by construction
    // (O(touched components)). Because it is tiny, the iterative CC loop is
    // pure fixed overhead here (3 jobs × O(log d) rounds for a graph of a
    // few thousand edges), so under `spark.graft.localCcMaxEdges` (default
    // 100k — a few MB on the driver) the contraction solves driver-side
    // with union-find + min-per-component labels, IDENTICAL output to the
    // distributed loop (reps are component minima either way). A
    // pathological batch past the cap falls back to distributed CC
    // automatically. The broadcast hints stay size-GATED for the same
    // reason: degrade to shuffled joins, never force a broadcast OOM.
    val spark = labels.sparkSession
    val contractedC = contracted.localCheckpoint(true)
    val nContracted = contractedC.count()
    val localCap = spark.conf.getOption("spark.graft.localCcMaxEdges")
      .map(_.toLong).getOrElse(100000L)
    val (superLabels, superRows) =
      if (nContracted <= localCap) {
        val edges = contractedC.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
        }
        val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
        val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
        nodes.foreach { n => val r = find(n); minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n) }
        import spark.implicits._
        val lbls = nodes.toSeq.map(n => (n, minOfRoot(find(n))))
        (lbls.toDF("rep", "new_rep"), lbls.size.toLong)
      } else {
        val cc = connectedComponents(contractedC)
          .select(col("doc_id").as("rep"), col("rep_id").as("new_rep"))
        (cc, cc.count())
      }
    def bcSuper(df: DataFrame): DataFrame =
      graft.operators.Hints.broadcastIfUnder(df, superRows)
    val remapped = lab.join(bcSuper(superLabels), Seq("rep"), "left")
      .select(col("node"), coalesce(col("new_rep"), col("rep")).as("rep"))
    // batch endpoints never seen before: their contracted vertex is their
    // own id, so their merged label comes straight from superLabels
    val newNodes = np.select(col("a").as("node"))
      .union(np.select(col("b").as("node")))
      .distinct()
      .join(lab.select("node"), Seq("node"), "left_anti")
    val newLabels = newNodes
      .join(bcSuper(superLabels.select(col("rep").as("node"), col("new_rep"))),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("new_rep"), col("node")).as("rep"))
    remapped.unionByName(newLabels)
      .select(col("node").as("doc_id"), col("rep").as("rep_id"))
  }

  /** The terminal step of the dedup pipeline: given the corpus and the
    * components output (doc_id, rep_id), keep every doc that is either
    * pair-free (absent from components — its own trivial cluster) or its
    * cluster's representative. Left anti join + filter; NO broadcast hint:
    * the drop list is O(dup docs) — corpus-PROPORTIONAL (billions of ids
    * at 100 TB with a real dup rate), so a forced broadcast would OOM.
    * AQE broadcasts it at small scale on its own; at scale the shuffled
    * anti join is the safe plan (same rule as the SparkEntry label joins,
    * round-10 verdict).
    */
  def keepRepresentatives(
      docs: DataFrame,
      id: Column,
      components: DataFrame): DataFrame = {
    val drop = components
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id").as("_dup_id"))
    docs.join(drop, id === col("_dup_id"), "left_anti")
  }

  /** Embedding-cosine near-dup: pairs above a cosine threshold, candidate
    * set bounded by a multi-band random-hyperplane LSH join (OR over
    * `bands` sign-bucket tables of `planesPerBand` planes each — standard
    * recall amplification) rather than a cross join. Exact cosine is then
    * verified only on candidates.
    */
  def embeddingNearDup(
      emb: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      bands: Int = 4,
      planesPerBand: Int = 4): DataFrame = {
    // Candidate generation and dedup run over ids ONLY (never shuffle the
    // vectors); the embedding payload is re-joined once for the exact-cosine
    // verification of the (small) candidate set. All band buckets come from
    // one native SignBucketsExpr pass (posexplode gives the band index).
    val banded = spread(emb)
      .select(id.as("vid"),
        posexplode(graft.functions.VectorFunctions.signBuckets(vec, bands, planesPerBand)))
      .select(col("vid"), col("pos").as("band"), col("col").as("bucket"))
    val l = banded.select(col("band"), col("bucket"), col("vid").as("a_id"))
    val r = banded.select(col("band"), col("bucket"), col("vid").as("b_id"))
    val cand = l.join(r, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val va = emb.select(id.as("a_id"), vec.as("va"))
    val vb = emb.select(id.as("b_id"), vec.as("vb"))
    cand.join(va, "a_id").join(vb, "b_id")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** SemDeDup (Abbas et al. 2023): cluster-bucketed semantic dedup — the
    * OTHER published scale path for embedding near-dup, complementing
    * [[embeddingNearDup]]'s LSH: embeddings are assigned to their nearest
    * centroid (k-means cells), and near-duplicate pairs are only sought
    * WITHIN a cell, so candidate count is bounded by Σ|cell|² with |cell| ≈
    * n/k — at 100 TB the cells are the partition key and no pair ever
    * crosses one. The price is the method's documented recall trade: a
    * similar pair straddling a cell boundary is never examined (spec-pinned
    * as a property, not a bug).
    *
    * Keep rule: an item is dropped iff SOME lower-id same-cell item is
    * within `threshold` cosine — the deterministic keep-first variant of
    * the paper's keep-one-per-duplicate-group (engine-exact: no dependence
    * on iteration order or centroid distance ties). Candidate generation
    * runs over (id, cell) pairs only; vectors re-join once per candidate
    * for the exact-cosine check.
    *
    * Returns (vec_id, centroid_id, kept 0/1) for every input vector.
    */
  def semDedup(
      emb: DataFrame,
      id: Column,
      vec: Column,
      centroids: DataFrame,
      centId: Column,
      centVec: Column,
      threshold: Double): DataFrame = {
    // settle the assignment once: it is consumed three times (both pair
    // sides + the output join) and each evaluation is k cosines per row;
    // the settled frame is two ids per row
    val assigned = Similarity.assignToCentroids(
      spread(emb), id, vec, centroids, centId, centVec)
      .localCheckpoint(true)
    val a = assigned.select(col("centroid_id"), col("vec_id").as("a_id"))
      .hint("shuffle_hash")
    val b = assigned.select(col("centroid_id"), col("vec_id").as("b_id"))
    val cand = a.join(b, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val va = emb.select(id.as("a_id"), vec.as("va"))
    val vb = emb.select(id.as("b_id"), vec.as("vb"))
    val dropped = cand.join(va, "a_id").join(vb, "b_id")
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("b_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("_d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        when(col("_d").isNull, 1).otherwise(0).as("kept"))
  }

  /** O(batch) incremental [[semDedup]]: the arriving batch assigns to its
    * cells under the FROZEN centroids and is checked against (a) the
    * persisted IVF index's members of exactly those cells — a
    * partition-pruned read, the corpus is never re-assigned or re-scanned —
    * and (b) the batch's own same-cell pairs. Because the keep rule is
    * keep-FIRST by id and batch ids succeed all index ids (the caller's
    * contract, the append-only ingest invariant), arrivals can never
    * displace existing members, so batch verdicts ARE the from-scratch
    * union verdicts restricted to the batch (the oracle). Cost is
    * O(|batch| · cell-mates), the SemDeDup analog of
    * [[prefixFilterIncremental]]'s frozen-vocabulary contract — and the
    * consumer of the IVF index's commit protocol: a probe mid-delete sees
    * one consistent index version.
    *
    * Contract: the index must hold at least one committed cell (bootstrap
    * the first batch with [[Similarity.buildIvfIndex]] — the schema of an
    * empty parquet dir cannot be inferred), and batch ids must succeed all
    * index ids. The second clause is LOAD-BEARING twice over: keep-first
    * semantics assume indexed members cannot be displaced, AND the corpus
    * join's `a_id < b_id` replay guard treats any indexed id at or above a
    * batch id as the batch's own re-delivered copy — ids that are content
    * hashes or otherwise non-monotone would make same-content pairs
    * silently score kept. Use ingest-monotone ids or [[semDedup]].
    */
  def semDedupIncremental(
      batch: DataFrame,
      id: Column,
      vec: Column,
      indexPath: String,
      centroids: DataFrame,
      centId: Column,
      centVec: Column,
      threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    // one resolved snapshot for BOTH the centroid table and the corpus
    // read — after a hot-cell split the caller's original centroids no
    // longer address the index's cells
    val cur = Similarity.ivfCurrentDir(indexPath)
    val assignedB = Similarity.assignToCentroids(
      spread(batch), id, vec,
      Similarity.centroidsFor(spark, cur,
        centroids.select(centId.as("centroid_id"), centVec.as("centv"))),
      col("centroid_id"), col("centv"))
      .localCheckpoint(true)
    val cells = assignedB.select("centroid_id").distinct()
      .collect().map(_.get(0)).toSeq // O(affected cells) driver hop
    val withVecB = assignedB.select(col("vec_id").as("b_id"), col("centroid_id"))
      .join(batch.select(id.as("b_id"), vec.as("vb")), "b_id")
    val corpus = spark.read.parquet(cur)
      .filter(col("centroid_id").isInCollection(cells)) // partition-pruned
      .select(col("centroid_id"), col("neighbor_id").as("a_id"),
        col("cv").as("va"))
    // a_id < b_id: under the append-only contract the index holds only ids
    // BELOW the batch's, so this excludes nothing on first delivery — but
    // it makes re-scoring REPLAY-STABLE under keep-first-by-id: a
    // foreachBatch retry whose vectors already landed in the index must
    // not match a vector against its own indexed copy at cosine 1.0 (nor
    // against an indexed batchmate with a LATER id, which cannot drop it)
    val bc = withVecB.hint("shuffle_hash").join(corpus, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("b_id").as("vec_id"))
    val bSide = withVecB.select(col("centroid_id"), col("b_id").as("a_id"),
      col("vb").as("va"))
    val bb = bSide.hint("shuffle_hash").join(withVecB, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("b_id").as("vec_id"))
    assignedB
      .join(bc.unionByName(bb).distinct().withColumn("_d", lit(1)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        when(col("_d").isNull, 1).otherwise(0).as("kept"))
  }

  /** Chunk-level exact deduplication — the paragraph-dedup stage of
    * RefinedWeb/CCNet-style curation expressed over whitespace corpora as
    * consecutive fixed-width `k`-word chunks (the last chunk may be ragged).
    * A chunk text that occurs at several (doc, position) sites survives only
    * at its FIRST site in (doc_id, idx) lexicographic order; every other
    * occurrence is marked dropped. Returns one row per chunk:
    * (doc_id, idx, chunk, kept) — stats and cleaned-corpus reassembly are
    * one aggregation away.
    *
    * Determinism: the winner is min(doc_id·2^20 + idx) — a single long
    * min-aggregate, order/partition/engine-independent. Bounds: idx < 2^20
    * (docs up to ~8M words at k=8) and doc_id < 2^43, checked at runtime.
    *
    * Scale shape: chunking is O(total tokens / k) rows; the winner
    * aggregation and the join back are both keyed on the chunk text —
    * one exchange, co-partitioned reuse, map-side-combined min. A
    * corpus-hot chunk ("the the the …") costs its occurrence count in
    * join rows but never fans out quadratically (each occurrence meets
    * exactly its one winner row).
    */
  def chunkDedup(docs: DataFrame, id: Column, text: Column, k: Int = 8): DataFrame = {
    val withKey = chunked(docs, id, text, k).repartition(col("chunk"))
    val first = withKey.groupBy("chunk").agg(min(col("_k")).as("_firstk"))
    withKey.hint("shuffle_hash").join(first, Seq("chunk"))
      .select(col("doc_id"), col("idx"), col("chunk"),
        (col("_k") === col("_firstk")).as("kept"))
  }

  /** Shared chunker: (doc_id, idx, chunk, _k) with the packed
    * first-occurrence key (injectivity guarded at runtime).
    */
  private def chunked(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    require(k >= 1)
    val packed = when(col("doc_id") < (1L << 43) && col("idx") < (1L << 20),
      col("doc_id") * lit(1L << 20) + col("idx"))
      .otherwise(raise_error(lit("chunkDedup: doc_id/idx exceed packing bounds")))
    docs.select(id.cast("long").as("doc_id"), split(text, " ").as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr(s"(size(toks) + ${k - 1}) div $k - 1").cast("long"))).as("idx"),
        col("toks"))
      .select(col("doc_id"), col("idx"),
        concat_ws(" ", slice(col("toks"), (col("idx") * k + 1).cast("int"), lit(k))).as("chunk"))
      .withColumn("_k", packed)
  }

  /** The persisted artifact of chunk dedup: one (chunk, firstk) row per
    * distinct chunk text — O(distinct chunks), no positions, no documents.
    * An incremental pipeline maintains THIS instead of re-deduping the
    * corpus (the minhashBandIndex contract applied to chunks).
    */
  def chunkIndex(docs: DataFrame, id: Column, text: Column, k: Int = 8): DataFrame =
    chunked(docs, id, text, k).groupBy("chunk").agg(min(col("_k")).as("firstk"))

  /** O(batch) incremental chunk dedup: the batch is chunked alone and
    * consults the persisted [[chunkIndex]] — the indexed corpus is never
    * re-read. Sound when every batch doc_id exceeds every indexed doc_id
    * (append-only ingest): the packed key is monotone in (doc_id, idx), so
    * an indexed chunk always beats any batch occurrence, and within the
    * batch the min-key occurrence wins exactly as the from-scratch pass
    * would decide. Output rows (batch only) therefore equal chunkDedup over
    * corpus ∪ batch restricted to batch docs — the oracle proves it.
    */
  def incrementalChunkDedup(
      batch: DataFrame, id: Column, text: Column,
      index: DataFrame, k: Int = 8): DataFrame = {
    val bch = chunked(batch, id, text, k).repartition(col("chunk"))
    val bwin = bch.groupBy("chunk").agg(min(col("_k")).as("_bk"))
    bch.hint("shuffle_hash").join(bwin, Seq("chunk"))
      .join(index.select(col("chunk"), col("firstk").as("_ik")), Seq("chunk"), "left")
      .select(col("doc_id"), col("idx"), col("chunk"),
        (col("_k") === col("_bk") && col("_ik").isNull).as("kept"))
  }

  /** O(batch) index maintenance: append the batch's winning keys for chunks
    * the index has never seen; existing index rows are never rewritten
    * (their keys are smaller by the append-only precondition). append ≡
    * rebuild is spec-pinned.
    */
  def appendChunkIndex(
      index: DataFrame, batch: DataFrame, id: Column, text: Column,
      k: Int = 8): DataFrame = {
    val bwin = chunked(batch, id, text, k).groupBy("chunk").agg(min(col("_k")).as("firstk"))
    index.unionByName(bwin.join(index.select("chunk"), Seq("chunk"), "left_anti"))
  }
}

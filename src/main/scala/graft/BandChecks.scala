package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Machine-checkable error bands for the rows-only queries.
  *
  * Nine SparkEntry queries have no DuckDB oracle by contract — their outputs
  * are sketch estimates (HLL, KLL, ApproxTopK) or MLlib-internal hashes
  * (murmur3 feature hashing, LSH tables, hogwild Word2Vec) that no second
  * engine reproduces bit-for-bit. The driver records them `no_oracle`. This
  * object replaces that bare null with a VERDICT: each query's estimate is
  * checked in-engine against its exact twin (computed from the same input,
  * by plain exact operators) under the error bound its algorithm documents.
  * `graft.Verify` runs these after the dump and writes
  * `band_checks.json` next to the parquet results; BandChecksSpec pins them
  * green in the test suite.
  *
  * Bounds used (documented, not tuned-to-pass):
  *  - Spark `approx_count_distinct` (HLL++): default rsd 5% → 3σ band 15%.
  *  - Datasketches `hll_sketch_agg` (lgK 12): rsd 1.04/√2¹² ≈ 1.6% → 5%.
  *  - Datasketches KLL (k=200): normalized rank error ≈ 1.33% → rank ±3%.
  *  - `approx_percentile` (accuracy 10000): rank error 0.01% → rank ±1%.
  *  - `approx_top_k`: exact for heavy hitters on a skewed corpus → recall
  *    ≥ 0.9 of the exact top-k set.
  *  - MLlib LSH joins filter candidates by TRUE distance (precision 1 by
  *    construction); the band is recall vs the exact pair set over the same
  *    featurization — ≥ 0.7 for 2-table random-projection, ≥ 0.9 for
  *    2-table MinHash (measured 1.0 / 0.984 at sf0.1).
  *  - TF-IDF / Word2Vec: structural bands (dimension, row cardinality,
  *    non-degenerate norms) — the vectors themselves are seed-specific.
  */
object BandChecks {

  final case class Band(query: String, ok: Boolean, detail: String)

  /** All band checks, or the subset named in `only`. When `dumpDir` is
    * set (the Verify path), the ESTIMATE side of each check reads the
    * parquet Verify just dumped instead of re-running the query — the
    * expensive MLlib work (Word2Vec training, two approxSimilarityJoins)
    * executes once per verify run, not twice. The exact twins always
    * compute fresh.
    */
  def run(spark: SparkSession, sfDir: String,
      only: Option[Set[String]] = None,
      dumpDir: Option[String] = None): Seq[Band] = {
    def est(name: String): DataFrame = dumpDir match {
      case Some(dir) => spark.read.parquet(s"$dir/$name")
      case None => SparkEntry.queries(name)(spark, sfDir)
    }
    val checks: Seq[(String, () => Band)] = Seq(
      "q_sketch_distinct" -> (() => sketchDistinct(spark, sfDir, est)),
      "q_hll_rollup" -> (() => hllRollup(spark, sfDir, est)),
      "q_kll_rollup" -> (() => kllRollup(spark, sfDir, est)),
      "q_sketch_overlap" -> (() => sketchOverlap(spark, sfDir, est)),
      "events_hll_sliding" -> (() => hllSliding(spark, sfDir, est)),
      "q_approx_topk" -> (() => approxTopK(spark, sfDir, est)),
      "ann_mllib_join" -> (() => annMllib(spark, sfDir, est)),
      "dedup_minhash_mllib" -> (() => minhashMllib(spark, sfDir, est)),
      "embed_tfidf" -> (() => tfidfStructural(spark, sfDir, est)),
      "embed_word2vec" -> (() => word2vecStructural(spark, sfDir, est)))
    checks
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, f) =>
        try f()
        // NonFatal only: an OutOfMemoryError/LinkageError must kill the
        // verify run loudly, not masquerade as a mere band failure
        catch { case scala.util.control.NonFatal(e) =>
          Band(name, ok = false,
            s"check crashed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
        }
      }
  }

  /** Verify's stdout line for one verdict, ASCII only (any other char
    * becomes its Java-style unicode escape) so it reads the same under
    * every stdout charset.
    */
  def line(b: Band): String =
    s"[band] ${b.query}: ${if (b.ok) "ok" else "FAIL"} - ${b.detail}"
      .flatMap(c => if (c < 0x80) c.toString else f"\\u${c.toInt}%04x")

  /** Render as the JSON object Verify writes: query → {band_ok, detail}. */
  def toJson(bands: Seq[Band]): String =
    Harness.json(ListMap(bands.map(b => b.query -> Map("band_ok" -> b.ok, "detail" -> b.detail)): _*))

  private def events(s: SparkSession, d: String) = s.read.parquet(s"$d/events.parquet")
  private def lineitem(s: SparkSession, d: String) = s.read.parquet(s"$d/lineitem.parquet")
  private def documents(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
  private def embeddings(s: SparkSession, d: String) = s.read.parquet(s"$d/embeddings.parquet")

  private def fmt(x: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, x)

  /** The q_sketch_overlap verdict as a pure function, so the spec can
    * prove the harness FALSIFIABLE (feed it a corrupted estimate and see
    * it fail). Inclusion–exclusion sums three ~1.6%-rsd estimates: bound
    * the absolute error by 5% of the union (the largest term), plus a
    * slack of 5 so a tiny-corpus overlap of single digits can't flap the
    * verdict. Returns (ok, err, bound).
    */
  private[graft] def overlapVerdict(est: Double, exact: Double,
      union: Double): (Boolean, Double, Double) = {
    val bound = 0.05 * union + 5
    val err = math.abs(est - exact)
    (err <= bound, err, bound)
  }

  /** approx_count_distinct + approx_percentile vs exact, per event_type. */
  private def sketchDistinct(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val est = estOf("q_sketch_distinct")
    val exact = events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        expr("percentile(value, 0.49)").as("p49"),
        expr("percentile(value, 0.51)").as("p51"))
    val joined = est.join(exact, "event_type")
      .select(
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users")).as("rel_err"),
        (col("approx_p50") >= col("p49") && col("approx_p50") <= col("p51"))
          .as("p50_in_band"))
      .agg(max("rel_err").as("max_rel"), min(col("p50_in_band")).as("all_p50"))
      .head()
    val (maxRel, allP50) = (joined.getDouble(0), joined.getBoolean(1))
    Band("q_sketch_distinct", maxRel <= 0.15 && allP50,
      s"hll++ max rel err ${fmt(maxRel)} <= 0.15 (rsd 5%, 3sigma); " +
        s"approx_p50 within exact rank [0.49, 0.51]: $allP50")
  }

  /** Merged Datasketches HLL rollup vs exact distinct suppliers. */
  private def hllRollup(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val est = estOf("q_hll_rollup")
    val exact = lineitem(s, d).groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("exact_n"))
    val maxRel = est.join(exact, "l_returnflag")
      .select((abs(col("n_distinct_l_suppkey") - col("exact_n")).cast("double") /
        col("exact_n")).as("rel_err"))
      .agg(max("rel_err")).head().getDouble(0)
    Band("q_hll_rollup", maxRel <= 0.05,
      s"merged-sketch max rel err ${fmt(maxRel)} <= 0.05 (lgK 12, 3sigma)")
  }

  /** Merged KLL quantiles vs exact percentiles at rank ±3%. */
  private def kllRollup(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val est = estOf("q_kll_rollup")
    val exact = events(s, d)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.47)").as("lo50"),
        expr("percentile(value, 0.53)").as("hi50"),
        expr("percentile(value, 0.92)").as("lo95"),
        expr("percentile(value, 0.98)").as("hi95"),
        expr("percentile(value, 0.96)").as("lo99"),
        expr("percentile(value, 1.00)").as("hi99"))
    val allIn = est.join(exact, "event_type")
      .select((col("p50").between(col("lo50"), col("hi50")) &&
        col("p95").between(col("lo95"), col("hi95")) &&
        col("p99").between(col("lo99"), col("hi99"))).as("in_band"))
      .agg(min("in_band")).head().getBoolean(0)
    Band("q_kll_rollup", allIn,
      s"p50/p95/p99 within exact rank +-3% (KLL k=200, rank err ~1.3%): $allIn")
  }

  /** HLL inclusion-exclusion overlap vs the exact overlap the query
    * itself carries.
    */
  private def sketchOverlap(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val row = estOf("q_sketch_overlap").head()
    val est = row.getAs[Long]("overlap_est").toDouble
    val exact = row.getAs[Long]("overlap_exact").toDouble
    val union = row.getAs[Long]("n_union_est").toDouble
    val (ok, err, bound) = overlapVerdict(est, exact, union)
    Band("q_sketch_overlap", ok,
      s"|overlap_est - exact| = ${fmt(err)} <= ${fmt(bound)} (5% of union + 5)")
  }

  /** Sliding 24h HLL distincts vs the exact trailing window, per hour. */
  private def hllSliding(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val est = estOf("events_hll_sliding")
    val hourly = events(s, d)
      .select((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("hh"), col("user_id"))
    val exact = hourly
      .select(col("hh"), col("user_id"), explode(sequence(lit(0), lit(23))).as("j"))
      .select((col("hh") + col("j")).as("th"), col("user_id"))
      .groupBy("th").agg(countDistinct("user_id").as("exact_24h"))
      .join(hourly.select(col("hh")).distinct(), col("th") === col("hh"))
      .select(col("hh").as("h_epoch"), col("exact_24h"))
    val maxRel = est.join(exact, "h_epoch")
      .select((abs(col("n_users_24h") - col("exact_24h")).cast("double") /
        col("exact_24h")).as("rel_err"))
      .agg(max("rel_err")).head().getDouble(0)
    Band("events_hll_sliding", maxRel <= 0.05,
      s"per-hour max rel err ${fmt(maxRel)} <= 0.05 (lgK 12, 3sigma)")
  }

  /** Heavy-hitter quality band. q_approx_topk itself is hash-green since
    * round 8 (deterministic md5 CMS + sampled candidates), so this band now
    * checks QUALITY rather than standing in for a missing oracle: (a) the
    * query's deterministic top-20 must still recall ≥ 0.9 of the exact
    * heavy hitters (determinism alone wouldn't catch a sketch too small to
    * rank correctly), and (b) the LIBRARY ApproxTopK sketch — kept as the
    * engine-seeded cross-check per the round-7 verdict — must do the same.
    */
  private def approxTopK(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val est = estOf("q_approx_topk")
      .select("tok").collect().map(_.getString(0)).toSet
    val toks = documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
    val lib = toks.select(expr("approx_top_k(tok, 20)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("tok"))
      .collect().map(_.getString(0)).toSet
    val exact = toks
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("tok")).limit(20)
      .select("tok").collect().map(_.getString(0)).toSet
    val recall = (est & exact).size.toDouble / exact.size
    val recallLib = (lib & exact).size.toDouble / exact.size
    Band("q_approx_topk", recall >= 0.9 && recallLib >= 0.9,
      s"cms-query top-20 recall ${fmt(recall)} >= 0.9 and library-sketch " +
        s"recall ${fmt(recallLib)} >= 0.9 vs exact heavy hitters")
  }

  /** MLlib random-projection LSH join: recall vs the exact L2 pair set;
    * precision is structural (approxSimilarityJoin filters by true
    * distance) but re-asserted from the emitted distances.
    */
  private def annMllib(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val got = estOf("ann_mllib_join")
      .select("a_id", "b_id", "l2_dist").collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val precisionOk = got.forall(_.getDouble(2) <= 1.0 + 1e-9)
    val exact = graft.pipeline.Embeddings.annExactPairs(
        embeddings(s, d), "vec_id", "embedding", maxL2Distance = 1.0)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall =
      if (exact.isEmpty) 1.0 else (gotPairs & exact).size.toDouble / exact.size
    Band("ann_mllib_join", recall >= 0.7 && precisionOk,
      s"recall ${fmt(recall)} >= 0.7 vs exact L2<=1.0 pairs (n=${exact.size}); " +
        s"all emitted distances <= 1.0: $precisionOk")
  }

  /** MLlib MinHashLSH join: recall vs exact Jaccard pairs over the SAME
    * shingle featurization.
    */
  private def minhashMllib(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val got = estOf("dedup_minhash_mllib")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.pipeline.Embeddings.minhashExactPairs(
        documents(s, d), "doc_id", "text", maxJaccardDistance = 0.5)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall =
      if (exact.isEmpty) 1.0 else (got & exact).size.toDouble / exact.size
    Band("dedup_minhash_mllib", recall >= 0.9,
      s"recall ${fmt(recall)} >= 0.9 vs exact Jaccard<=0.5 pairs (n=${exact.size})")
  }

  /** TF-IDF structural band: full dimensionality, one row per doc,
    * non-degenerate norms (a norm of 0 means every token of the doc
    * appeared in every doc — possible only on a degenerate corpus).
    */
  private def tfidfStructural(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val r = estOf("embed_tfidf")
      .agg(count(lit(1)).as("n"),
        sum(when(col("dim") =!= 256, 1L).otherwise(0L)).as("bad_dim"),
        sum(when(col("sq_norm") <= 0.0, 1L).otherwise(0L)).as("zero_norm"))
      .head()
    val (n, badDim, zeroNorm) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val nDocs = documents(s, d).count()
    val ok = n == nDocs && badDim == 0 && zeroNorm <= n / 10
    Band("embed_tfidf", ok,
      s"rows $n == docs $nDocs; dim!=256 rows: $badDim; " +
        s"degenerate-norm rows: $zeroNorm <= ${n / 10}")
  }

  /** Word2Vec structural band: full dimensionality, one row per doc. */
  private def word2vecStructural(s: SparkSession, d: String,
      estOf: String => DataFrame): Band = {
    val r = estOf("embed_word2vec")
      .agg(count(lit(1)).as("n"),
        sum(when(col("dim") =!= 16, 1L).otherwise(0L)).as("bad_dim"))
      .head()
    val (n, badDim) = (r.getLong(0), r.getLong(1))
    val nDocs = documents(s, d).count()
    Band("embed_word2vec", n == nDocs && badDim == 0,
      s"rows $n == docs $nDocs; dim!=16 rows: $badDim")
  }
}

package graft.pipeline

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, IDF, MinHashLSH, NGram, Tokenizer, Word2Vec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch embedding generation + MLlib-LSH retrieval — the north-star
  * direction (/root/repo/BASELINE.json: "MLlib embeddings + DataFrame queries
  * for semantic search"), restoring the vector capability the reference
  * dropped in v0.0.16 (/root/reference/CHANGELOG.md:11-16) as distributed
  * batch jobs.
  *
  * These are deliberately NOT oracle-compared (murmur3 feature hashing and
  * trained Word2Vec weights are engine-specific); correctness is pinned by
  * ScalaTest invariants instead. They are the production scale path: one
  * fitted model broadcast to executors, one narrow pass to embed 100 TB of
  * documents, LSH join for retrieval.
  */
object Embeddings {

  /** TF-IDF document vectors: tokenize → murmur3 feature-hash → IDF weight.
    * Returns (id, embedding array<double>) — array form keeps the output
    * parquet-friendly and engine-neutral.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String, dim: Int = 256): DataFrame = {
    val tok = new Tokenizer().setInputCol(textCol).setOutputCol("_tokens")
    val tf = new HashingTF().setInputCol("_tokens").setOutputCol("_tf").setNumFeatures(dim)
    val tokenized = tf.transform(tok.transform(docs))
    val idf = new IDF().setInputCol("_tf").setOutputCol("_tfidf").fit(tokenized)
    idf.transform(tokenized)
      .select(col(idCol), vecToArray(col("_tfidf")).as("embedding"))
  }

  /** Word2Vec document vectors (mean of word vectors). Training is
    * partitioned (numPartitions > 1): single-partition training serializes
    * the whole corpus through one task — a scale hazard; the cost is
    * hogwild-style nondeterminism in the learned weights, which is why this
    * surface is rows-only checked, never hash-compared.
    */
  def word2vec(docs: DataFrame, idCol: String, textCol: String, dim: Int = 32,
      numPartitions: Int = 8): DataFrame = {
    val tok = new Tokenizer().setInputCol(textCol).setOutputCol("_tokens")
    val tokenized = tok.transform(docs)
    val model = new Word2Vec().setInputCol("_tokens").setOutputCol("_w2v")
      .setVectorSize(dim).setMinCount(1).setSeed(42L)
      .setNumPartitions(numPartitions)
      .fit(tokenized)
    model.transform(tokenized)
      .select(col(idCol), vecToArray(col("_w2v")).as("embedding"))
  }

  /** MLlib MinHashLSH near-dup join over word-trigram shingle sets — the
    * library-provided twin of Dedup.minhashLsh for when
    * approxSimilarityJoin's Jaccard distance semantics fit. Shingles (not
    * raw token sets): with a small vocabulary every document shares most
    * token types, so 1-gram Jaccard cannot separate near-dups from noise.
    */
  def minhashJoin(docs: DataFrame, idCol: String, textCol: String,
      maxJaccardDistance: Double, dim: Int = 1 << 18,
      // 2 tables: identical pair set at sf0.01 (25/25) and 98.4% recall at
      // sf0.1 (252/256) vs 3 tables, for ~25% less approxSimilarityJoin
      // candidate volume — the same table-count trim as annJoin below
      numHashTables: Int = 2): DataFrame = {
    val featured = shingleFeatures(docs, textCol, dim)
    val mh = new MinHashLSH().setInputCol("_sets").setOutputCol("_hashes")
      .setNumHashTables(numHashTables).setSeed(42L).fit(featured)
    mh.approxSimilarityJoin(featured, featured, maxJaccardDistance, "jaccard_dist")
      .select(
        col(s"datasetA.$idCol").as("a_id"),
        col(s"datasetB.$idCol").as("b_id"),
        col("jaccard_dist"))
      .filter(col("a_id") < col("b_id"))
  }

  /** MLlib random-projection LSH ANN join over float embeddings — the
    * library-provided twin of Similarity's sign-bucket path (euclidean
    * bucketing).
    */
  /** The binary shingle-set featurization under [[minhashJoin]] — shared
    * with [[minhashExactPairs]] so the exact recall reference measures the
    * SAME sets the LSH hashes, not a near-replica.
    */
  private def shingleFeatures(docs: DataFrame, textCol: String, dim: Int): DataFrame = {
    val tok = new Tokenizer().setInputCol(textCol).setOutputCol("_tokens")
    val ngram = new NGram().setN(3).setInputCol("_tokens").setOutputCol("_shingles")
    val tf = new HashingTF().setInputCol("_shingles").setOutputCol("_sets")
      .setNumFeatures(dim).setBinary(true)
    tf.transform(ngram.transform(tok.transform(docs)))
  }

  // verification-path only (BandChecks / specs), never a query hot path —
  // the one place a Scala UDF is acceptable: MLlib exposes no native
  // sparse-index extractor
  private val sparseIndices =
    udf((v: org.apache.spark.ml.linalg.Vector) => v match {
      case s: org.apache.spark.ml.linalg.SparseVector => s.indices
      case d => d.toArray.zipWithIndex.filter(_._1 != 0.0).map(_._2)
    })

  /** EXACT near-dup pairs over [[minhashJoin]]'s own featurization — the
    * recall reference its band check measures against. Inverted-index join
    * on shared feature indices (pairs sharing no shingle never meet — not
    * all-pairs), exact Jaccard from intersection and set sizes.
    */
  def minhashExactPairs(docs: DataFrame, idCol: String, textCol: String,
      maxJaccardDistance: Double, dim: Int = 1 << 18): DataFrame = {
    val sets = shingleFeatures(docs, textCol, dim)
      .select(col(idCol).as("id"), explode(sparseIndices(col("_sets"))).as("ix"))
    val sizes = sets.groupBy("id").agg(count(lit(1)).as("sz"))
    sets.as("a").join(sets.as("b"),
        col("a.ix") === col("b.ix") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("id").as("a_id"), col("sz").as("sza"))), "a_id")
      .join(broadcast(sizes.select(col("id").as("b_id"), col("sz").as("szb"))), "b_id")
      .withColumn("jaccard_dist",
        lit(1.0) - col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard_dist") <= maxJaccardDistance)
      .select("a_id", "b_id", "jaccard_dist")
  }

  /** EXACT L2 near-neighbor pairs — [[annJoin]]'s recall reference. The
    * embeddings tables are small enough for the canonical a<b pair scan
    * here; the partition-pruned scale paths live in Similarity/Pq.
    */
  def annExactPairs(emb: DataFrame, idCol: String, vecCol: String,
      maxL2Distance: Double): DataFrame = {
    val a = emb.select(col(idCol).as("a_id"), col(vecCol).as("_va"))
    val b = emb.select(col(idCol).as("b_id"), col(vecCol).as("_vb"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("l2_dist", sqrt(aggregate(
        zip_with(col("_va"), col("_vb"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z)))
      .filter(col("l2_dist") <= maxL2Distance)
      .select("a_id", "b_id", "l2_dist")
  }

  def annJoin(emb: DataFrame, idCol: String, vecCol: String,
      maxL2Distance: Double, numHashTables: Int = 2): DataFrame = {
    val withVec = emb.withColumn("_v", arrayToVec(col(vecCol)))
    val lsh = new BucketedRandomProjectionLSH().setInputCol("_v")
      .setOutputCol("_hashes").setBucketLength(1.0)
      // 2 tables: with bucketLength ≈ the near-dup distance, a d<1.0 pair
      // collides in a given table w.p. ≳0.5 ⇒ ≥1-of-2 recall ~0.75+, and
      // the candidate volume (the approxSimilarityJoin cost driver) halves
      // vs 4 tables — measured same result at sf0.01, ~35% faster at sf0.1
      .setNumHashTables(numHashTables)
      .setSeed(42L).fit(withVec)
    lsh.approxSimilarityJoin(withVec, withVec, maxL2Distance, "l2_dist")
      .select(
        col(s"datasetA.$idCol").as("a_id"),
        col(s"datasetB.$idCol").as("b_id"),
        col("l2_dist"))
      .filter(col("a_id") < col("b_id"))
  }

  // Built-in codegen-friendly converters (not Scala UDFs): ml.functions
  // ships native vector<->array bridges.
  /** Dominant singular direction of the quantized embedding matrix by
    * integer power iteration — the one-component (uncentered) PCA a
    * pipeline uses to find the axis its vectors collapse along (an
    * anisotropy / mode-collapse probe). Everything is exact long math so
    * the result is hash-verifiable cross-engine:
    *  - values quantize to thousandths (3 significant digits is plenty
    *    for a direction estimate, and keeps every bound below well inside
    *    a signed long);
    *  - the d×d second-moment matrix is built by double posexplode —
    *    O(rows·d²) products, ONE exchange (the groupBy(j,k)), no join;
    *  - the matrix and each iterate renormalize by max|·| with
    *    sign-separated positive division (DuckDB's // floors while
    *    Spark's div truncates — they only agree on non-negative
    *    operands, so division never sees a negative);
    *  - the O(d²) matrix and O(d) iterate broadcast into every round.
    * Overflow bounds (documented against sf1): |q| ≤ 10³ ⇒ |C| ≤ 10⁶·rows
    * ≤ 5·10¹⁰, |C|·10⁶ ≤ 5·10¹⁶; |w| ≤ d·10⁶·10⁵ = 6.4·10¹²,
    * |w|·10⁵ ≤ 6.4·10¹⁷ — all inside 2⁶³.
    */
  def topPrincipalInt(emb: DataFrame, vecCol: String, rounds: Int = 3,
      dims: Int = 64): DataFrame = {
    require(rounds >= 1 && rounds <= 10)
    val spark = emb.sparkSession
    val q = emb.select(expr(
      s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
    val jk = q.select(posexplode(col("q")).as(Seq("j", "xj")), col("q"))
      .select(col("j"), col("xj"), posexplode(col("q")).as(Seq("k", "xk")))
    val c = jk.groupBy("j", "k").agg(sum(col("xj") * col("xk")).as("c"))
      .localCheckpoint(true)
    val cp = c.crossJoin(broadcast(c.agg(max(abs(col("c"))).as("mx"))))
      .select(col("j"), col("k"),
        expr("CAST(sign(c) AS BIGINT) * ((abs(c) * 1000000L) div mx)").as("cp"))
      .localCheckpoint(true)
    val v0 = spark.range(dims.toLong)
      .select(col("id").cast("int").as("k"), lit(100000L).as("v"))
    // the loop settles each iterate and drops the one before it
    graft.operators.Settle.fixpoint(v0, dims.toLong, rounds) { (v, _) =>
      val w = cp.join(broadcast(v), "k")
        .groupBy(col("j")).agg(sum(col("cp") * col("v")).as("w"))
        .localCheckpoint(true)
      w.crossJoin(broadcast(w.agg(max(abs(col("w"))).as("mw"))))
        .select(col("j").as("k"),
          expr("CAST(sign(w) AS BIGINT) * ((abs(w) * 100000L) div mw)").as("v"))
    }.result.select(col("k").as("dim"), col("v"))
  }

  private def vecToArray(c: org.apache.spark.sql.Column) =
    org.apache.spark.ml.functions.vector_to_array(c)
  private def arrayToVec(c: org.apache.spark.sql.Column) =
    org.apache.spark.ml.functions.array_to_vector(c)
}

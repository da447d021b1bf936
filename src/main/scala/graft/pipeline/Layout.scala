package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ZOrderFunctions

/** Physical-layout operators — the levers that decide what a 100 TB scan
  * actually reads:
  *
  *  - Z-order clustering: range-partition + sort by a Morton key so parquet
  *    min/max footer stats prune files for predicates on EITHER of two
  *    columns (a plain sort only serves its leading column).
  *  - Bucketing: pre-shuffle a table by its join key at write time; two
  *    tables bucketed the same way equi-join with NO exchange on either
  *    side — the repeated-join shuffle moves from every query to one write.
  */
object Layout {

  /** Morton-cluster `df` by two integer columns: range-partition on the
    * interleaved key (`numFiles` output files ≈ parquet row groups), sort
    * within partitions so row-group stats are tight on both dimensions.
    */
  def clusterByZ(df: DataFrame, x: Column, y: Column, numFiles: Int,
      bits: Int = 20): DataFrame = {
    val keyed = df.withColumn("_zkey", ZOrderFunctions.zorderKey(x, y, bits))
    keyed
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  /** Write `df` as a bucketed+sorted managed table. Joining two tables
    * bucketed by the same key into the same bucket count plans
    * SortMergeJoin with ZERO Exchange (verified by LayoutSpec) — the 100 TB
    * pattern for a fact table joined on the same key by every query.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    // A fresh JVM has an empty in-memory catalog, but the warehouse dir may
    // still hold the MANAGED location from a previous session — saveAsTable
    // would then fail with LOCATION_ALREADY_EXISTS. Drop any registered
    // table and clear the stale location first (local-filesystem warehouse;
    // on a shared metastore the catalog entry survives JVMs and the DROP
    // alone removes the managed location).
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // Clearing the stale location is deliberately NARROW: only local
    // (file-scheme) warehouses — never hdfs/s3, where a shared metastore's
    // DROP TABLE is the sole authority — and only when the directory has
    // the managed-parquet-table shape (data/metadata files exclusively).
    // Anything else is left in place so saveAsTable fails loudly with
    // LOCATION_ALREADY_EXISTS instead of this helper silently destroying a
    // directory it does not own. Every removal is logged.
    val whConf = spark.conf.get("spark.sql.warehouse.dir")
    val localWh: Option[String] =
      if (whConf.startsWith("file:")) Some(java.net.URI.create(whConf).getPath)
      else if (!whConf.contains(":/")) Some(whConf) // bare local path
      else None // remote scheme (hdfs://, s3a://, ...): no direct FS access
    def isTableFile(name: String): Boolean =
      name.startsWith("part-") || name == "_SUCCESS" || name.startsWith(".") ||
        name.startsWith("_committed") || name.startsWith("_started")
    def looksLikeTableDir(f: java.io.File): Boolean =
      f.isDirectory &&
        Option(f.listFiles()).getOrElse(Array.empty).forall(c => isTableFile(c.getName))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    localWh.foreach { wh =>
      val loc = new java.io.File(wh, table)
      if (loc.exists() && looksLikeTableDir(loc)) {
        System.err.println(s"[layout] clearing stale managed-table dir $loc")
        rm(loc)
      }
    }
    df
      // one shuffle at WRITE time, so each bucket lands in exactly one file:
      // repartition's hash is the same murmur3-pmod as the bucket id, so
      // task i holds precisely bucket i. With multiple files per bucket
      // Spark drops the sortBy metadata and every downstream SMJ re-sorts;
      // with one file per bucket reads skip both the shuffle AND the sort
      // (BucketingSpec pins the zero-Exchange zero-Sort plan).
      .repartition(buckets, col(key))
      .write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table) // managed: lives under spark.sql.warehouse.dir
  }

  /** File-level min/max stats manifest — the DIY data-skipping index that
    * table formats (Iceberg/Delta) maintain natively. One distributed pass
    * computes per-file row counts and min/max of the named columns; persist
    * the result next to the data and [[readPruned]] plans scans against it.
    * Rebuild cost is one column-pruned scan; at 100 TB you'd maintain it
    * incrementally per written file, but the contract is the same: manifest
    * rows = file count (metadata-scale, millions at most — NOT data-scale).
    */
  def statsManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental manifest maintenance: stats for `newFiles` only, unioned
    * onto the existing manifest. O(new data), never rescans the table —
    * the same discipline as Rollup.appendDelta. Equality with a full
    * rebuild is spec-pinned. `manifest` must be PERSISTED TO DISK before
    * the table grows: a live manifest plan — even a cached one, since
    * recache/refresh re-runs it — re-lists the directory at evaluation
    * time and would double-count the appended files.
    */
  def appendToManifest(spark: org.apache.spark.sql.SparkSession,
      manifest: DataFrame, newFiles: Seq[String], cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val fresh = spark.read.parquet(newFiles: _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    manifest.unionByName(fresh)
  }

  /** Scan only the files whose [min, max] envelope intersects [lo, hi] on
    * `c`, then apply the exact predicate. Result ≡ the full scan + filter
    * (pruning only removes files that CANNOT match); what changes is bytes
    * read. The manifest collect is planning-time metadata — one row per
    * file, the same work any table format's scan planning does.
    */
  def readPruned(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: DataFrame, c: String, lo: Long, hi: Long): DataFrame = {
    val files = manifest
      .filter(col(s"min_$c") <= hi && col(s"max_$c") >= lo)
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(c) >= lo && col(c) <= hi)
  }

  /** Per-file BLOOM-FILTER manifest over a high-cardinality key — the
    * data-skipping index for the case min/max envelopes cannot serve: point
    * lookups on a key the layout is NOT sorted/clustered by (hash-scattered
    * ingest order, say), where every file's [min, max] spans the whole
    * domain and [[readPruned]] keeps everything. Table formats maintain the
    * same structure natively (Parquet column-index blooms, Iceberg/Delta
    * file-level bloom metadata). One distributed pass, one bloom per file
    * via a grouped BloomFilterAggregate (partial buffers OR-merge
    * map-side); manifest rows = file count — metadata scale.
    */
  def bloomManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      keyCol: String, expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.BloomJoin.bloomAggColumn(
          col(keyCol), expectedItems, numBits).as("bloom"))

  /** Incremental bloom-manifest maintenance: blooms for `newFiles` only,
    * unioned onto the existing manifest — O(new data), never rescans the
    * table (the appendToManifest discipline). The append MUST happen for
    * every ingested file: [[readPrunedByKeys]] scans only manifest-listed
    * files, so an unindexed file's rows would silently vanish from pruned
    * reads (the equality spec and the incremental declared query exist to
    * pin exactly this).
    */
  def appendToBloomManifest(spark: org.apache.spark.sql.SparkSession,
      manifest: DataFrame, newFiles: Seq[String], keyCol: String,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    require(newFiles.nonEmpty, "no new files to index")
    val fresh = spark.read.parquet(newFiles: _*)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.BloomJoin.bloomAggColumn(
          col(keyCol), expectedItems, numBits).as("bloom"))
    manifest.unionByName(fresh)
  }

  /** Point-lookup read through the bloom manifest: scan only the files
    * whose bloom might contain AT LEAST ONE probe key, then apply the exact
    * IN predicate. Blooms are never false-negative, so the result is
    * value-identical to the full scan + filter; false positives only cost
    * extra files read. The manifest collect and probes are planning-time
    * metadata work — one bloom deserialization per file, O(files · keys)
    * hash probes, no Spark job.
    */
  def readPrunedByKeys(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: DataFrame, keyCol: String, keys: Seq[Long]): DataFrame = {
    import graft.operators.BloomJoin
    val files = manifest.select("file", "bloom").collect().flatMap { r =>
      val b = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
      if (b == null) None // all-null key file: can never match an IN probe
      else {
        val bf = BloomJoin.openBloom(b)
        if (keys.exists(BloomJoin.mightContainLocal(bf, _))) Some(r.getString(0))
        else None
      }
    }
    val base =
      if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol).isin(keys: _*))
  }

  /** Idempotent partition backfill: dynamic partition overwrite replaces
    * ONLY the partition directories present in `batch`, leaving sibling
    * partitions untouched. This is what makes reprocessing safe at scale —
    * a failed-and-retried backfill of one day can neither duplicate that
    * day's rows (overwrite, not append) nor touch any other day. Same
    * idempotency contract as the streaming micro-batch writer
    * (Rollup.writeMicroBatch), exposed for batch jobs. Into a new `dir` it
    * is the plain Hive-style partitioned write: predicates on the partition
    * columns prune directories at planning time.
    */
  def overwritePartitions(batch: DataFrame, dir: String,
      partitionCols: Seq[String]): Unit =
    batch.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** Compact a small-file parquet directory into ≈`targetFileBytes` files,
    * written to `outDir`. Streaming ingest (per-batch appends) and
    * fine-grained partitioning accumulate tiny files; at 100 TB scan cost,
    * listing pressure, and footer overhead scale with FILE COUNT, and
    * min/max pruning loses power when every file is a sliver.
    *
    * `coalesce` (not `repartition`): compaction must not pay a full shuffle
    * of the table — narrow merging of existing splits is the point.
    * Returns the output file count. Operates on a FLAT parquet directory;
    * compact Hive-partitioned tables one partition directory at a time (the
    * natural unit — partitions compact independently and in parallel).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val onDisk = new java.io.File(inDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val totalBytes = onDisk.map(_.length).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inDir).coalesce(nFiles)
      .write.mode("overwrite").parquet(outDir)
    new java.io.File(outDir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
  }
}

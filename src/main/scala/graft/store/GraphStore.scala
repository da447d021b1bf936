package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns
import graft.functions.TextFns._
import graft.operators.GraphOps

/** API-level types of the reference (/root/reference/src/types/index.ts:1-11). */
case class Entity(name: String, entityType: String, observations: Seq[String])
case class Relation(from: String, to: String, relationType: String)

/** Write path (SURVEY.md §2.2 W1–W7) over immutable parquet, laid out as a
  * BUCKET-PARTITIONED copy-on-write store:
  *
  * {{{
  * root/_MANIFEST                  # one atomically-flipped pointer file:
  *                                 #   <table>=s<N>  (current snapshot id)
  *                                 #   maxid.<table>=<id high-water mark>
  *                                 #   nbuckets=<B>  (fixed at initialize)
  * root/<table>/_snapshots/s<N>    # immutable snapshot descriptor:
  *                                 #   <bucket>=v<M> per non-empty bucket
  * root/<table>/b<k>/v<M>/part-….parquet  # one bucket's content at version M
  * }}}
  *
  * Rows live in bucket `pmod(xxhash64(key), B)` of their table's bucket key
  * (entities: name; observations: entity_name; relations: source) — the same
  * hash computed in-plan (codegen'd `xxhash64`) and driver-side
  * (`XxHash64Function`), pinned equal by GraphStoreSpec. A mutation rewrites
  * ONLY the buckets containing touched keys: a 50-entity upsert into a
  * 100 TB store stages ≤50 bucket versions, not a 100 TB table copy — the
  * round-7 whole-table rewrite was the one remaining write-path scale
  * killer. Untouched buckets are carried by reference: the new snapshot
  * descriptor maps them to their existing version directories.
  *
  * Atomicity is unchanged from the flat layout: stage all new bucket
  * versions and snapshot descriptors for every table in the batch, then flip
  * `_MANIFEST` once (temp-write + ATOMIC_MOVE). Each public call reads
  * `_MANIFEST` once into one [[GraphStore.State]] and resolves every table
  * it touches through it (manifest → snapshot → immutable bucket dirs), so
  * a call sees the whole old or whole new cross-table state, never a mix; a
  * crash mid-stage leaves only orphan dirs/descriptors the next `vacuum`
  * removes. Each of [[entities]], [[observations]] and [[relations]] is its
  * own call: a caller that joins tables and needs one cross-table point
  * reads [[storeVersions]] and then [[readTableAt]] per table.
  *
  * Sizing: `numBuckets` fixes GENERATION 0 at `initialize()`; a store that
  * outgrows it doubles progressively via [[splitBucket]] /
  * [[advanceGeneration]] (extendible hashing: one bucket-sized commit per
  * split, no stop-the-world rewrite — snapshots carry mixed-generation
  * bucket sets and ownership resolves per key, highest generation first).
  * Pick B0 so one bucket ≈ a task-sized unit at the starting scale; the
  * default 16 suits test-scale stores. `filesPerBucket` range-splits each
  * bucket so one bucket's rewrite parallelizes over that many tasks.
  *
  * Per-row interactive transactionality is out of scope for the analytics
  * engine (SURVEY §2.2 W3) — a batch is the atomic unit, which is also the
  * only model that survives 1000 executors writing one table.
  *
  * Reference behavior: /root/reference/src/db/client.ts:58-186 (create),
  * :298-338 (relations), :340-380 (cascade delete), :382-405 (conditional
  * delete), :481-543 (DDL bootstrap).
  */
class GraphStore(spark: SparkSession, val root: String, numBuckets: Int = 16,
    filesPerBucket: Int = 1, advisoryLock: Boolean = true) {
  import GraphStore._
  require(numBuckets >= 1 && filesPerBucket >= 1)

  // `advisoryLock = false` runs a writer WITHOUT the machine-local file
  // lock and JVM mutex — the multi-driver situation (two machines over one
  // shared filesystem, where advisory locks don't reach). Correctness then
  // rests entirely on the CAS manifest commit (see withWriteLock): the
  // lock is a throughput optimization (it avoids wasted optimistic work),
  // never the correctness mechanism.

  /** W7 DDL bootstrap — idempotent like the reference's CREATE IF NOT EXISTS
    * (client.ts:481-543), with no in-place upgrade path: a store in an
    * older layout is refused (see [[GraphStore.State.snapshotId]]). Indexes
    * are moot: parquet min/max stats + predicate pushdown (now plus bucket
    * pruning) serve the same point lookups. Writes empty snapshot
    * descriptors for every table, the reverse-edge index `relations_rev`
    * included, in ONE commit — no Spark job runs until the first row.
    */
  def initialize(): Unit = withWriteLock {
    val missing = Tables.filter(state().snapshotId(_).isEmpty)
    if (missing.nonEmpty)
      commitBuckets(missing.map(t => t -> BucketWrite(Set.empty, null)).toMap)
  }

  def entities: DataFrame = readTable(state(), "entities")
  def observations: DataFrame = readTable(state(), "observations")
  def relations: DataFrame = readTable(state(), "relations")
  /** The reverse-edge index: same rows as [[relations]], bucketed by
    * `target` (exposed for specs/ops; queries should read [[relations]]).
    */
  private[graft] def relationsRev: DataFrame = readTable(state(), "relations_rev")

  // ── time travel over the versioned store ────────────────────────────────

  /** COMMITTED snapshots of `table` still on disk, ascending (older ones
    * disappear as `vacuum` retention passes). Descriptors ABOVE the
    * manifest's current snapshot are staged/orphaned writes — commits stage
    * descriptors before flipping the manifest — and are never listed.
    */
  def tableVersions(table: String): Seq[Long] = versionsOf(state(), table)

  private def versionsOf(s: State, table: String): Seq[Long] = {
    schemaFor(table) // validates the table name
    val current = s.snapshotId(table).getOrElse(-1L)
    snapshotsOnDisk(table).filter(_ <= current)
  }

  /** Snapshot read of a table at an explicit COMMITTED snapshot — every
    * commit leaves prior bucket versions untouched, so any un-vacuumed
    * committed snapshot is a consistent point-in-time read (per table;
    * cross-table consistency is what the CURRENT manifest provides).
    */
  def readTableVersion(table: String, version: Long): DataFrame =
    readVersion(state(), table, version)

  private def readVersion(s: State, table: String, version: Long): DataFrame = {
    require(versionsOf(s, table).contains(version),
      s"Version v$version of $table is not a committed on-disk version " +
        "(vacuumed, never written, or an in-flight commit)")
    readDirs(schemaFor(table),
      readSnapshot(table, version).toSeq.map { case (k, v) => bucketVersionDir(table, k, v) })
  }

  /** Snapshot diff between two committed versions of `table`: which keys
    * were added, removed, or changed — the change-data-feed a downstream
    * consumer needs to incrementally react to writes, derived purely from
    * the immutable snapshots (no write-path hooks, no log).
    *
    * One full-outer join keyed on the table's natural key (entities: name;
    * observations: id — both unique per snapshot by construction); "changed"
    * is a null-safe struct inequality over the remaining columns, evaluated
    * inside the join's codegen stage. Both sides are BUCKET-PRUNED to the
    * buckets whose (address, version) differs between the snapshots: a
    * bucket both snapshots map to the same immutable version dir is
    * byte-identical on both sides and can contribute no diff row, so the
    * join reads only changed buckets — diffing two 10 TB snapshots after a
    * 50-entity day costs ~50 bucket reads, not two table scans. (A split
    * between the versions changes the bucket ADDRESSES, so parent and
    * children all land in the changed set and unchanged rows still match
    * across the address change.)
    */
  def diffVersions(table: String, fromVersion: Long, toVersion: Long,
      keyOverride: Seq[String] = Nil): DataFrame = {
    val keys = if (keyOverride.nonEmpty) keyOverride else table match {
      case "entities" => Seq("name")
      case "observations" => Seq("id")
      // parallel relations are exact-duplicate-free per (source, target,
      // type) only if callers keep them so; pass keyOverride otherwise
      case "relations" | "relations_rev" => Seq("source", "target", "relation_type")
      case other => throw new IllegalArgumentException(s"Unknown table: $other")
    }
    val (oldDirs, newDirs) = changedBucketDirs(table, fromVersion, toVersion, state())
    val oldT = readDirs(schemaFor(table), oldDirs)
    val newT = readDirs(schemaFor(table), newDirs)
    val rest = oldT.columns.filterNot(keys.contains).toSeq
    def packed(df: DataFrame, payload: String) = df.select(
      struct(keys.map(col): _*).as("k"),
      struct((lit(1).as("present") +: rest.map(col)): _*).as(payload))
    packed(oldT, "o").join(packed(newT, "n"), Seq("k"), "full_outer")
      .withColumn("change",
        when(col("o").isNull, lit("added"))
          .when(col("n").isNull, lit("removed"))
          .when(!(col("o") <=> col("n")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keys.map(kc => col("k." + kc).as(kc)) :+ col("change"): _*)
  }

  /** The bucket-version dirs of each side of a snapshot diff, RESTRICTED
    * to buckets whose (address, version) differs between the two committed
    * snapshots — the identical-version buckets are immutably byte-equal on
    * both sides and are pruned before any file is read.
    */
  private[graft] def changedBucketDirs(table: String, fromVersion: Long,
      toVersion: Long, s: State = state()): (Seq[Path], Seq[Path]) = {
    val committed = versionsOf(s, table)
    require(committed.contains(fromVersion) && committed.contains(toVersion),
      s"Both v$fromVersion and v$toVersion of $table must be committed on-disk versions")
    val oldSnap = readSnapshot(table, fromVersion)
    val newSnap = readSnapshot(table, toVersion)
    val changed = (oldSnap.keySet ++ newSnap.keySet)
      .filter(b => oldSnap.get(b) != newSnap.get(b))
    def dirs(snap: Map[Bucket, Long]) = snap.toSeq
      .collect { case (b, v) if changed(b) => bucketVersionDir(table, b, v) }
    (dirs(oldSnap), dirs(newSnap))
  }

  private def schemaFor(table: String): StructType = table match {
    case "entities" => EntitiesSchema
    case "observations" => ObservationsSchema
    // relations_rev is the reverse-edge index: SAME rows as relations
    // (an exact 1:1 mirror), bucketed by `target` instead of `source`
    case "relations" | "relations_rev" => RelationsSchema
    case other => throw new IllegalArgumentException(s"Unknown table: $other")
  }

  /** Bucket key column per table — observations/relations bucket by their
    * ENTITY-side key so child rewrites touch the same bucket ids as the
    * parent entity write.
    */
  private def bucketKeyFor(table: String): String = table match {
    case "entities" => "name"
    case "observations" => "entity_name"
    case "relations" => "source"
    case "relations_rev" => "target"
    case other => throw new IllegalArgumentException(s"Unknown table: $other")
  }

  // ── reads (facade over GraphOps, mirroring the six MCP tools) ───────────

  /** Point lookup in ONE Spark job: the entity's row and its observations
    * are two file-pruned reads (bucket pruning picks the 1/B slice, the
    * per-file key-range sidecar the one file whose range can hold the
    * name), unioned and collected once; the observations are ordered on
    * the driver. Pruning keeps a lookup I/O-bounded by one file per table
    * at 100 TB; the single scan-only job keeps it free of a sort's
    * sampling and shuffle jobs.
    */
  def getEntity(name: String): Entity = {
    val s = state()
    val rows = readTableKeys(s, "entities", Seq(name))
      .filter(col("name") === name)
      .select(lit(true).as("is_entity"), col("entity_type").as("value"))
      .union(readTableKeys(s, "observations", Seq(name))
        .filter(col("entity_name") === name)
        .select(lit(false).as("is_entity"), col("content").as("value")))
      .collect()
    val (entity, obs) = rows.partition(_.getBoolean(0))
    if (entity.isEmpty) throw new NoSuchElementException(s"Entity not found: $name")
    // codepoint order (== Spark's UTF-8 string order), not JVM String
    // UTF-16 order — they differ for supplementary-plane chars
    Entity(name, entity.head.getString(1),
      obs.map(_.getString(1)).sorted(CodepointOrdering).toSeq)
  }

  def searchNodes(query: String, limit: Int = DefaultSearchResults): (Seq[Entity], Seq[Relation]) = {
    TextFns.validateQuery(query) // non-empty + ≤512 chars (index.ts:40)
    val s = state()
    graphResult(GraphOps.searchEntities(readTable(s, "entities"),
      readTable(s, "observations"), query, limit), s)
  }

  def readGraph(): (Seq[Entity], Seq[Relation]) = {
    val s = state()
    graphResult(GraphOps.recentEntities(readTable(s, "entities"), 10), s)
  }

  /** Execute the (already top-k-limited, relevance/recency-ordered) hit plan
    * ONCE — the reference returns entities in ranked order
    * (client.ts:241-246) — then fetch everything the hits need in ONE more
    * Spark job: a union of three file-pruned reads keyed by the hit names,
    * grouped and ordered on the driver.
    *
    *  - observations: the hits' buckets of `observations`;
    *  - out-edges: `relations` (bucketed by source), `source ∈ hits`;
    *  - in-edges: the target-bucketed mirror `relations_rev`,
    *    `target ∈ hits ∧ source ∉ hits` — an edge whose source is a hit
    *    already came in as an out-edge, so every touching edge (self-loops,
    *    hit-to-hit edges, parallel edges) appears exactly once.
    *
    * No read scans a whole table and nothing shuffles. The in-edge read
    * relies on the reverse index mirroring `relations`, which every
    * relations-writing commit maintains.
    */
  private[graft] def graphResult(hits: DataFrame,
      s: State = state()): (Seq[Entity], Seq[Relation]) = {
    val ranked = hits.select("name", "entity_type").collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (ranked.isEmpty) return (Nil, Nil) // client.ts:460-462 short-circuit
    val names = ranked.map(_._1).toIndexedSeq
    def hit(c: String) = col(c).isin(names: _*)
    val obs = readTableKeys(s, "observations", names).filter(hit("entity_name"))
      .select(lit(false).as("is_edge"), col("entity_name").as("a"),
        col("content").as("b"), lit(null).cast(StringType).as("c"))
    def edges(df: DataFrame) = df.select(lit(true).as("is_edge"),
      col("source").as("a"), col("target").as("b"), col("relation_type").as("c"))
    val rows = obs
      .union(edges(readTableKeys(s, "relations", names).filter(hit("source"))))
      .union(edges(readTableKeys(s, "relations_rev", names)
        .filter(hit("target") && !hit("source"))))
      .collect()
    val (edgeRows, obsRows) = rows.partition(_.getBoolean(0))
    val obsByName = obsRows.groupBy(_.getString(1)).map { case (k, vs) =>
      k -> vs.map(_.getString(2)).sorted(CodepointOrdering).toSeq
    }
    val hydrated = ranked.map { case (n, t) => Entity(n, t, obsByName.getOrElse(n, Nil)) }
    val rels = edgeRows.map(r => Relation(r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(r => (r.from, r.to, r.relationType))(
        Ordering.Tuple3(CodepointOrdering, CodepointOrdering, CodepointOrdering))
    (hydrated.toSeq, rels.toSeq)
  }

  /** Register the three graph tables as temp views so the full Spark SQL
    * surface (plus `cosine_sim` etc. when GraftExtensions is installed)
    * works over the store: `SELECT ... FROM graft_entities e JOIN ...`.
    */
  def createOrReplaceViews(prefix: String = "graft_"): Unit = {
    val s = state()
    Seq("entities", "observations", "relations")
      .foreach(t => readTable(s, t).createOrReplaceTempView(prefix + t))
  }

  // ── writes ──────────────────────────────────────────────────────────────

  /** W1+W2+W3 create/upsert entities with replace-children semantics
    * (client.ts:58-186): UPDATE keeps the original created_at and replaces
    * entity_type; observations are fully replaced. Only the buckets of the
    * batch's names are read or rewritten.
    *
    * The ≤50-entities-per-call cap mirrors the reference's valibot API
    * boundary (/root/reference/src/index.ts:35); `upsertEntitiesDf` is the
    * uncapped bulk path.
    */
  def createEntities(batch: Seq[Entity]): Unit = withWriteLock {
    require(batch.size <= MaxEntitiesPerCall,
      s"Too many entities in one call: ${batch.size} > $MaxEntitiesPerCall " +
        "(reference API cap; use upsertEntitiesDf for bulk ingest)")
    val cleaned = batch.map { e =>
      val name = clean(e.name, MaxNameLength)
      require(name.nonEmpty, "Entity name cannot be empty")
      val tpe = clean(e.entityType, MaxEntityTypeLength)
      require(e.observations.nonEmpty, s"Entity $name must have at least one observation")
      require(e.observations.size <= MaxObservationsPerEntity,
        s"Entity $name exceeds $MaxObservationsPerEntity observations")
      val obs = e.observations.map { o =>
        val c = clean(o, MaxObservationLength)
        require(c.nonEmpty, s"Entity $name has an empty observation")
        c
      }
      Entity(name, tpe, obs)
    }
    require(cleaned.map(_.name).distinct.size == cleaned.size,
      "Duplicate entity names in one batch")

    val s = state()
    import spark.implicits._
    val incoming = cleaned.map(e => (e.name, e.entityType))
      .toDF("name", "in_type")
    val now = current_timestamp()
    val names = cleaned.map(_.name)
    // owning buckets are PER TABLE: entities and observations may sit at
    // different split generations
    val touchedE = names.map(s.owner("entities", _)).toSet
    val touchedO = names.map(s.owner("observations", _)).toSet

    val existing = readTable(s, "entities", touchedE)
    val kept = existing.join(incoming, Seq("name"), "left_anti")
    val updated = existing.join(incoming, Seq("name"))
      .select(col("name"), col("in_type").as("entity_type"), col("created_at"))
    val inserted = incoming.join(existing, Seq("name"), "left_anti")
      .select(col("name"), col("in_type").as("entity_type"), now.as("created_at"))

    val survivors = readTable(s, "observations", touchedO)
      .filter(!col("entity_name").isin(names: _*))
    // dense ids base+1 … base+n in batch order, assigned driver-side (the
    // batch is capped), so the new mark is known without a max(id) job
    val base = s.nextIdBase("observations")
    val newObs = cleaned.flatMap(e => e.observations.map(o => (e.name, o)))
    val fresh = newObs.zipWithIndex.map { case ((n, o), i) => (base + 1 + i, n, o) }
      .toDF("id", "entity_name", "content")
      .withColumn("created_at", now)
    // one manifest flip covers both tables — W3's "per-entity transaction"
    // becomes per-batch cross-table atomicity
    commitBuckets(Map(
      "entities" -> BucketWrite(touchedE,
        alignTo(EntitiesSchema, kept.unionByName(updated).unionByName(inserted))),
      "observations" -> BucketWrite(touchedO,
        alignTo(ObservationsSchema,
          survivors.unionByName(alignTo(ObservationsSchema, fresh))))),
      Map("observations" -> (base + newObs.size)))
  }

  /** Bulk DataFrame upsert — the 100 TB ingest path (the Seq-based API above
    * mirrors the reference's MCP surface; a cluster-scale writer hands the
    * store a DataFrame instead). Input columns: `name`, `entity_type`,
    * `observations: array<string>`. Sanitize/truncate/validate run IN-PLAN
    * (TextFns column pipelines, codegen'd); invalid rows are dropped rather
    * than failing the batch (bad-row quarantine is the caller's concern at
    * scale). Upsert semantics match createEntities: replace entity_type,
    * keep created_at, replace children. Touched buckets are discovered with
    * one O(distinct buckets ≤ B) aggregation over the checkpointed batch;
    * a batch clustered in few buckets rewrites only those, a corpus-wide
    * batch degenerates to the full rewrite it genuinely is.
    */
  def upsertEntitiesDf(batch: DataFrame): Unit = withWriteLock {
    val s = state()
    // dedup by name must be DETERMINISTIC: dropDuplicates keeps an arbitrary
    // row per key, and `cleaned` is evaluated independently by the entities
    // and observations plans below — a nondeterministic pick could commit
    // the type of one input row with the observations of another
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("name").orderBy(col("in_type"), col("obs"))
    val cleaned = batch.select(
        cleanName(col("name")).as("name"),
        cleanEntityType(col("entity_type")).as("in_type"),
        filter(
          transform(col("observations"), o => cleanObservation(o)),
          o => isNonBlank(o)).as("obs"))
      .filter(isNonBlank(col("name")) &&
        size(col("obs")).between(1, MaxObservationsPerEntity))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      // materialize ONCE: the entities and observations plans below each
      // re-evaluate their inputs, and a nondeterministic source (limit
      // without order, sampling) could otherwise commit entities whose
      // observations were never written
      .localCheckpoint(true)
    val now = current_timestamp()
    // touched-bucket discovery stays in-plan (one O(distinct buckets ≤ B)
    // aggregation), but per table: each table's snapshot may sit at a
    // different split generation
    def touchedIn(table: String): Set[Bucket] =
      cleaned.select(s.tokenCol(s.snap(table).keySet, col("name")).as("b"))
        .distinct().collect().map(r => Bucket.fromToken(r.getString(0))).toSet
    val touchedE = touchedIn("entities")
    val touchedO = touchedIn("observations")

    val existing = readTable(s, "entities", touchedE)
    val kept = existing.join(cleaned, Seq("name"), "left_anti")
    val updated = existing.join(cleaned.select("name", "in_type"), Seq("name"))
      .select(col("name"), col("in_type").as("entity_type"), col("created_at"))
    val inserted = cleaned.join(existing, Seq("name"), "left_anti")
      .select(col("name"), col("in_type").as("entity_type"), now.as("created_at"))

    val updNames = cleaned.select(col("name").as("_upd_name"))
    val survivors = readTable(s, "observations", touchedO).join(updNames,
      col("entity_name") === col("_upd_name"), "left_anti")
    val base = s.nextIdBase("observations")
    val fresh = cleaned
      .select(col("name").as("entity_name"), explode(col("obs")).as("content"))
      .withColumn("id", monotonically_increasing_id() + lit(base + 1))
      .withColumn("created_at", now)
    // maxIdOf is O(batch) — `fresh` derives from the localCheckpointed
    // `cleaned`, so re-evaluating it for the max is cheap AND deterministic
    commitBuckets(Map(
      "entities" -> BucketWrite(touchedE,
        alignTo(EntitiesSchema, kept.unionByName(updated).unionByName(inserted))),
      "observations" -> BucketWrite(touchedO,
        alignTo(ObservationsSchema,
          survivors.unionByName(alignTo(ObservationsSchema, fresh))))),
      Map("observations" -> maxIdOf(fresh, base)))
  }

  /** Structured-Streaming ingest: upsert each micro-batch into the store
    * (exactly-once per the sink's pointer-flip commit; replays of a batch
    * converge because upsert is idempotent for identical input).
    */
  def streamingUpsertSink(entityStream: DataFrame): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    entityStream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) => upsertEntitiesDf(batch)
    }

  /** W4 batch edge insert (client.ts:298-338) — append, parallel edges
    * allowed (the reference never dedups relations). Only the source-side
    * buckets of the batch are rewritten (append = rewrite of those buckets'
    * content plus the new rows). The ≤100-relations-per-call cap mirrors
    * the reference's valibot API boundary (/root/reference/src/index.ts:53).
    */
  def createRelations(batch: Seq[Relation]): Unit = withWriteLock {
    require(batch.size <= MaxRelationsPerCall,
      s"Too many relations in one call: ${batch.size} > $MaxRelationsPerCall " +
        "(reference API cap)")
    val cleaned = batch.map { r =>
      val from = clean(r.from, MaxNameLength)
      val to = clean(r.to, MaxNameLength)
      val tpe = clean(r.relationType, MaxRelationTypeLength)
      require(from.nonEmpty && to.nonEmpty && tpe.nonEmpty,
        "Relation source/target/type cannot be empty")
      Relation(from, to, tpe)
    }
    val s = state()
    val touched = cleaned.map(r => s.owner("relations", r.from)).toSet
    val touchedRev = cleaned.map(r => s.owner("relations_rev", r.to)).toSet
    val base = s.nextIdBase("relations")
    // the batch is materialized as LITERAL rows (ids and timestamp assigned
    // driver-side, bounded by the ≤100 cap): the forward and reverse-index
    // commits each run their own Spark job over this frame, and a
    // monotonically_increasing_id()/current_timestamp() plan would evaluate
    // DIFFERENTLY per job, breaking the fwd ≡ rev mirror invariant
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val rows = cleaned.zipWithIndex.map { case (r, i) =>
      Row(base + 1 + i, r.from, r.to, r.relationType, now)
    }
    import scala.jdk.CollectionConverters._
    val fresh = spark.createDataFrame(rows.asJava, RelationsSchema)
    commitBuckets(Map(
      "relations" -> BucketWrite(touched,
        alignTo(RelationsSchema,
          readTable(s, "relations", touched).unionByName(fresh))),
      "relations_rev" -> BucketWrite(touchedRev,
        alignTo(RelationsSchema,
          readTable(s, "relations_rev", touchedRev).unionByName(fresh)))),
      Map("relations" -> (base + cleaned.size)))
  }

  /** W5 cascading delete (client.ts:340-380): observations by entity_name,
    * relations touching either side, then the entity row — one logical
    * batch, one manifest flip (a crash can never leave dangling
    * edges/observations, client.ts:352-372's batch semantics).
    *
    * Bucket accounting: entities and observations are keyed by the deleted
    * name → exactly one bucket each. Relations are bucketed by SOURCE, so
    * source-side rows live in bucket(name), but target-side rows live in
    * their own sources' buckets — those are discovered from the
    * TARGET-bucketed reverse-edge index (`relations_rev`, an exact mirror
    * of relations bucketed by `target`): in-edges of `name` all live in
    * rev-bucket(name), file-pruned by the `_FILESTATS` sidecar like a
    * point lookup, so discovery reads O(1 file) instead of a full
    * projected scan of relations. Symmetrically, the rev rows of
    * `name`'s OUT-edges live in their targets' rev buckets, discovered
    * from fwd-bucket(name) (also one pruned read). The existence check and
    * both discovery reads are one union collected in ONE Spark job; the
    * collected edge rows are bounded by the entity's degree (those edges
    * sit in the buckets this call rewrites anyway) and their owners are
    * resolved on the driver. The REWRITE stays O(touched buckets) across
    * both tables under the same manifest flip: one write job per
    * one-bucket table, a shuffle-map job plus the write per multi-bucket
    * table (see [[commitBuckets]]).
    */
  def deleteEntity(name: String): Unit = withWriteLock {
    val s = state()
    val nbE = s.owner("entities", name)
    val nbO = s.owner("observations", name)
    // one probe job over three file-pruned reads: the entity's own row, its
    // in-edges' sources (from rev-bucket(name)) and its out-edges' targets
    // (from fwd-bucket(name)); the edge rows are bounded by its degree
    def side(tag: Int, t: String, self: String, other: String) =
      readTableKeys(s, t, Seq(name)).filter(col(self) === name)
        .select(lit(tag).as("tag"), col(other).as("key"))
    val probe = side(0, "entities", "name", "name")
      .union(side(1, "relations_rev", "target", "source"))
      .union(side(2, "relations", "source", "target"))
      .collect()
    if (!probe.exists(_.getInt(0) == 0))
      throw new NoSuchElementException(s"Entity not found: $name")
    def owners(tag: Int, t: String) = probe.collect {
      case r if r.getInt(0) == tag => s.owner(t, r.getString(1))
    }.toSet + s.owner(t, name)
    val relTouched = owners(1, "relations")
    val revTouched = owners(2, "relations_rev")
    val keep = !(col("source") === name || col("target") === name)
    commitBuckets(Map(
      "observations" -> BucketWrite(Set(nbO),
        readTable(s, "observations", Set(nbO))
          .filter(col("entity_name") =!= name)),
      "relations" -> BucketWrite(relTouched,
        readTable(s, "relations", relTouched).filter(keep)),
      "relations_rev" -> BucketWrite(revTouched,
        readTable(s, "relations_rev", revTouched).filter(keep)),
      "entities" -> BucketWrite(Set(nbE),
        readTable(s, "entities", Set(nbE)).filter(col("name") =!= name))))
  }

  /** W6 conditional delete with affected-count check (client.ts:382-405).
    * The probe and the rewrite touch only bucket(from), plus the rev
    * index's bucket(to): three Spark jobs, the probe and one write per
    * table.
    */
  def deleteRelation(from: String, to: String, relationType: String): Unit = withWriteLock {
    val cond = col("source") === from && col("target") === to &&
      col("relation_type") === relationType
    val s = state()
    val b = Set(s.owner("relations", from))
    val bRev = Set(s.owner("relations_rev", to))
    val bucket = readTable(s, "relations", b)
    // the existence probe prunes to the file(s) whose source range can hold
    // `from` and runs one job (`isEmpty`; limit(1).count() runs two); the
    // rewrite below still reads the whole (one) bucket — plus the ONE rev
    // bucket keyed by `to`, under the same manifest flip
    if (readTableKeys(s, "relations", Seq(from)).filter(cond).isEmpty)
      throw new NoSuchElementException(s"Relation not found: $from -$relationType-> $to")
    commitBuckets(Map(
      "relations" -> BucketWrite(b, bucket.filter(!cond)),
      "relations_rev" -> BucketWrite(bRev,
        readTable(s, "relations_rev", bRev).filter(!cond))))
  }

  // ── storage: bucketed CoW parquet with one atomic manifest flip ─────────

  /** Mutations are read-modify-write over the current snapshot, so
    * concurrent writers could lose updates. Two mechanisms compose:
    *
    * 1. An advisory file lock plus a per-root JVM mutex serialize writers
    *    that can SEE each other (one machine; JVM file locks are held
    *    per-JVM — without the mutex a second in-process writer gets
    *    OverlappingFileLockException instead of waiting). This is the fast
    *    path: serialized writers never waste optimistic work.
    * 2. The COMMIT itself is a compare-and-swap that does not trust the
    *    lock: each transaction pins the manifest version it read (its
    *    base) and reads repeatably from that manifest's [[State]], and
    *    commits by hard-LINKING its fully-written new manifest into the
    *    exclusive history slot `_manifests/m(base+1)` — link(2) is an
    *    atomic put-if-absent, so of two racing writers exactly one wins;
    *    the loser's staged files become unreferenced orphans and its whole
    *    read-modify-write body RERUNS against the new state (the
    *    `CommitConflict` retry loop below). Two drivers on one shared
    *    filesystem (where advisory locks don't reach — construct with
    *    `advisoryLock = false`) therefore cannot lose updates.
    *
    * The winner then flips `_MANIFEST` (temp + ATOMIC_MOVE) to publish to
    * readers, who never block: they resolve the manifest once and read
    * immutable files. A crash between link and flip leaves the commit
    * durable-but-unpublished; the next writer's `repairManifest` flips the
    * pointer forward to the history head before pinning its base.
    *
    * WHY THIS IS NOT [[VersionedDir]] (the whole-tree CAS every persisted
    * INDEX rides): same contract — pin → stage-complete → atomic
    * put-if-absent claim → rerun-on-loss, and CommitProtocolContractSpec
    * runs one race matrix over both — but different version granularity
    * by design. Index mutations logically replace the index, so a version
    * there is the whole tree with hardlink adoption for untouched files;
    * the store's unit of change is one bucket of one table, so a commit
    * stages O(touched buckets) dirs and links one manifest line, keeping
    * point-writes O(1/B of a table) and bucket version history (time
    * travel, diffs, bucket-granular vacuum) first-class. Folding either
    * protocol into the other forfeits its granularity; guarantee changes
    * must keep the shared contract spec green for BOTH.
    */
  // the transaction record lives in the COMPANION, keyed by normalized
  // root: two GraphStore instances over the same root share it, so a nested
  // same-thread write through the second instance joins the outer
  // transaction (it neither re-takes the FileChannel lock, which would throw
  // OverlappingFileLockException, nor reads past the outer pin)
  private val perRoot = GraphStore.perRoot(root)

  // instance-local monitor used when the advisory lock is off: it protects
  // only this instance's reentrancy, NOT cross-writer serialization (that's
  // the CAS's job)
  private val instanceMonitor = new Object

  def withWriteLock[T](body: => T): T = {
    val monitor = if (advisoryLock) perRoot else instanceMonitor
    monitor.synchronized {
      // reentrant: the monitor above is, but a second FileChannel.lock() on
      // the same file in one JVM throws OverlappingFileLockException — only
      // the outermost frame takes the file lock and owns the retry loop
      if (perRoot.tx.get != null) body
      else {
        Files.createDirectories(Paths.get(root))
        val ch = if (advisoryLock)
          java.nio.channels.FileChannel.open(
            Paths.get(root, "_LOCK"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
        else null
        val lock = if (ch != null) ch.lock() else null
        try {
          var out: Option[T] = None
          while (out.isEmpty) {
            repairManifest()
            perRoot.tx.set(Tx(manifestsOnDisk.lastOption.getOrElse(0L), readState()))
            try out = Some(body)
            catch { case _: CommitConflict => () } // lost the CAS — re-pin, rerun
          }
          out.get
        } finally {
          perRoot.tx.remove()
          if (lock != null) { lock.release(); ch.close() }
        }
      }
    }
  }

  /** The store's state for one call: inside a write transaction the
    * transaction's pinned [[State]] (repeatable reads — the CAS commit
    * guarantees the pinned base is still current when the writes land),
    * otherwise one fresh read of `_MANIFEST`. Every public method calls
    * this once and reads every table through the result.
    */
  private[graft] def state(): State = {
    val tx = perRoot.tx.get
    if (tx != null) tx.state else readState()
  }

  private def readState(): State = new State(
    if (Files.exists(manifestFile)) readKv(manifestFile) else Map.empty,
    numBuckets, readSnapshot, root)

  /** If `_MANIFEST` trails the history head (a writer crashed between its
    * CAS link and the reader-facing flip), flip it forward — the commit was
    * already durable, this publishes it.
    */
  private def repairManifest(): Unit =
    manifestsOnDisk.lastOption.foreach { m =>
      val head = Files.readAllBytes(manifestsDir.resolve("m" + m))
      val cur = if (Files.exists(manifestFile)) Files.readAllBytes(manifestFile)
        else Array.empty[Byte]
      if (!java.util.Arrays.equals(head, cur)) {
        val tmp = Paths.get(root, s"_MANIFEST.repair${System.nanoTime()}")
        Files.write(tmp, head)
        // lockless mode: a slow repairer must not republish a STALE head
        // over a newer writer's flip — re-check the history immediately
        // before the move and stand down if a newer entry appeared (that
        // writer has flipped, or its own repair will). Best-effort window
        // shrink; commits/history are CAS-protected regardless, so the
        // worst residual case is a one-version reader-visible lag healed
        // by the next write.
        if (manifestsOnDisk.lastOption.contains(m))
          Files.move(tmp, manifestFile, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING): Unit
        else Files.delete(tmp)
      }
    }

  private def tableDir(t: String): Path = Paths.get(root, t)
  private def manifestFile = Paths.get(root, "_MANIFEST")
  private def snapshotsDir(t: String): Path = tableDir(t).resolve("_snapshots")
  private def snapshotFile(t: String, s: Long): Path =
    snapshotsDir(t).resolve("s" + s)
  private def bucketDir(t: String, b: Bucket): Path =
    tableDir(t).resolve(b.dirName)
  private def bucketVersionDir(t: String, b: Bucket, v: Long): Path =
    bucketDir(t, b).resolve("v" + v)

  /** All `s<N>` snapshot descriptors present for a table (committed or
    * staged), ascending.
    */
  private def snapshotsOnDisk(t: String): Seq[Long] =
    Option(snapshotsDir(t).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("s\\d+"))
      .map(_.getName.drop(1).toLong).sorted.toSeq

  /** All `v<N>` version dirs present for a bucket (committed or staged),
    * ascending.
    */
  private def bucketVersionsOnDisk(t: String, b: Bucket): Seq[Long] =
    Option(bucketDir(t, b).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).sorted.toSeq

  /** Buckets with at least one version dir on disk (any generation). */
  private def bucketsOnDisk(t: String): Seq[Bucket] =
    Option(tableDir(t).toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(f => Bucket.fromDirName(f.getName))
      .sortBy(b => (b.gen, b.id)).toSeq

  /** The parquet files of one bucket-version dir (none if it is absent). */
  private def parquetsIn(dir: Path): Array[java.io.File] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && f.isFile)

  /** Parse a snapshot descriptor: bucket → bucket version (line formats
    * `id=vN` for generation 0 — the legacy layout — and `g:id=vN` above).
    */
  private def readSnapshot(t: String, s: Long): Map[Bucket, Long] =
    readKv(snapshotFile(t, s)).map { case (k, v) => Bucket.fromDescKey(k) -> v.drop(1).toLong }

  private def readDirs(schema: StructType, dirs: Seq[Path]): DataFrame = {
    // empty bucket-version dirs (a bucket whose rewrite emptied it) carry no
    // parquet files; with the explicit schema Spark reads them as no rows
    val nonEmpty = dirs.filter(parquetsIn(_).nonEmpty)
    if (nonEmpty.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(nonEmpty.map(_.toString): _*)
  }

  /** `t` as of state `s`, RESTRICTED to the buckets `only` accepts — the
    * read side of bucket pruning: point lookups and mutations read 1/B of
    * the table per touched key.
    */
  private def readTable(s: State, t: String,
      only: Bucket => Boolean = _ => true): DataFrame =
    readDirs(schemaFor(t), s.live(t).toSeq.collect {
      case (k, v) if only(k) => bucketVersionDir(t, k, v)
    })

  /** One table's part of a commit: the buckets being rewritten, the new
    * FULL content of exactly those buckets (`content` may be null iff
    * `touched` is empty — the initialize path), and buckets REMOVED from
    * the snapshot (a split retires the parent its children replace).
    */
  private[graft] case class BucketWrite(touched: Set[Bucket], content: DataFrame,
      retired: Set[Bucket] = Set.empty)

  /** Stage new versions for every touched bucket of every table in
    * `updates` over the transaction's pinned [[State]] (per table: route
    * each row to its bucket's partition, sort by key, write with
    * `partitionBy`, move each staged partition dir into place), stage each
    * table's new snapshot descriptor, then atomically flip the manifest
    * (write temp + ATOMIC_MOVE). Readers see the whole old or whole new
    * snapshot, never a mix; a crash mid-stage leaves only orphan
    * dirs/descriptors the next vacuum removes.
    *
    * Spark jobs per table, beyond those of `content`'s own plan: one write
    * job for a one-bucket commit at `filesPerBucket = 1` (no shuffle); a
    * shuffle-map job plus the write for several buckets at
    * `filesPerBucket = 1` (partition by bucket index, no sample); and a
    * range-partitioning sample job, the shuffle and the write at
    * `filesPerBucket > 1`.
    */
  private[graft] def commitBuckets(updates: Map[String, BucketWrite],
      maxIds: Map[String, Long] = Map.empty): Unit = {
    val tx = perRoot.tx.get
    require(tx != null, "commit outside a withWriteLock transaction")
    val manifest = tx.state.manifest
    val staged = updates.map { case (t, BucketWrite(touched, content, retired)) =>
      Files.createDirectories(snapshotsDir(t))
      val cur = tx.state.snap(t)
      val newVersions: Map[Bucket, Long] =
        if (touched.isEmpty) Map.empty
        else {
          val key = bucketKeyFor(t)
          val stage = tableDir(t).resolve(s"_stage_${System.nanoTime()}")
          // rows route by POST-commit ownership: a split's children are in
          // `touched` but not yet in `cur`, and its parent is retired
          val effective = cur.keySet -- retired ++ touched
          val bucketed = content.withColumn("_bucket",
            tx.state.tokenCol(effective, col(key)))
          // Every bucket version is written SORTED BY ITS BUCKET KEY, split
          // into ~filesPerBucket files of DISJOINT key ranges, then sorted
          // within partitions. Disjoint sorted files are what makes the
          // per-file min/max sidecar written below prune a point lookup to
          // ONE file (and parquet row-group stats prune within it): at B in
          // the thousands a bucket is still tens of GB — a lookup must not
          // read it all. Partitioning follows the target layout, with an
          // explicit partition count so AQE cannot coalesce buckets back
          // into one task:
          //  - one file in all: no shuffle, one task writes it;
          //  - one file per bucket: each row goes to the partition of its
          //    bucket's index in the sorted touched list (no sample, and
          //    no hash collisions: hash partitioning on `_bucket` can put
          //    two buckets in one task and leave another task idle);
          //  - several files per bucket: range-partition on (bucket, key),
          //    the one layout that needs key bounds (a sampling job).
          val ordered = touched.toSeq.sortBy(b => (b.gen, b.id))
          val parts =
            if (filesPerBucket * ordered.size == 1) bucketed.coalesce(1)
            else if (filesPerBucket == 1) bucketed.repartitionById(ordered.size,
              array_position(lit(ordered.map(_.token).toArray), col("_bucket")).cast("int") - 1)
            else bucketed.repartitionByRange(filesPerBucket * ordered.size,
              col("_bucket"), col(key))
          val split = parts.sortWithinPartitions(col("_bucket"), col(key))
          split.write.partitionBy("_bucket").parquet(stage.toString)
          // a row whose bucket is outside `touched` would be silently
          // dropped by the move below — make a caller bug loud instead
          val strays = Option(stage.toFile.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.startsWith("_bucket="))
            .map(f => Bucket.fromToken(f.getName.stripPrefix("_bucket=")))
            .filterNot(touched)
          require(strays.isEmpty,
            s"commit to $t staged rows for untouched buckets " +
              strays.map(_.dirName).sorted.mkString("[", ",", "]"))
          val out = ordered.map { k =>
            Files.createDirectories(bucketVersionDir(t, k, 1).getParent)
            val src = stage.resolve(s"_bucket=${k.token}")
            // a bucket rewritten to EMPTY still stages a real dir (with an
            // `_EMPTY` marker, invisible to the parquet reader) so that
            // every installed version dir is non-empty: rename(2) silently
            // replaces an empty dest dir, so an empty claim could be
            // clobbered by a racing writer — non-empty dirs make every
            // version collision surface as a move failure handled below
            if (!Files.isDirectory(src)) {
              Files.createDirectories(src)
              Files.write(src.resolve("_EMPTY"), Array.empty[Byte]): Unit
            }
            // install at the next free version: racing writers of the same
            // bucket collide on the move (dest exists, non-empty) and bump
            // — versions are claimed first-come, the CAS below decides
            // whose SNAPSHOT wins; the loser's dir becomes an orphan
            var next = bucketVersionsOnDisk(t, k).lastOption.getOrElse(0L) + 1
            var moved = false
            while (!moved) {
              val dest = bucketVersionDir(t, k, next)
              try {
                Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
                moved = true
              } catch {
                case e: java.nio.file.FileSystemException
                    if Files.exists(dest) => next += 1
              }
            }
            writeFileStats(bucketVersionDir(t, k, next), key)
            k -> next
          }.toMap
          rmTree(stage.toFile) // _SUCCESS + emptied partition skeleton
          out
        }
      val snap = cur -- retired ++ newVersions
      // snapshot descriptors install by hard-link put-if-absent: two racing
      // writers can never overwrite each other's s<N> (Files.write would),
      // they just take successive ids — the manifest CAS decides whose id
      // is referenced; the loser's descriptor is an orphan
      val snapBody = snap.toSeq.sortBy(kv => (kv._1.gen, kv._1.id))
        .map { case (k, v) => s"${k.descKey}=v$v" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8)
      val snapTmp = tableDir(t).resolve(s"_snap_tmp_${System.nanoTime()}")
      Files.write(snapTmp, snapBody)
      var snapId = snapshotsOnDisk(t).lastOption.getOrElse(0L) + 1
      var linked = false
      while (!linked) {
        try {
          Files.createLink(snapshotFile(t, snapId), snapTmp)
          linked = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => snapId += 1
        }
      }
      Files.delete(snapTmp)
      t -> s"s$snapId"
    }
    val merged = manifest ++ staged ++
      maxIds.map { case (t, v) => s"maxid.$t" -> v.toString } +
      ("nbuckets" -> manifest.getOrElse("nbuckets", numBuckets.toString))
    val body = merged.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes(StandardCharsets.UTF_8)
    // THE COMMIT POINT — compare-and-swap on the manifest history: link the
    // fully-written manifest into the slot right after this transaction's
    // pinned base. link(2) is an atomic put-if-absent, so if ANY other
    // writer committed since the pin (advisory locks don't cross machines),
    // the slot is taken, everything staged above is an unreferenced orphan,
    // and the whole read-modify-write body reruns from the new state.
    val target = tx.base + 1
    Files.createDirectories(manifestsDir)
    val tmp = Paths.get(root, s"_MANIFEST.tmp${System.nanoTime()}")
    Files.write(tmp, body)
    try Files.createLink(manifestsDir.resolve("m" + target), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.delete(tmp)
        throw new CommitConflict
    }
    Files.delete(tmp)
    // durable; now publish to readers (a crash before this flip is healed
    // by the next writer's repairManifest). FRESH bytes, not a move of the
    // linked tmp: _MANIFEST must never share an inode with the immutable
    // history file, or an in-place edit of one would corrupt the other.
    val pub = Paths.get(root, s"_MANIFEST.pub${System.nanoTime()}")
    Files.write(pub, body)
    Files.move(pub, manifestFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // advance the pin: a later commit in this same transaction (e.g. the
    // next split of advanceGeneration) chains onto this one
    perRoot.tx.set(Tx(target, new State(merged, numBuckets, readSnapshot, root)))
  }

  // ── per-file key-range stats: point-lookup pruning below bucket level ───

  /** Write the `_FILESTATS` sidecar for a just-committed bucket version dir:
    * one line per parquet file, `name \t b64(min) \t b64(max)` of the bucket
    * key column, read from the files' FOOTERS (metadata only — no data
    * read). Because the commit path writes each bucket sorted by key into
    * range-disjoint files, these [min,max] intervals don't overlap and a
    * point lookup matches exactly one file. A file whose footer lacks key
    * stats gets a `-` marker and is never pruned (conservative). Parquet may
    * truncate long binary min/max, but always conservatively (min rounds
    * down, max rounds up), so pruning on them stays sound.
    */
  private def writeFileStats(dir: Path, key: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val enc = java.util.Base64.getEncoder
    val lines = parquetsIn(dir).sortBy(_.getName).map { f =>
      // one footer read yields BOTH the key range (pruning) and the row
      // count (metadata-only count(*) — see metaRowCount)
      val (range, rows) =
        try ParquetMeta.withFooter(conf, f) { r =>
          import scala.jdk.CollectionConverters._
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          val nRows = blocks.map(_.getRowCount).sum
          val perBlock = blocks.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == key)
              .map(_.getStatistics)
              .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
              .map(s => (s.getMinBytes, s.getMaxBytes))
          }
          // every row group must carry stats or the file is unpruneable
          val rg =
            if (perBlock.nonEmpty && perBlock.forall(_.isDefined)) {
              val mins = perBlock.map(_.get._1)
              val maxs = perBlock.map(_.get._2)
              Some((mins.min(UnsignedBytesOrdering), maxs.max(UnsignedBytesOrdering)))
            } else None
          (rg, Some(nRows))
        } catch { case scala.util.control.NonFatal(_) => (None, None) }
      val rangeCols = range match {
        case Some((mn, mx)) => s"${enc.encodeToString(mn)}\t${enc.encodeToString(mx)}"
        case None => "-\t-"
      }
      s"${f.getName}\t$rangeCols\t${rows.map(_.toString).getOrElse("-")}"
    }
    Files.write(dir.resolve("_FILESTATS"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** One `_FILESTATS` line: the file's bucket-key range (None for a `-`
    * marker: the file may hold any key) and its row count (None for `-`
    * or a 3-field line — a sidecar written before row counts existed).
    */
  private case class FileStat(range: Option[(Array[Byte], Array[Byte])], rows: Option[Long])

  /** The `_FILESTATS` sidecar of one bucket-version dir by file name — the
    * one reader of what [[writeFileStats]] writes. None when the dir has no
    * sidecar (a store written before round 10).
    */
  private def fileStats(dir: Path): Option[Map[String, FileStat]] = {
    val sidecar = dir.resolve("_FILESTATS")
    if (!Files.exists(sidecar)) return None
    val dec = java.util.Base64.getDecoder
    Some(new String(Files.readAllBytes(sidecar), StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.split("\t")).filter(_.length >= 3).map { f =>
        f(0) -> FileStat(
          if (f(1) == "-") None else Some((dec.decode(f(1)), dec.decode(f(2)))),
          f.lift(3).filter(_ != "-").map(_.toLong))
      }.toMap)
  }

  /** The parquet files of one bucket-version dir that can contain any of
    * `keyBytes` (UTF-8 of the probe keys), per the `_FILESTATS` sidecar.
    * No sidecar or a `-` range falls back to "file may match" — pruning is
    * only ever an elision.
    */
  private def pruneBucketFiles(dir: Path, keyBytes: Seq[Array[Byte]]): Seq[Path] = {
    val all = parquetsIn(dir).map(f => f.getName -> f.toPath).toMap
    val ord = UnsignedBytesOrdering
    fileStats(dir) match {
      case None => all.values.toSeq.sortBy(_.getFileName.toString)
      case Some(stats) => stats.toSeq.collect {
        case (name, FileStat(range, _)) if all.contains(name) && range.forall { case (lo, hi) =>
          keyBytes.exists(k => ord.lteq(lo, k) && ord.lteq(k, hi)) } => all(name)
      }.sortBy(_.getFileName.toString)
    }
  }

  /** Exact `count(*)` of `table`'s current snapshot from METADATA only:
    * per live bucket version, the `_FILESTATS` sidecar's row-count field
    * (one tiny file read per bucket), trusted only when it covers every
    * parquet file of the dir; otherwise — a sidecar written before row
    * counts existed, or none at all — the parquet FOOTERS of that dir
    * (still metadata: no data page is ever read, no Spark job runs). At
    * 100 TB this answers the commonest operational query — "how many
    * entities do we have?" — in O(buckets) driver-side reads instead of a
    * full scan.
    */
  def metaRowCount(table: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    state().live(table).toSeq.map { case (b, v) =>
      val dir = bucketVersionDir(table, b, v)
      val parquets = parquetsIn(dir)
      val stats = fileStats(dir).getOrElse(Map.empty)
      val counted = parquets.flatMap(f => stats.get(f.getName).flatMap(_.rows))
      if (counted.length == parquets.length) counted.sum
      else parquets.map(ParquetMeta.withFooter(conf, _)(_.getRecordCount)).sum
    }.sum
  }

  /** Point-lookup read: resolve each key's bucket, then prune INSIDE the
    * bucket to the files whose key range can hold it — a lookup against a
    * B-bucket store reads one file of one bucket, not one bucket. Keys
    * outside any file's range read nothing at all.
    */
  private[graft] def filesForKeys(t: String, keys: Seq[String],
      s: State = state()): Seq[Path] = {
    val snap = s.live(t)
    keys.groupBy(s.owner(t, _)).toSeq.sortBy(b => (b._1.gen, b._1.id))
      .flatMap { case (b, ks) =>
        snap.get(b).toSeq.flatMap(v => pruneBucketFiles(bucketVersionDir(t, b, v),
          ks.map(_.getBytes(StandardCharsets.UTF_8))))
      }.distinct
  }

  private def readTableKeys(s: State, t: String, keys: Seq[String]): DataFrame = {
    val files = filesForKeys(t, keys, s)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaFor(t))
    else spark.read.schema(schemaFor(t)).parquet(files.map(_.toString): _*)
  }

  // ── cross-table consistent time travel ──────────────────────────────────

  private def manifestsDir: Path = Paths.get(root, "_manifests")
  private def manifestsOnDisk: Seq[Long] =
    Option(manifestsDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("m\\d+"))
      .map(_.getName.drop(1).toLong).sorted.toSeq

  /** Store-wide commit ids still on disk, ascending — each is a CROSS-TABLE
    * consistent point (the whole `_MANIFEST` as it stood after that commit),
    * unlike [[tableVersions]]' per-table snapshots. The newest one is
    * always the current manifest.
    */
  def storeVersions: Seq[Long] = storeVersionsOf(state())

  private def storeVersionsOf(s: State): Seq[Long] = manifestsOnDisk.filter { m =>
    // exclude orphans from a crash between history-write and flip: a
    // history file is committed iff every table snapshot it references is
    // at or below the table's CURRENT snapshot (snapshots only grow)
    readKv(manifestsDir.resolve("m" + m)).forall { case (t, v) =>
      !Tables.contains(t) || s.snapshotId(t).exists(_ >= v.drop(1).toLong)
    }
  }

  /** Read `table` as it stood at store-wide commit `storeVersion` — the
    * cross-table consistent snapshot (all three tables read at the same
    * commit see exactly the state one atomic manifest flip published, e.g.
    * a cascade delete is wholly present or wholly absent across tables).
    * Requires the referenced table snapshots to not have been vacuumed:
    * retention is governed by the same `vacuum(keepVersions)` horizon.
    */
  def readTableAt(table: String, storeVersion: Long): DataFrame = {
    schemaFor(table)
    val s = state()
    require(storeVersionsOf(s).contains(storeVersion),
      s"Store version m$storeVersion is not a committed on-disk manifest " +
        "(vacuumed, never written, or an in-flight commit)")
    val snap = readKv(manifestsDir.resolve("m" + storeVersion)).get(table)
      .map(_.drop(1).toLong).getOrElse(throw new IllegalStateException(
        s"Table $table absent from store version m$storeVersion"))
    readVersion(s, table, snap)
  }

  /** Buckets present in `table`'s current snapshot, (gen, id)-ordered —
    * the candidates for [[splitBucket]]. Package-private: spec scaffolding;
    * operators size buckets through [[bucketBytes]].
    */
  private[graft] def liveBuckets(table: String): Seq[Bucket] =
    state().snap(table).keySet.toSeq.sortBy(b => (b.gen, b.id))

  /** Progressive re-bucketing (extendible hashing step): split `bucket`
    * into its two generation-(g+1) children. For a key with hash `h` owned
    * by (g, k), `pmod(h, 2m)` (m = B0·2^g) is exactly `k` or `k+m`, so the
    * parent's rows partition into the two children and NO other key's
    * owner changes; the parent is retired and every other bucket is
    * carried by reference. A store that grew 100× therefore doubles B by
    * calling this once per bucket — each call one bucket-sized commit
    * under the write lock, readers always seeing a complete key-space
    * cover — with no stop-the-world table rewrite. Mixed generations are
    * first-class: reads, writes, and point lookups resolve ownership
    * per-key from the snapshot's (gen, id) set.
    */
  def splitBucket(table: String, bucket: Bucket): Unit = withWriteLock {
    val s = state()
    val cur = s.snap(table)
    require(cur.contains(bucket),
      s"$table has no committed bucket ${bucket.dirName} to split")
    val m = s.buckets << bucket.gen
    val children = Set(
      Bucket(bucket.gen + 1, bucket.id),
      Bucket(bucket.gen + 1, bucket.id + m))
    val content = readDirs(schemaFor(table),
      Seq(bucketVersionDir(table, bucket, cur(bucket))))
    commitBuckets(Map(table ->
      BucketWrite(children, content, retired = Set(bucket))))
  }

  /** Split every lowest-generation bucket of `table`, one commit per
    * bucket — after it returns, the table's live bucket count has doubled
    * for the generation that was lowest. Interleaved reads and writes are
    * safe at every point (each split is its own atomic commit).
    */
  def advanceGeneration(table: String): Unit = withWriteLock {
    val cur = state().snap(table)
    if (cur.nonEmpty) {
      val g = cur.keySet.map(_.gen).min
      cur.keySet.filter(_.gen == g).toSeq.sortBy(_.id)
        .foreach(splitBucket(table, _))
    }
  }

  /** Current on-disk bytes per live bucket (driver-side file-length sum
    * over each bucket's CURRENT version dir — metadata only, no Spark
    * job). The input to a split policy.
    */
  def bucketBytes(table: String): Map[Bucket, Long] =
    state().snap(table).map { case (b, v) =>
      b -> parquetsIn(bucketVersionDir(table, b, v)).map(_.length()).sum
    }

  /** Split POLICY: split every live bucket whose current bytes exceed
    * `maxBytes`, repeating on the children until all buckets fit or
    * `maxRounds` splits of lineage have been applied (a pathological
    * single-key hot bucket cannot shrink by splitting — the cap keeps the
    * policy from spinning on it). This is the operational loop a store at
    * 100 TB runs after ingest: growth doubles B exactly where data
    * accumulated, one bucket-sized commit at a time, reads never blocked.
    * Returns the number of splits performed.
    */
  def splitOversized(table: String, maxBytes: Long, maxRounds: Int = 8): Int =
    withWriteLock {
      require(maxBytes > 0 && maxRounds >= 1)
      var splits = 0
      var round = 0
      var oversized = bucketBytes(table).filter(_._2 > maxBytes).keySet
      while (oversized.nonEmpty && round < maxRounds) {
        oversized.toSeq.sortBy(b => (b.gen, b.id)).foreach { b =>
          splitBucket(table, b); splits += 1
        }
        round += 1
        oversized = bucketBytes(table).filter(_._2 > maxBytes).keySet
      }
      splits
    }

  /** Sibling merge: the inverse of [[splitBucket]]. `parent` names a
    * RETIRED generation-g bucket whose two generation-(g+1) children are
    * both live; one atomic commit re-combines their rows into the parent
    * and retires both children. Ownership stays exact without any
    * rehashing: the merged keys' gen-(g+1) candidate slots leave the
    * snapshot, so per-key resolution falls through to the gen-g slot —
    * the restored parent — and no OTHER key's owner changes (its
    * candidate slots are untouched). Only the two children are read and
    * one bucket is written; every other bucket is carried by reference,
    * so a shrink after mass deletion costs one bucket-sized commit per
    * reclaimed bucket, never a table rewrite.
    */
  def mergeChildren(table: String, parent: Bucket): Unit = withWriteLock {
    val s = state()
    val cur = s.snap(table)
    val m = s.buckets << parent.gen
    require(parent.id >= 0 && parent.id < m,
      s"${parent.dirName} is not a valid generation-${parent.gen} address (B=$m)")
    val children =
      Seq(Bucket(parent.gen + 1, parent.id), Bucket(parent.gen + 1, parent.id + m))
    // `parent` live would mean the children never existed (a split retires
    // it) — catch a caller addressing the wrong generation
    require(!cur.contains(parent),
      s"$table bucket ${parent.dirName} is live — nothing to merge into it")
    require(children.forall(cur.contains),
      s"$table cannot merge into ${parent.dirName}: children " +
        children.map(_.dirName).mkString(" + ") + " are not both live " +
        "(one may itself be split — merge its children first)")
    val content = readDirs(schemaFor(table),
      children.map(c => bucketVersionDir(table, c, cur(c))))
    commitBuckets(Map(table ->
      BucketWrite(Set(parent), content, retired = children.toSet)))
  }

  /** Merge POLICY (inverse of [[splitOversized]]): merge every live
    * sibling pair whose COMBINED on-disk bytes fit in `maxBytes`,
    * cascading up generations round by round (a merged parent may
    * immediately pair with ITS sibling) until nothing merges or
    * `maxRounds` rounds ran. A store that shrank after mass deletes
    * reclaims bucket count exactly where the data disappeared — small
    * buckets mean per-bucket task overhead dominates scans, so shrink is
    * as operationally necessary at 100 TB as growth. Returns the number
    * of merges performed.
    */
  def mergeUndersized(table: String, maxBytes: Long, maxRounds: Int = 8): Int =
    withWriteLock {
      require(maxBytes > 0 && maxRounds >= 1)
      var merges = 0
      var round = 0
      var progress = true
      val nb = state().buckets // fixed at initialize; no merge changes it
      while (progress && round < maxRounds) {
        progress = false
        val sizes = bucketBytes(table)
        val live = sizes.keySet
        // canonical (low-id) child of each mergeable pair → its parent
        val parents = live.toSeq.sortBy(b => (b.gen, b.id)).flatMap { b =>
          val m = if (b.gen > 0) nb << (b.gen - 1) else 0
          if (b.gen > 0 && b.id < m) {
            val sib = Bucket(b.gen, b.id + m)
            if (live(sib) && sizes(b) + sizes(sib) <= maxBytes)
              Some(Bucket(b.gen - 1, b.id))
            else None
          } else None
        }
        parents.foreach { p =>
          mergeChildren(table, p); merges += 1; progress = true
        }
        round += 1
      }
      merges
    }

  /** Compaction: rewrite every bucket of `table`'s current snapshot — a
    * whole-table self-commit, then `vacuum` once reader horizons pass. The
    * commit path already lays each bucket out as its target files: at
    * `filesPerBucket = 1` one key-sorted file per bucket (partitioned by
    * bucket index, no sampling job), above it `filesPerBucket`
    * range-disjoint files (range-partitioned, one sampling job).
    */
  def compact(table: String): Unit = withWriteLock {
    val s = state()
    val cur = s.snap(table)
    if (cur.nonEmpty)
      commitBuckets(Map(table -> BucketWrite(cur.keySet, readTable(s, table))))
  }

  /** Retention: keep the `keepVersions` most recent COMMITTED snapshots of
    * each table (always including the manifest's current one), then delete
    * every snapshot descriptor and bucket-version directory no kept
    * snapshot references. Runs under the write lock, so orphans above the
    * current snapshot — from a crashed stage — are safe to delete too: no
    * commit is in progress and the manifest never pointed at them.
    *
    * READER HORIZON: a DataFrame resolved before `vacuum` holds paths into
    * the old snapshot's bucket dirs; executing it after those dirs are
    * deleted fails loudly (FileNotFoundException from the scan) — Spark
    * pins the file listing, not the file contents. Run vacuum with
    * `keepVersions` ≥ 1 + the number of snapshots your slowest in-flight
    * reader may still hold (GraphStoreSpec pins both the loud failure and
    * the keepVersions=2 safe path).
    */
  def vacuum(keepVersions: Int = 1): Unit = withWriteLock {
    require(keepVersions >= 1)
    // vacuum treats above-current snapshots/versions as orphans and deletes
    // them — correct for crashed commits and CAS losers, but an IN-FLIGHT
    // lockless writer's freshly staged files look identical until its
    // manifest link lands. Retention is therefore a locked, single-machine
    // maintenance op: it must be able to see every live writer.
    require(advisoryLock,
      "vacuum requires the advisory lock (a lockless writer's in-flight " +
        "stage would be indistinguishable from an orphan)")
    val s = state()
    Tables.foreach { t =>
      s.snapshotId(t).foreach { cur =>
        val snaps = snapshotsOnDisk(t)
        val keep = snaps.filter(_ <= cur).reverse.take(keepVersions).toSet
        snaps.filterNot(keep).foreach(id => Files.deleteIfExists(snapshotFile(t, id)))
        val referenced: Map[Bucket, Set[Long]] = keep.toSeq
          .flatMap(id => readSnapshot(t, id).toSeq)
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
        bucketsOnDisk(t).foreach { k =>
          bucketVersionsOnDisk(t, k)
            .filterNot(referenced.getOrElse(k, Set.empty))
            .foreach(v => rmTree(bucketVersionDir(t, k, v).toFile))
        }
        // crashed-commit stage dirs
        Option(tableDir(t).toFile.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("_stage_"))
          .foreach(rmTree)
      }
    }
    // prune manifest history to entries whose table snapshots all survived
    // the passes above (plus orphans from a crashed commit) — keeps
    // readTableAt and vacuum under ONE retention horizon
    manifestsOnDisk.foreach { m =>
      val refs = readKv(manifestsDir.resolve("m" + m))
      val live = Tables.forall { t =>
        refs.get(t).forall(v => snapshotsOnDisk(t).contains(v.drop(1).toLong))
      }
      if (!live) Files.deleteIfExists(manifestsDir.resolve("m" + m))
    }
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  /** Max id in a batch-sized DataFrame (the id-carrying `fresh` rows), or
    * `fallback` when the batch is empty — O(batch), never O(table).
    */
  private def maxIdOf(df: DataFrame, fallback: Long): Long =
    df.agg(coalesce(max("id"), lit(fallback))).head().getLong(0)

  /** Codepoint-counting truncation, matching `TextFns.truncate` (SURVEY §2.3
    * S2 pins codepoints over the reference's UTF-16 slice).
    */
  private def clean(s: String, max: Int): String = {
    val sanitized = TextFns.sanitizeInputScala(if (s == null) "" else s)
    if (sanitized.codePointCount(0, sanitized.length) <= max) sanitized
    else sanitized.substring(0, sanitized.offsetByCodePoints(0, max))
  }

  private def alignTo(schema: StructType, df: DataFrame): DataFrame =
    df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
}

object GraphStore {
  private[store] val Tables =
    Seq("entities", "observations", "relations", "relations_rev")

  /** A bucket address in the extendible-hashing layout: generation `g` of a
    * store initialized with B0 buckets has B0·2^g bucket slots, and a key
    * with hash `h` is a CANDIDATE for slot `pmod(h, B0·2^g)` at every
    * generation. The OWNING bucket is the highest-generation candidate
    * present in the table's snapshot descriptor (falling back to the
    * implicit generation-0 slot) — splitting a bucket into its two
    * generation-(g+1) children therefore moves exactly its own keys and
    * no others. Generation-0 directories keep the legacy `b<id>` name, so
    * never-split stores are byte-identical to the round-8/9 layout.
    */
  case class Bucket(gen: Int, id: Int) {
    require(gen >= 0 && id >= 0)
    /** On-disk directory name under the table dir. */
    def dirName: String = if (gen == 0) s"b$id" else s"b${id}_g$gen"
    /** `partitionBy` value and descriptor token. */
    def token: String = s"${gen}_$id"
    /** Descriptor line key: legacy bare id at gen 0 for layout compat. */
    def descKey: String = if (gen == 0) id.toString else s"$gen:$id"
  }
  object Bucket {
    private val DirRe = "b(\\d+)(?:_g(\\d+))?".r
    def fromDirName(n: String): Option[Bucket] = n match {
      case DirRe(id, g) => Some(Bucket(if (g == null) 0 else g.toInt, id.toInt))
      case _ => None
    }
    def fromToken(s: String): Bucket = {
      val Array(g, id) = s.split("_", 2)
      Bucket(g.toInt, id.toInt)
    }
    def fromDescKey(s: String): Bucket =
      if (s.contains(":")) { val Array(g, id) = s.split(":", 2); Bucket(g.toInt, id.toInt) }
      else Bucket(0, s.toInt)
  }

  /** Raw driver-side XxHash64 of a key — the exact twin of the in-plan
    * `xxhash64(key)` (seed 42).
    */
  def rawHash(name: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(name),
      StringType, 42L)

  /** Reference per-call API caps (/root/reference/src/index.ts:35,53). */
  val MaxEntitiesPerCall = 50
  val MaxRelationsPerCall = 100

  /** Driver-side bucket id — the exact twin of the in-plan
    * `pmod(xxhash64(key), B)` (same XxHash64, seed 42, matching
    * `functions.xxhash64`; same pmod semantics for negative hashes).
    * GraphStoreSpec pins driver ≡ in-plan over unicode names.
    * Package-private: spec scaffolding; the store routes keys through
    * [[State.owner]].
    */
  private[graft] def bucketFor(name: String, buckets: Int): Int = {
    val h = rawHash(name)
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** One parsed `_MANIFEST` (empty: a store not yet initialized): the
    * per-table snapshot ids, `nbuckets` and `maxid.*`, plus each
    * table's current snapshot descriptor, read through `readDesc` at most
    * once and only when first asked for. Descriptors and bucket dirs are
    * immutable, so everything one State resolves belongs to one commit.
    */
  private[graft] final class State(val manifest: Map[String, String],
      defaultBuckets: Int, readDesc: (String, Long) => Map[Bucket, Long],
      root: String) {
    /** Bucket count, pinned in the manifest at initialize (a changed
      * constructor argument on an existing store is ignored — honoring it
      * would require rehashing every row).
      */
    val buckets: Int = manifest.get("nbuckets").map(_.toInt).getOrElse(defaultBuckets)

    /** Next-id base: the id high-water mark from the manifest, never a
      * table read. Every id-allocating commit writes `maxid.<table>` and
      * every commit carries the manifest forward, so a table without a mark
      * has never held a row and its base is 0. Deletes never lower the mark
      * — it is a monotone upper bound, which is all id-uniqueness needs.
      */
    def nextIdBase(t: String): Long = manifest.get(s"maxid.$t").fold(0L)(_.toLong)

    def snapshotId(t: String): Option[Long] = {
      // every relations-writing commit writes `relations_rev` with it, so a
      // relations snapshot without one is a store from before the index
      require(!manifest.contains("relations") || manifest.contains("relations_rev"),
        s"Store at $root predates the reverse-edge index (rounds 8–10); " +
          "rebuild it — in-place migration is not implemented")
      manifest.get(t).map { v =>
        require(v.startsWith("s"),
          s"Store at $root uses the pre-bucketed (round ≤7) layout; " +
            "rebuild it — in-place migration is not implemented")
        v.drop(1).toLong
      }
    }

    private val descs = scala.collection.mutable.Map.empty[String, Map[Bucket, Long]]
    /** `t`'s current snapshot descriptor (empty if uninitialized). */
    def snap(t: String): Map[Bucket, Long] = descs.synchronized {
      descs.getOrElseUpdate(t, snapshotId(t).map(readDesc(t, _)).getOrElse(Map.empty))
    }
    /** [[snap]] of a table a read requires to exist. */
    def live(t: String): Map[Bucket, Long] = {
      if (snapshotId(t).isEmpty) throw new IllegalStateException(
        s"Table $t not initialized — call initialize() first")
      snap(t)
    }

    /** Candidate slot of hash `h` at generation `gen` (driver-side pmod
      * twin of the in-plan expression in [[tokenCol]]).
      */
    private def slotAt(h: Long, gen: Int): Int = {
      val m = buckets.toLong << gen
      (((h % m) + m) % m).toInt
    }

    /** The bucket of `t` OWNING `name`: the highest-generation candidate
      * slot present in the snapshot, else the implicit generation-0 slot.
      * Splits preserve "exactly one owner per key" — a split removes the
      * parent and adds both children in one commit.
      */
    def owner(t: String, name: String): Bucket = {
      val present = snap(t).keySet
      val h = rawHash(name)
      present.iterator.map(_.gen).filter(_ > 0).toSeq.distinct.sortBy(-_)
        .collectFirst { case g if present.contains(Bucket(g, slotAt(h, g))) =>
          Bucket(g, slotAt(h, g)) }
        .getOrElse(Bucket(0, slotAt(h, 0)))
    }

    /** In-plan twin of [[owner]] over the bucket set `present`: a codegen'd
      * when-chain that checks each generation present from highest to
      * lowest and falls back to the generation-0 slot, emitting the owning
      * bucket's token (`"g_id"`). Chain depth = number of DISTINCT
      * generations live at once (1 outside a split window, 2 during one);
      * the per-generation id sets compile to `InSet`.
      */
    def tokenCol(present: Set[Bucket],
        key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val h = xxhash64(key)
      val default = concat_ws("_", lit(0), pmod(h, lit(buckets.toLong)).cast("int"))
      present.iterator.map(_.gen).filter(_ > 0).toSeq.distinct.sorted
        .foldLeft(default) { (fallback, g) =>
          val idc = pmod(h, lit(buckets.toLong << g)).cast("int")
          val ids = present.collect { case Bucket(`g`, id) => id }
          when(idc.isInCollection(ids), concat_ws("_", lit(g), idc))
            .otherwise(fallback)
        }
    }
  }

  /** A write transaction, per thread and store root: the manifest-history
    * id its reads are based on and the [[State]] pinned from that manifest.
    * Advanced after each commit so a multi-commit transaction (e.g.
    * advanceGeneration's splits) chains.
    */
  private final case class Tx(base: Long, state: State)

  /** Per-store-root record, shared by every instance over that root: its
    * JVM monitor backs withWriteLock, and `tx` holds the calling thread's
    * open transaction (null outside one). The monitor is NOT the
    * cross-process exclusion — that is the `FileChannel.lock` on
    * `root/_LOCK` taken by the outermost withWriteLock frame, which makes a
    * second *process* writing the same store root block until the first
    * commit's manifest flip lands (GraphStoreSpec pins this with a real
    * subprocess). The monitor only queues in-process writers ahead of the
    * file lock, because JVM file locks are held per-process and a second
    * in-process acquisition would throw OverlappingFileLockException
    * instead of waiting.
    */
  private final class PerRoot { val tx = new ThreadLocal[Tx] }
  private val roots = new java.util.concurrent.ConcurrentHashMap[String, PerRoot]()
  private def perRoot(root: String): PerRoot =
    // normalize so different spellings of the same dir share one record
    roots.computeIfAbsent(Paths.get(root).toAbsolutePath.normalize.toString,
      _ => new PerRoot)

  /** CAS conflict marker: a racing writer took this transaction's manifest
    * slot — the outermost withWriteLock frame re-pins and reruns the body.
    */
  private[store] final class CommitConflict
    extends RuntimeException("manifest CAS conflict — transaction retries")

  /** The one parser of the store's `k=v` files: `_MANIFEST`, its history
    * entries `_manifests/m<N>` and the snapshot descriptors.
    */
  private def readKv(p: Path): Map[String, String] =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").filter(_.contains("=")).map { l =>
        val Array(k, v) = l.trim.split("=", 2); k -> v
      }.toMap

  /** Unsigned lexicographic byte ordering — parquet's comparison order for
    * BINARY/UTF8 statistics, and equal to codepoint order on UTF-8 bytes.
    */
  val UnsignedBytesOrdering: Ordering[Array[Byte]] = new Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      if (i < n) Integer.compare(a(i) & 0xff, b(i) & 0xff)
      else Integer.compare(a.length, b.length)
    }
  }

  /** Codepoint-lexicographic string ordering — identical to Spark's
    * UTF8String (UTF-8 byte) ordering, unlike java.lang.String's UTF-16
    * code-unit ordering which ranks supplementary-plane chars differently.
    */
  val CodepointOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.codePoints().toArray
      val y = b.codePoints().toArray
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) Integer.compare(x(i), y(i))
      else Integer.compare(x.length, y.length)
    }
  }

  /** Fixed schemas — the reference's DDL (client.ts:484-512) as explicit
    * StructTypes, never inferred (SURVEY §1.3).
    */
  val EntitiesSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("entity_type", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = true)))

  val ObservationsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("entity_name", StringType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = true)))

  val RelationsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("target", StringType, nullable = false),
    StructField("relation_type", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = true)))
}

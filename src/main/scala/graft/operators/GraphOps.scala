package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/** Read-path operators (SURVEY.md §2.1 R1–R11) over the reference's
  * knowledge-graph schema:
  *
  *   entities(name, entity_type, created_at)
  *   observations(id, entity_name, content, created_at)
  *   relations(id, source, target, relation_type, created_at)
  *
  * All operators are pure `DataFrame => DataFrame` so Catalyst can push
  * predicates/prune columns, and every top-k goes through
  * `orderBy(...).limit(k)` → physical `TakeOrderedAndProject` (no full sort).
  *
  * Scale notes (100 TB design stance):
  *  - The flagship search NEVER left-joins the full observations table into
  *    entities (the reference's formulation, client.ts:220-246, which at scale
  *    shuffles the biggest table). Instead the observation scan reduces to a
  *    DISTINCT set of matching entity names first, then semi-joins — the
  *    observation predicate is pushed into the parquet scan and the join build
  *    side is tiny (bounded by matching entities, not observations).
  *  - The reference's N+1 hydrate loop (client.ts:249-263) is one
  *    join + collect_list aggregation (R6).
  *  - The OR-of-equi edge lookup (client.ts:415-423) is a union of two equi
  *    semi-joins, which broadcast-hash-joins, instead of the
  *    BroadcastNestedLoopJoin a disjunctive join condition would force (R8).
  */
object GraphOps {

  /** R1 point lookup — client.ts:188-210. Predicate pushes to parquet
    * (min/max row-group pruning replaces the reference's B-tree index).
    */
  def getEntity(entities: DataFrame, name: String): DataFrame =
    entities.filter(col("name") === lit(name)).select("name", "entity_type")

  /** R2 dependent child scan — client.ts:198-201. */
  def observationsFor(observations: DataFrame, entityName: String): DataFrame =
    observations.filter(col("entity_name") === lit(entityName)).select("content")

  /** R4 flagship search — client.ts:212-266. DISTINCT entities matching the
    * fuzzy pattern on name, type, or any observation content; CASE relevance
    * (name 3 / type 2 / observation 1); top-k by (relevance DESC,
    * created_at DESC, name ASC — the name tiebreak gives the total order the
    * reference lacks, SURVEY §4.3).
    */
  def searchEntities(
      entities: DataFrame,
      observations: DataFrame,
      query: String,
      limit: Int = DefaultSearchResults): DataFrame = {
    val pat = likePattern(query)
    val k = clampLimit(limit)
    // Observation scan → small DISTINCT name set (content predicate is pushed
    // down; at 100 TB this is the only full scan and it reduces before any
    // join). One pass over entities: broadcast-left-join the hit set as a
    // flag and filter — `name` is the entity PK (reference DDL,
    // client.ts:484-490), so the reference's DISTINCT is a no-op here and no
    // dedup shuffle is needed.
    val obsHitNames = observations
      .filter(ciLike(col("content"), pat))
      .select(col("entity_name").as("name"))
      .distinct()
      .withColumn("obs_hit", lit(true))
    // no broadcast hint: the hit set is usually tiny (AQE broadcasts it),
    // but a pathologically broad pattern must be allowed to shuffle-join
    entities
      .join(obsHitNames, Seq("name"), "left")
      .filter(ciLike(col("name"), pat) || ciLike(col("entity_type"), pat) ||
        col("obs_hit"))
      .withColumn("relevance_score",
        relevanceScore(col("name"), col("entity_type"), pat))
      .select("name", "entity_type", "created_at", "relevance_score")
      // full-row DISTINCT (the reference's, client.ts:220): a no-op when name
      // is the PK, but this operator accepts arbitrary DataFrames — exact and
      // deterministic, unlike a dropDuplicates("name") pick
      .distinct()
      .orderBy(desc("relevance_score"), desc("created_at"), asc("name"))
      .limit(k)
  }

  /** R6 observation hydrate — replaces the reference's N+1 loop
    * (client.ts:248-263) with one left join + collect_list. `sort_array`
    * pins the nondeterministic post-shuffle order (SURVEY §7.3).
    */
  def hydrate(hits: DataFrame, observations: DataFrame): DataFrame =
    hits
      .join(observations.select("entity_name", "content"),
        hits("name") === col("entity_name"), "left")
      .groupBy(hits.columns.toIndexedSeq.map(hits(_)): _*)
      .agg(sort_array(collect_list(col("content"))).as("observations"))

  /** R7 top-k by recency — client.ts:268-295. `TakeOrderedAndProject`,
    * with unique-name tiebreak for a total order.
    */
  def recentEntities(entities: DataFrame, limit: Int = DefaultSearchResults): DataFrame =
    entities
      .select("name", "entity_type", "created_at")
      .orderBy(desc("created_at"), asc("name"))
      .limit(clampLimit(limit))

  /** R8 edges touching an entity set from either side — client.ts:407-430.
    * The reference's `source IN (...) OR target IN (...)` would plan as a
    * BroadcastNestedLoopJoin if written as one disjunctive join condition.
    * Round 1 used a union of semi-joins (source-match ∪ target-match ∖
    * source-match), which scans `relations` THREE times — and when the
    * relations input is itself a join view (R10's fixture), the whole build
    * is recomputed per branch (measured: 12 parquet scans in r10's plan).
    * This formulation scans relations ONCE: two broadcast left joins mark
    * source/target membership as flags, a disjunctive filter keeps touched
    * edges. Left-joining a DISTINCT single-column key never changes row
    * multiplicity, so parallel edges (never deduplicated in the reference,
    * client.ts:324-325) survive exactly once each.
    */
  def relationsForEntities(relations: DataFrame, names: DataFrame): DataFrame = {
    val n = names.select(col("name")).distinct()
    // both flag builds alias to the SAME column name so their canonicalized
    // plans are identical and ReuseExchange materializes the (possibly
    // expensive — R10 feeds a whole search plan in here) name set ONCE; the
    // two columns stay distinguishable via DataFrame-instance refs
    val ns = broadcast(n.select(col("name").as("_hit")))
    val nt = broadcast(n.select(col("name").as("_hit")))
    relations
      .join(ns, relations("source") === ns("_hit"), "left")
      .join(nt, relations("target") === nt("_hit"), "left")
      .filter(ns("_hit").isNotNull || nt("_hit").isNotNull)
      .select(
        col("source").as("from_entity"),
        col("target").as("to_entity"),
        col("relation_type"))
  }

  /** R9 read_graph — client.ts:433-441: top-10 recent entities ⊕ their edges. */
  def readGraphEdges(entities: DataFrame, relations: DataFrame, limit: Int = 10): DataFrame =
    relationsForEntities(relations, recentEntities(entities, limit))

  /** R10 search_nodes composition — client.ts:443-474: flagship search, then
    * the edges among the hits. (The reference short-circuits on zero hits
    * driver-side; as a single lazy plan the semi-join is simply empty.)
    */
  def searchNodeEdges(
      entities: DataFrame,
      observations: DataFrame,
      relations: DataFrame,
      query: String,
      limit: Int = DefaultSearchResults): DataFrame = {
    validateQuery(query)
    relationsForEntities(relations, searchEntities(entities, observations, query, limit))
  }
}

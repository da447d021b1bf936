package perfbench

import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.store.{Entity, GraphStore, Relation}

/** Seeded inputs for the serve workload: a customer/order knowledge graph in
  * the shape of the FIXTURES §C mapping (customers as entities, order-derived
  * observations, customer-to-customer relations), plus a search vocabulary
  * with a Zipf-skewed hit part and a no-hit part.
  */
final case class ServeData(entities: Vector[Entity], relations: Vector[Relation],
    hitQueries: Vector[String], missQueries: Vector[String])

object ServeData {
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val RelTypes = Vector("referred", "same_nation", "co_purchased", "works_with")
  val Words = Vector("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget",
    "blue", "cold", "hot", "large", "new", "old", "red", "small")
  val Misses = Vector("zebra", "quasar", "xylophone kettle", "nebula", "marmot", "fjord",
    "obsidian", "walrus tundra", "zephyr", "kumquat")

  /** `nEntities` customers with 3 to 12 observations each and `nRelations`
    * customer-to-customer relations.
    */
  def generate(seed: Long, nEntities: Int, nRelations: Int): ServeData = {
    val rnd = new SplittableRandom(seed)
    var orderKey = 0L
    val entities = Vector.tabulate(nEntities) { i =>
      val nation = rnd.nextInt(25)
      val obs = Vector.fill(3 + rnd.nextInt(10)) {
        orderKey += 1 + rnd.nextInt(7)
        val price = 1000 + rnd.nextInt(4990000) / 10.0
        String.format(Locale.ROOT, "order %d %s status %s total %.1f ship NATION_%d %s",
          Long.box(orderKey), Priorities(rnd.nextInt(5)), "FOP".charAt(rnd.nextInt(3)).toString,
          Double.box(price), Int.box(nation), Words(rnd.nextInt(Words.size)))
      }.sorted
      Entity(f"Customer#$i%09d", Segments(rnd.nextInt(Segments.size)), obs)
    }
    val relations = Vector.fill(nRelations) {
      // hub-skewed targets: low customer keys collect most in-edges
      val from = rnd.nextInt(nEntities)
      val to = math.min(nEntities - 1, (math.pow(rnd.nextDouble(), 3) * nEntities).toInt)
      Relation(entities(from).name, entities(to).name, RelTypes(rnd.nextInt(RelTypes.size)))
    }
    val hits = (Segments.map(_.toLowerCase(Locale.ROOT)) ++
      Vector("urgent", "not specified", "status o", "nation_7", "nation_13 red") ++
      Words.map("ship " + _) ++
      Vector.fill(12)(f"customer#0000${rnd.nextInt(nEntities / 10)}%04d") ++
      Vector.fill(12)(f"customer#${rnd.nextInt(nEntities)}%09d") ++
      Vector.fill(8)(s"order ${1 + rnd.nextInt(orderKey.toInt)}")).distinct
    ServeData(entities, relations, shuffle(hits, rnd), Misses)
  }

  def shuffle[T](v: Vector[T], rnd: SplittableRandom): Vector[T] = {
    val a = v.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** Zipf(1.1) rank draw over `n` items. */
  def zipf(rnd: SplittableRandom, n: Int): Int = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, 1.1))
    var u = rnd.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u > w(i)) { u -= w(i); i += 1 }
    i
  }
}

/** In-benchmark model of the store: what every read must return. */
final class StoreModel(data: ServeData) {
  /** name → (type, sorted observations, creation epoch) */
  val entities = mutable.Map[String, (String, Vector[String], Int)]()
  val edges = mutable.Map[(String, String, String), Int]().withDefaultValue(0)
  val deleted = mutable.LinkedHashSet[String]()
  private var epoch = 0
  data.entities.foreach(e => entities(e.name) = (e.entityType, e.observations.sorted.toVector, 0))
  data.relations.foreach(r => edges((r.from, r.to, r.relationType)) += 1)

  def createEntities(batch: Seq[Entity]): Unit = {
    epoch += 1
    batch.foreach { e =>
      val ep = entities.get(e.name).map(_._3).getOrElse(epoch)
      entities(e.name) = (e.entityType, e.observations.sorted.toVector, ep)
      deleted -= e.name
    }
  }
  def createRelations(batch: Seq[Relation]): Unit =
    batch.foreach(r => edges((r.from, r.to, r.relationType)) += 1)
  def deleteEntity(name: String): Unit = {
    entities -= name
    deleted += name
    edges.keys.filter(k => k._1 == name || k._2 == name).toSeq.foreach(edges.remove)
  }
  def deleteRelation(k: (String, String, String)): Unit = edges.remove(k): Unit

  /** `%`-only LIKE, as `TextFns.likePattern` builds it, case-insensitive. */
  def like(text: String, query: String): Boolean = {
    val t = text.toLowerCase(Locale.ROOT)
    val parts = query.toLowerCase(Locale.ROOT).split("[\\s_-]+").filter(_.nonEmpty)
    var at = 0
    parts.forall { p =>
      val i = t.indexOf(p, at)
      if (i < 0) false else { at = i + p.length; true }
    }
  }

  private def rank(keep: Seq[(String, Int)], limit: Int): Seq[String] =
    keep.sortBy { case (n, rel) => (-rel, -entities(n)._3, n) }.take(limit).map(_._1)

  def search(q: String, limit: Int): Seq[String] = rank(entities.toSeq.flatMap { case (n, (t, obs, _)) =>
    if (like(n, q)) Some(n -> 3) else if (like(t, q)) Some(n -> 2)
    else if (obs.exists(like(_, q))) Some(n -> 1) else None
  }, limit)

  def recent(limit: Int): Seq[String] = rank(entities.keys.toSeq.map(_ -> 0), limit)

  def edgesTouching(names: Set[String]): Seq[Relation] = edges.toSeq
    .filter { case ((f, t, _), _) => names(f) || names(t) }
    .flatMap { case ((f, t, r), c) => Seq.fill(c)(Relation(f, t, r)) }
    .sortBy(r => (r.from, r.to, r.relationType))

  def entity(name: String): Option[Entity] =
    entities.get(name).map { case (t, obs, _) => Entity(name, t, obs) }

  def userBytes: Long = {
    def b(s: String) = s.getBytes("UTF-8").length.toLong
    entities.iterator.map { case (n, (t, obs, _)) => b(n) + b(t) + obs.iterator.map(b).sum }.sum +
      edges.iterator.map { case ((f, t, r), c) => c * (b(f) + b(t) + b(r)) }.sum
  }
}

object ServeCheck {
  /** A search or read_graph answer must list exactly the model's ranked
    * entities (name, type, sorted observations) and every relation touching
    * them.
    */
  def graph(model: StoreModel, want: Seq[String])(got: Any): Option[String] = {
    val (ents, rels) = got.asInstanceOf[(Seq[Entity], Seq[Relation])]
    val names = ents.map(_.name)
    if (names != want) return Some(s"entities ${names.take(12)} != ${want.take(12)}")
    ents.find(e => !model.entity(e.name).contains(e)).map(e => s"wrong entity $e")
      .orElse {
        val wantRels = model.edgesTouching(want.toSet)
        if (rels != wantRels) Some(s"${rels.size} relations != ${wantRels.size} expected") else None
      }
  }
}

/** One scheduled call: its kind, how to run it against the store, how to
  * check the answer, and how it changes the model once it succeeded.
  */
final case class Call(kind: String, run: GraphStore => Any, check: Any => Option[String],
    apply: () => Unit = () => (), userBytes: Long = -1)

/** The serve workload: a closed loop of MCP-style calls against one warm
  * store, every answer checked against [[StoreModel]].
  */
final class ServeWorkload(spark: SparkSession, seed: Long, val data: ServeData) {
  val model = new StoreModel(data)
  private val rnd = new SplittableRandom(seed * 7919 + 17)
  private var agent = 0
  val Limit = graft.functions.TextFns.DefaultSearchResults

  /** Calls per schedule block: six reads and four writes, one of each write
    * kind. Half writes, as first planned, made a serve run too long for the
    * run budget.
    */
  private val Reads = Seq("search", "search", "open", "open", "open", "read_graph")
  private val Writes = Seq("create_entities", "create_relations", "delete_entity", "delete_relation")
  val ReadKinds: Seq[String] = Reads.distinct
  val WriteKinds: Seq[String] = Writes.distinct
  val Kinds: Seq[String] = ReadKinds ++ WriteKinds
  def blockOrder(): Seq[String] = ServeData.shuffle((Reads ++ Writes).toVector, rnd)
  /** One call of every kind, for the warm-up. */
  def cycle(): Seq[String] = ServeData.shuffle(Kinds.toVector, rnd)
  private def utf8(s: String): Long = s.getBytes("UTF-8").length.toLong

  /** Bulk-load the generated graph into a fresh store: entities through the
    * uncapped ingest path, relations through `createRelations` (≤100 each).
    * Returns the store and the seconds each step took.
    */
  def build(dir: String): (GraphStore, Seq[(String, Double)]) = {
    val t0 = System.nanoTime()
    val store = new GraphStore(spark, dir)
    store.initialize()
    val schema = StructType(Seq(StructField("name", StringType), StructField("entity_type", StringType),
      StructField("observations", ArrayType(StringType))))
    import scala.jdk.CollectionConverters._
    store.upsertEntitiesDf(spark.createDataFrame(
      data.entities.map(e => Row(e.name, e.entityType, e.observations)).asJava, schema))
    val t1 = System.nanoTime()
    data.relations.grouped(graft.store.GraphStore.MaxRelationsPerCall).foreach(store.createRelations)
    val t2 = System.nanoTime()
    (store, Seq("entities_s" -> (t1 - t0) / 1e9, "relations_s" -> (t2 - t1) / 1e9))
  }

  private def live: IndexedSeq[String] = model.entities.keys.toIndexedSeq.sorted
  private def pick[T](v: IndexedSeq[T]): T = v(rnd.nextInt(v.size))
  /** Batch sizes are fixed so every window does the same amount of write
    * work; the seed chooses names, contents and targets.
    */
  val EntityBatch = 4
  val RelationBatch = 16
  private var searches, opens = 0

  /** The next call of `kind`, its arguments drawn from the seeded RNG and
    * the model's current state.
    */
  def next(kind: String): Call = kind match {
    case "search" =>
      // every third search is a no-hit query, the rest Zipf-skewed hits
      searches += 1
      val q = if (searches % 3 == 0) pick(data.missQueries)
        else data.hitQueries(ServeData.zipf(rnd, data.hitQueries.size))
      val want = model.search(q, Limit)
      Call(kind, _.searchNodes(q, Limit), ServeCheck.graph(model, want))
    case "read_graph" =>
      val want = model.recent(Limit)
      Call(kind, _.readGraph(), ServeCheck.graph(model, want))
    case "open" =>
      // every sixth open asks for a deleted entity and must get "not found"
      opens += 1
      val name = if (model.deleted.nonEmpty && opens % 6 == 0) pick(model.deleted.toIndexedSeq)
        else pick(live)
      val want = model.entity(name)
      Call(kind, s => try Some(s.getEntity(name)) catch { case _: NoSuchElementException => None },
        got => if (got == want) None else Some(s"open($name) = $got, expected $want"))
    case "create_entities" =>
      val names = live
      val batch = Seq.fill(EntityBatch) {
        val name = if (rnd.nextInt(5) == 0) pick(names) else { agent += 1; f"Agent#$seed%d-$agent%06d" }
        val obs = Seq.fill(1 + rnd.nextInt(5))(
          s"note ${pick(ServeData.Words)} ${pick(ServeData.Words)} ${rnd.nextInt(100000)}").distinct
        Entity(name, pick(ServeData.Segments), obs)
      }.groupBy(_.name).values.map(_.head).toSeq.sortBy(_.name)
      Call(kind, _.createEntities(batch), _ => None, () => model.createEntities(batch),
        batch.map(e => utf8(e.name) + utf8(e.entityType) + e.observations.map(utf8).sum).sum)
    case "create_relations" =>
      val names = live
      val batch = Seq.fill(RelationBatch)(
        Relation(pick(names), pick(names), pick(ServeData.RelTypes)))
      Call(kind, _.createRelations(batch), _ => None, () => model.createRelations(batch),
        batch.map(r => utf8(r.from) + utf8(r.to) + utf8(r.relationType)).sum)
    case "delete_entity" =>
      val name = pick(live)
      Call(kind, _.deleteEntity(name), _ => None, () => model.deleteEntity(name), 0)
    case "delete_relation" if model.edges.isEmpty => next("create_relations")
    case "delete_relation" =>
      val keys = model.edges.keys.toIndexedSeq.sorted
      val k = pick(keys)
      Call(kind, _.deleteRelation(k._1, k._2, k._3), _ => None, () => model.deleteRelation(k), 0)
  }

  /** Whole-store comparison with the model (untimed, after the window). */
  def finalCheck(store: GraphStore): Option[String] = {
    val ents = store.entities.select("name", "entity_type").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val wantEnts = model.entities.toSeq.map { case (n, (t, _, _)) => (n, t) }.sorted
    if (ents != wantEnts) return Some(s"entities table: ${ents.size} rows, model ${wantEnts.size}")
    val obs = store.observations.select("entity_name", "content").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val wantObs = model.entities.toSeq.flatMap { case (n, (_, o, _)) => o.map(n -> _) }.sorted
    if (obs != wantObs) return Some(s"observations table: ${obs.size} rows, model ${wantObs.size}")
    val rels = store.relations.select("source", "target", "relation_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    val wantRels = model.edges.toSeq.flatMap { case (k, c) => Seq.fill(c)(k) }.sorted
    if (rels != wantRels) Some(s"relations table: ${rels.size} rows, model ${wantRels.size}") else None
  }
}

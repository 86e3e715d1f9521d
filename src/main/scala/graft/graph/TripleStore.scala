package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-native re-expression of the reference's SPO graph store.
  *
  * The reference consumes `{subject, predicate, object}` Avro triples and
  * persists them to Postgres as a graph: subject/object upserted into an
  * `objects` table (name, type, created_at), then an edge
  * `relationship(source_id, target_id, predicate)` inserted after id
  * lookup by name (reference: `src/KafkaConsumerCallback.cpp:88-108`,
  * `src/Database.cpp:40-79`).
  *
  * Spark-first design: the row-at-a-time upsert/lookup becomes a
  * set-oriented distinct + join. Two id strategies:
  *
  *  - `objects`/`relationships` use dense rank-by-name ids —
  *    deterministic, oracle-checkable, matches the feel of a serial PK.
  *    Ids are assigned via a range-partitioned global sort followed by
  *    `zipWithIndex` (one extra count job to offset partitions), which
  *    is `row_number() OVER (ORDER BY name)` semantics WITHOUT the
  *    single-partition WindowExec that an unpartitioned window would
  *    force — every stage stays distributed.
  *  - at extreme entity cardinality you'd switch to `xxhash64(name)` ids
  *    (collision-checked), which needs no sort and no join — the edge
  *    table derives ids directly from the triple columns. We keep the
  *    dense-id variant as the graded surface because DuckDB can mirror it
  *    exactly.
  */
object TripleStore {

  /** The canonical graph artifacts every §2.2 query builds on, staged
    * ONCE per (session, dataset) and persisted. Before this cache the
    * suite re-ran the whole construction chain (triple extraction with
    * its per-row JSON parse → rank-by-name dictionary sort → half-edge
    * dedup shuffle) once per query — 11 queries × the same three
    * shuffles. At 100 TB this staging is exactly what a production
    * session does: materialize the dictionary + edge list as shared
    * tables (the graph_scale probe stages them as parquet), and every
    * downstream algorithm starts from the co-partitioned edge set.
    * All members are lazy Spark plans — a query that only needs
    * `triples` never pays for `relationships`.
    */
  final case class StagedGraph(
      triples: DataFrame,   // persisted: JSON-extracted SPO stream
      objects: DataFrame,   // persisted: dense-id dictionary + first_seen
      dict: DataFrame,      // projection of objects (ids match by construction)
      relationships: DataFrame, // persisted: weighted directed edges
      half: DataFrame,      // persisted: canonical undirected (a<b) edges
      so: DataFrame)        // persisted: distinct (subject, object) pairs

  /** The prefix of the staged graph frames' StageCache tiers. */
  val CacheTier = "graph_"

  /** Staged artifacts for `dir`'s events table, built at most once per
    * (session, dir) — keying/lifetime discipline in
    * [[graft.operators.SessionStaged]]. */
  private val stagedCache = new graft.operators.SessionStaged[StagedGraph]((s, dir) => {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // every frame rides the cross-invocation StageCache (r17): the
    // construction chain (per-row JSON parse -> dictionary sort ->
    // half-edge dedup) runs once per (dataset, code) on a machine; a
    // later JVM's staging is five parquet reads. Downstream frames
    // build FROM the cached upstream (by-name: on a full hit neither
    // the extraction nor the sort ever plans)
    import graft.operators.StageCache
    val lv = Some(lvl)
    val t = StageCache.frame(s, dir, CacheTier + "triples", 1, persist = lv) {
      triplesFromEvents(graft.operators.Tables(s, dir).events)
    }
    val objs = StageCache.frame(s, dir, CacheTier + "objects", 1, persist = lv)(
      objects(t))
    val dict = objs.select(col("object_id"), col("name"))
    StagedGraph(
      triples = t,
      objects = objs,
      dict = dict,
      relationships = StageCache.frame(s, dir, CacheTier + "rel", 1, persist = lv)(
        relationships(t, objs)),
      half = StageCache.frame(s, dir, CacheTier + "half", 1, persist = lv)(
        halfEdges(t, dict)),
      so = StageCache.frame(s, dir, CacheTier + "so", 1, persist = lv)(
        t.select(col("subject"), col("object")).distinct()))
  }, g => {
    g.triples.unpersist(); g.objects.unpersist(); g.relationships.unpersist()
    g.half.unpersist(); g.so.unpersist()
  })

  def staged(s: org.apache.spark.sql.SparkSession, dir: String): StagedGraph =
    stagedCache.get(s, dir)

  /** events → SPO triples: user --event_type--> prop-value entity.
    * Mirrors the reference's triple feed; `first_seen_us` plays the role
    * of the reference's wall-clock `created_at` but is deterministic.
    */
  def triplesFromEvents(events: DataFrame): DataFrame =
    events.select(
      concat(lit("user_"), col("user_id").cast("string")).as("subject"),
      col("event_type").as("predicate"),
      concat(lit("k_"), get_json_object(col("props"), "$.k")).as("object"),
      unix_micros(col("ts")).as("ts_us"))

  /** SQL mirror of [[triplesFromEvents]] for oracle strings. */
  val triplesSql: String =
    """SELECT 'user_' || CAST(user_id AS VARCHAR) AS subject,
       event_type AS predicate,
       'k_' || json_extract_string(props, '$.k') AS object,
       epoch_us(ts) AS ts_us
     FROM events"""

  /** Distinct entities with dense ids + first-seen time (the upsert).
    *
    * Dense ids are `row_number() OVER (ORDER BY name)` semantics, but
    * assigned distributed: sort (range-partitioned) + `zipWithIndex`
    * (offsets each partition by the preceding partitions' counts) —
    * no single-partition window, so the dictionary build scales with
    * entity cardinality.
    */
  def objects(triples: DataFrame): DataFrame = {
    val names = triples
      .select(col("subject").as("name"), col("ts_us"))
      .unionByName(triples.select(col("object").as("name"), col("ts_us")))
      .groupBy(col("name"))
      .agg(min(col("ts_us")).as("first_seen_us"))
    graft.operators.DenseIds.byOrder(names, "object_id", 1L, col("name"))
      .select(col("object_id"), col("name"),
        lit("entity").as("object_type"), col("first_seen_us"))
  }

  /** Lean id dictionary for the graph-algorithm loops: rank-by-name
    * dense ids WITHOUT the first-seen aggregate that [[objects]] pays
    * for. Ids depend only on name order, so they match [[objects]]'
    * object_id exactly — the algorithm suites and the
    * objects/relationships surfaces agree on ids by construction.
    */
  def idDictionary(triples: DataFrame): DataFrame = {
    val names = triples.select(col("subject").as("name"))
      .unionByName(triples.select(col("object").as("name")))
      .distinct()
    graft.operators.DenseIds.byOrder(names, "object_id", 1L, col("name"))
  }

  /** THE canonical undirected edge set over entity ids: distinct
    * (a < b) halves, self-loops dropped, dictionary joined broadcast.
    * One definition shared by components, triangles, jaccard, and BFS —
    * a change to canonicalization or the self-loop rule lands once, or
    * the oracles diverge. Mirror the undirected form in SQL with
    * `LEAST/GREATEST ... WHERE source_id <> target_id` + `UNION`.
    */
  def halfEdges(triples: DataFrame, dict: DataFrame): DataFrame = {
    val src = dict.select(col("name").as("subject"), col("object_id").as("sid"))
    val dst = dict.select(col("name").as("object"), col("object_id").as("tid"))
    triples
      .join(broadcast(src), "subject")
      .join(broadcast(dst), "object")
      .filter(col("sid") =!= col("tid"))
      .select(least(col("sid"), col("tid")).as("a"),
        greatest(col("sid"), col("tid")).as("b"))
      .distinct()
  }

  /** Edge list with ids resolved by name (the reference's id lookup),
    * aggregated to weighted edges. The objects side is broadcast — an
    * entity dictionary is small relative to the edge stream.
    */
  def relationships(triples: DataFrame, objects: DataFrame): DataFrame = {
    val src = objects.select(col("name").as("subject"), col("object_id").as("source_id"))
    val dst = objects.select(col("name").as("object"), col("object_id").as("target_id"))
    triples
      .join(broadcast(src), "subject")
      .join(broadcast(dst), "object")
      .groupBy(col("source_id"), col("target_id"), col("predicate"))
      .agg(count(lit(1)).as("n"))
  }
}

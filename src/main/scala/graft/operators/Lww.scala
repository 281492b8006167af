package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-writer-wins kernel — the semantic heart of the reference store.
  *
  * The reference implements two subtly different comparators:
  *   - **Upsert** (O2, `MongoDBConnector.py:46-102`): an explicit update
  *     always overwrites the existing `(subject, predicate)` row — there is
  *     no timestamp guard on the direct-update path (`MongoDBConnector.py:73`).
  *   - **Anti-entropy merge** (O3, `MongoDBConnector.py:116-165`): an incoming
  *     row wins only if its timestamp is STRICTLY newer
  *     (`MongoDBConnector.py:150`); on an equal timestamp the local row is
  *     kept.
  *
  * Both are one aggregation here: tag each side with a `prio` bit and take
  * `max_by` over the lexicographic key `(ts_ms, prio, object)`. The final
  * `object` leg makes equal-(ts, prio) duplicates deterministic — a
  * documented strengthening of the reference, whose replicas each keep their
  * own row on such ties (SURVEY §7.3).
  *
  * Scale notes: `max_by` aggregates with partial (map-side) combine, so
  * per-key state is one row and the single shuffle moves only pre-combined
  * winners — strictly better at 100 TB than a `row_number()` window, which
  * must shuffle **all** rows and sort each partition. Physically this runs
  * as SortAggregate, not HashAggregate: the winner buffer carries strings/
  * structs, which Spark's hash aggregate cannot hold in its fixed-width
  * mutable buffer (verified: even `max(string)` plans as SortAggregate);
  * sort-based partial aggregation is also the spill-safe choice at scale,
  * so this is the plan we want, not a compromise. The reference's per-key
  * HTTP probe loop (`MongoDBConnector.py:131-157`) becomes one distributed
  * shuffle on the logical key.
  */
object Lww {

  /** Catalyst's STRING order (UTF8String — unsigned UTF-8 bytes) for
    * JVM-side tie-breaks, so typed/streaming winner selection agrees
    * row-for-row with [[merge]]'s `max_by` struct ordering. Java's
    * `String.compareTo` (UTF-16 code-unit order) diverges from it on
    * astral-vs-BMP pairs (e.g. "😀" vs "ﬀ") — the trap ccStar's local
    * finish hit in round 11 (`Graph.scala:384-450`). A null loses to any
    * non-null, matching Catalyst's nulls-first ascending struct order. */
  def utf8Greater(a: String, b: String): Boolean =
    if (a == null) false
    else if (b == null) true
    else org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) > 0

  /** The merge-comparator for JVM-side paths ([[graft.functions.LwwObject]],
    * streaming state): does `(bObj, bTs)` beat `(aObj, aTs)`? Strictly
    * newer ts wins; an equal ts breaks by greatest object in
    * [[utf8Greater]] order — exactly `max_by(_, struct(ts_ms, object))`. */
  def newerWins(aObj: String, aTs: Long, bObj: String, bTs: Long): Boolean =
    bTs > aTs || (bTs == aTs && utf8Greater(bObj, aObj))

  /** One winner per (subject, predicate): max over the given ordering key. */
  private def resolve(tagged: DataFrame, orderKey: Column): DataFrame =
    tagged
      .groupBy("subject", "predicate")
      .agg(max_by(struct(col("object"), col("ts_ms")), orderKey).as("w"))
      .select(col("subject"), col("predicate"),
        col("w.object").as("object"), col("w.ts_ms").as("ts_ms"))

  /** Q2 batch upsert: an explicit update ALWAYS overwrites the base row —
    * the reference's direct-update path has no timestamp guard
    * (`MongoDBConnector.py:73`) — so `prio` leads the comparator; `ts_ms`
    * only arbitrates among multiple updates to the same key, and `object`
    * makes full ties deterministic. */
  def upsert(base: DataFrame, updates: DataFrame): DataFrame =
    resolve(
      base.withColumn("prio", lit(0))
        .unionByName(updates.withColumn("prio", lit(1))),
      struct(col("prio"), col("ts_ms"), col("object")))

  /** Q3 anti-entropy merge: remote wins only with a strictly newer timestamp
    * (`MongoDBConnector.py:150`); ties keep local. Symmetric pairwise merge
    * (O10, `MasterServer.py:384-432`) is `merge(a,b)` ∪ `merge(b,a)` — which
    * converge to the same winners, so one call suffices. */
  def merge(local: DataFrame, remote: DataFrame): DataFrame =
    resolve(
      local.withColumn("prio", lit(1))
        .unionByName(remote.withColumn("prio", lit(0))),
      struct(col("ts_ms"), col("prio"), col("object")))

  /** Compaction to the materialized-store invariant: ONE row per logical
    * key, the winner by `(ts_ms, object)` — within one replica there is no
    * local/remote priority, so this is [[merge]]'s comparator restricted to
    * equal `prio`. Because lexicographic max is associative, compacting a
    * side first never changes a later [[merge]]/[[upsert]]'s winner
    * (LwwSpec pins this against the uncompacted aggregate on free objects,
    * astral ties included), which is what lets [[mergeCoLocated]] — a
    * full-outer join that REQUIRES at-most-one row per key per side, or a
    * duplicated key fans out into a per-key cross product — sit on top of
    * any corpus, not only key-unique ones. */
  def compact(df: DataFrame): DataFrame =
    resolve(df, struct(col("ts_ms"), col("object")))

  /** O12 changelog union (`MasterServer.py:106-115`): the reference lets the
    * second dict win unconditionally on key collision; expressed here as an
    * upsert so the newer changelog's rows take precedence. */
  def changelogUnion(older: DataFrame, newer: DataFrame): DataFrame =
    upsert(older, newer)

  /** O2 single-row path, the faithful analog of the reference's point upsert
    * (`MongoDBConnector.py:46-102`, which probes ONE `(s,p)` key and returns
    * `{new_row, old_row}` — it never touches the rest of the store): an
    * equality-pushed point probe of the base table beside the update row.
    * Over a [[graft.TripleStore.writeSharded]] layout the probe prunes to one
    * range shard and skips row groups by min/max, so latency is O(one
    * shard's matching row groups) regardless of store size — the Spark twin
    * of the reference's O(1) claim (report.pdf §7.1). `new_row` needs no
    * [[upsert]] aggregate: its comparator leads with `prio`, so one update
    * row wins its group against any old rows; the aggregate would only add
    * a shuffle, a job and a second scan of `base` (LwwSpec pins both). */
  def upsertPoint(base: DataFrame, subject: String, predicate: String,
      newObject: String, tsMs: Long): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val old = base.filter(col("subject") === subject &&
      col("predicate") === predicate)
    Seq((subject, predicate, newObject, tsMs, "new_row"))
      .toDF("subject", "predicate", "object", "ts_ms", "row_kind")
      .unionByName(old.withColumn("row_kind", lit("old_row")))
  }

  /** [[merge]] specialized to COMPACTED inputs (at most one row per logical
    * key — the invariant of a materialized store and of any changelog that
    * went through [[changelogUnion]]): a full-outer join on the key instead
    * of union+aggregate. Same comparator — remote wins strict `>`
    * (`MongoDBConnector.py:150`), ties keep local; the whole-replica
    * exchange this accelerates is the reference's `merge_2_servers` round
    * (`MasterServer.py:384-432`).
    *
    * The point at 100 TB: over two co-bucketed tables
    * ([[graft.TripleStore.writeBucketed]] on (subject, predicate), same
    * bucket count) this plans as a sort-merge join with ZERO Exchange —
    * every anti-entropy round reads both sides in place and shuffles
    * nothing, vs. one full shuffle per round for the aggregate form
    * (TripleStoreSpec asserts the Exchange-free plan; gate query
    * q31_bucketed_merge checks the values against the DuckDB oracle). */
  def mergeCoLocated(local: DataFrame, remote: DataFrame): DataFrame = {
    // side-presence is tested on the JOIN KEY (never null in a present
    // row), not on ts_ms — a genuine null-ts row (e.g. a fromTsv parse
    // failure) must survive, not be replaced by the absent side's nulls.
    // A null ts_ms orders as Long.MinValue (loses to any real timestamp),
    // matching [[merge]]'s null-first struct ordering.
    def pick(c: String) = {
      val lt = coalesce(col("l.ts_ms"), lit(Long.MinValue))
      val rt = coalesce(col("r.ts_ms"), lit(Long.MinValue))
      when(col("l.subject").isNull, col(s"r.$c"))
        .when(col("r.subject").isNull, col(s"l.$c"))
        .when(rt > lt, col(s"r.$c"))
        .otherwise(col(s"l.$c"))
    }
    local.as("l").join(remote.as("r"),
        Seq("subject", "predicate"), "full_outer")
      .select(col("subject"), col("predicate"),
        pick("object").as("object"), pick("ts_ms").as("ts_ms"))
  }

  /** [[merge]] as ANSI SQL text over two registered views (Spark dialect —
    * the DuckDB oracle twin lives in SparkEntry.oracleSql): the pure-SQL
    * route for a reference client that only speaks queries
    * (`MasterServer.py:292-330`). Same comparator, struct-lexicographic
    * `(ts_ms, prio, object)` with local prio 1. */
  def mergeSql(localView: String, remoteView: String): String =
    s"""SELECT subject, predicate, w.object AS object, w.ts_ms AS ts_ms
       |FROM (
       |  SELECT subject, predicate,
       |         max_by(struct(object, ts_ms), struct(ts_ms, prio, object)) AS w
       |  FROM (
       |    SELECT subject, predicate, object, ts_ms, 1 AS prio FROM $localView
       |    UNION ALL
       |    SELECT subject, predicate, object, ts_ms, 0 AS prio FROM $remoteView
       |  ) GROUP BY subject, predicate
       |)""".stripMargin

  /** O5 shard-membership range predicate (`MongoDBConnector.py:105-114`):
    * `(s,p)` inside an inclusive string-range box. As a Column it pushes down
    * to parquet min/max skipping on a [[graft.TripleStore.writeSharded]]
    * layout. */
  def shardPredicate(sLo: String, pLo: String, sHi: String, pHi: String) =
    col("subject").between(sLo, sHi) && col("predicate").between(pLo, pHi)
}

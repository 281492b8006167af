package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.Triple
import graft.operators.Lww

/** Q11: the reference's asynchronous LWW exchange as Structured Streaming.
  *
  * In the reference, updates arrive per node, buffer in
  * `updateModifications` (`MongoDBConnector.py:23,76`), ship lazily, and
  * apply with a timestamp comparison so stale arrivals lose
  * (`MongoDBConnector.py:150-153`) — i.e. late-data-tolerant LWW upsert
  * state. Here the updates stream feeds `mapGroupsWithState` keyed by the
  * logical key `(subject, predicate)`; the per-key state is the current
  * winner and the update function is the same `(ts_ms, object)` max as the
  * batch kernel, so stream state ≡ batch [[graft.operators.Lww]] on the same
  * rows (asserted in StreamingLwwSpec — SURVEY §5's batch-equivalence
  * oracle).
  *
  * Scale note: per-key state is ONE row (not a buffer of inputs), and the
  * 100 TB story remains batch LWW compaction (SURVEY §7.3) — streaming state
  * is for the live tail, with watermark-driven eviction when keys are
  * time-bounded.
  */
object StreamingLww {

  private[graft] def deleteRecursively(f: java.io.File): Unit =
    if (f.exists()) {
      if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
      f.delete(); ()
    }

  /** File-shaped streaming source over the reference's JSONL wire format
    * (its master relays rows as JSON over HTTP, `MasterServer.py:327`;
    * [[graft.TripleStore.writeJsonl]] is the batch twin): files dropped
    * into `path` become micro-batches, so any process that can write a
    * file can feed the engine — no broker required. Explicit schema (a
    * streaming read must never sample 100 TB to infer four columns);
    * `maxFilesPerTrigger` bounds a micro-batch when a backlog accumulates,
    * keeping per-batch sink I/O predictable. Compose with [[winners]] /
    * [[winnersWithTtl]] / [[mergeIntoStorePartitioned]]. */
  def jsonlSource(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerTrigger: Int = 64): Dataset[Triple] = {
    import spark.implicits._
    spark.readStream
      .schema("subject STRING, predicate STRING, object STRING, ts_ms BIGINT")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // malformed lines fail the batch loudly (same invariant as the batch
      // twin TripleStore.fromJsonl) — PERMISSIVE would null them silently
      // and poison the store under null keys
      .option("mode", "FAILFAST")
      .json(path)
      .as[Triple]
  }

  /** Ingestion hygiene for at-least-once sources (redelivered files,
    * replayed batches): suppress EXACT duplicate rows — all four columns
    * equal — within the watermark window, so downstream per-batch work
    * (merges, counts, billing) isn't inflated by redelivery. State is one
    * fingerprint per distinct row, evicted once the watermark passes.
    *
    * CONTRACT — this trades late-data tolerance for bounded state: any row
    * (duplicate or DISTINCT) whose event time falls behind the watermark is
    * dropped by Spark's standard late-data filter before the operator.
    * Use it only when the source's event-time disorder is bounded by
    * `watermarkDelay`; for unboundedly-late sources feed the LWW kernel
    * directly — its strict-`>` merge is already idempotent under
    * redelivery, so dedup is a cost optimization you can skip, never a
    * correctness requirement. (Asserted in StreamingLwwSpec: an in-window
    * redelivery is suppressed, an in-window distinct row passes, and a
    * behind-watermark distinct row is dropped.) */
  def dedupWithinWatermark(updates: Dataset[Triple],
      watermarkDelay: String): Dataset[Triple] = {
    import updates.sparkSession.implicits._
    updates
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(
        "subject", "predicate", "object", "ts_ms")
      .drop("event_ts")
      .as[Triple]
  }

  /** Emit the current winner of every key touched in each micro-batch
    * (update output mode). */
  def winners(updates: Dataset[Triple]): Dataset[Triple] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(t => (t.subject, t.predicate))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: (String, String), rows: Iterator[Triple],
         state: GroupState[Triple]) =>
          // Lww.newerWins, not maxBy on (Long, String): Scala's String
          // ordering is UTF-16 and diverges from the batch kernel's
          // UTF8String tie order on astral-vs-BMP objects
          val w = (state.getOption.iterator ++ rows).reduce((a, b) =>
            if (Lww.newerWins(a.`object`, a.ts_ms, b.`object`, b.ts_ms)) b
            else a)
          state.update(w)
          w
      }
  }

  /** Streaming changelog → persistent store: each micro-batch LWW-merges
    * into the parquet store via `foreachBatch` (the reference's
    * merge-orchestration loop, `MasterServer.py:384-432`, as a sink). The
    * default trigger processes batches as they arrive; pass
    * `Trigger.ProcessingTime("5 seconds")` for the reference's 5 s
    * anti-entropy cadence (`MasterServer.py:233`).
    *
    * The store swap is write-new-then-move (never read and overwrite the
    * same files in one job). This whole-store rewrite is the SMALL-store
    * sink (atomic swap, single directory); the scale path is
    * [[mergeIntoStorePartitioned]], which prunes the read and the rewrite
    * to the shards each batch touches.
    */
  def mergeIntoStore(updates: Dataset[Triple], storePath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = updates.sparkSession
    updates.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Triple], _: Long) =>
        val basePath = Paths.get(storePath)
        val old = storePath + ".old"
        val tmp = storePath + ".next"
        // crash recovery: a previous batch may have died mid-swap. If the
        // store is gone but .old survives, the crash hit between the two
        // moves — restore it; then clear any stale .next/.old so this
        // batch starts from a clean swap state.
        if (!Files.exists(basePath) && Files.exists(Paths.get(old)))
          Files.move(Paths.get(old), basePath)
        deleteRecursively(new java.io.File(tmp))
        deleteRecursively(new java.io.File(old))
        val base =
          if (Files.exists(basePath))
            spark.read.parquet(storePath)
          else batch.limit(0).toDF()
        // merge (strict->) not upsert: a stale arrival must lose to the
        // store's newer row (MongoDBConnector.py:150-153), and batch
        // retries (same rows redelivered) are then no-ops — idempotent.
        Lww.merge(base, batch.toDF())
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        // swap; recovery above makes a crash between the moves survivable
        if (Files.exists(basePath))
          Files.move(basePath, Paths.get(old))
        Files.move(Paths.get(tmp), basePath)
        deleteRecursively(new java.io.File(old))
        ()
      }
      .start()
  }

  /** Stable range-shard of a subject against sorted boundary cut points:
    * shard k holds subjects in [boundaries(k-1), boundaries(k)) — the Spark
    * twin of the reference's declared `SHARDING` dict (`MasterServer.py:59-63`),
    * used as a PARTITION column so shard membership is a directory, not a
    * routing table. Routed through the native [[graft.plans.RangeBucket]]
    * binary search — O(log n) per row, so a 1,024-shard store costs ~10
    * compares instead of a 1,024-branch codegen'd case tree. */
  private def shardCol(boundaries: Seq[String]): Column =
    graft.plans.RangeBucket.shardId(col("subject"), boundaries)

  /** The scale-safe streaming sink: the store is a shard-PARTITIONED parquet
    * layout (`storePath/shard=k/`), and each micro-batch LWW-merges into
    * ONLY the shards its keys touch — read pruned to those partition
    * directories, merged output staged to a sibling `.next` directory, then
    * swapped in per touched shard (live → `.old`, staged → live) with a
    * restore-stranded-shards preamble, mirroring [[mergeIntoStore]]'s
    * write-new-then-move protocol. A crash in ANY window leaves each shard
    * wholly old or wholly new — never deleted — and the checkpointed batch
    * replays against either state idempotently because the merge is
    * strict-`>` LWW (`MongoDBConnector.py:150-153`). (Dynamic partition
    * overwrite of the live path would instead delete-then-rename in place:
    * a crash between the two permanently loses the shard.)
    *
    * Per-batch listing, schema and I/O are all O(touched shards), not
    * O(store): the read names only the touched `shard=k` directories that
    * exist, with the known schema. At 100 TB with a 5 s cadence
    * (`MasterServer.py:233`) a batch touching one shard of a 1,024-shard
    * store moves ~0.1% of the data (the bounded-merge shape proven in
    * `ScaleBench`). The shard-tagged batch feeds two jobs, so it is
    * `persist`ed (lost blocks are recomputed from the micro-batch's
    * lineage; `localCheckpoint` cost a job and failed on executor loss)
    * and freed by a blocking `unpersist` before the batch returns.
    * Production would add a MERGE-capable table format for atomicity. */
  def mergeIntoStorePartitioned(updates: Dataset[Triple], storePath: String,
      checkpointPath: String, boundaries: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Triple], _: Long) =>
        val storeDir = Paths.get(storePath)
        val oldDir = Paths.get(storePath + ".old")
        val nextDir = Paths.get(storePath + ".next")
        // recovery: a prior batch may have died mid-swap — any shard
        // stranded at .old with no live directory is restored; then stale
        // staging/backup state is cleared so this batch swaps cleanly
        if (Files.exists(oldDir)) {
          oldDir.toFile.listFiles().filter(_.isDirectory).foreach { d =>
            val live = storeDir.resolve(d.getName)
            if (!Files.exists(live)) { Files.move(d.toPath, live); () }
          }
        }
        deleteRecursively(oldDir.toFile)
        deleteRecursively(nextDir.toFile)
        val b = batch.toDF().withColumn("shard", shardCol(boundaries))
          .persist()
        try {
          // one shuffle-free job: a per-partition distinct of the shard ids
          val touched = b.select("shard").as[Int]
            .mapPartitions(_.toSet.iterator).collect().distinct.toSeq
          if (touched.nonEmpty) {
            // only touched shards that exist are read, with the known
            // schema: a missing shard or an empty store dir (a crash before
            // the first swap) is never listed, so nothing is inferred
            val existing = touched.map(k => storeDir.resolve(s"shard=$k"))
              .filter(Files.isDirectory(_)).map(_.toString)
            val base = if (existing.isEmpty) b.limit(0)
              else spark.read.schema(b.schema)
                .option("basePath", storePath).parquet(existing: _*)
            Lww.merge(base, b).withColumn("shard", shardCol(boundaries))
              .write.mode(SaveMode.Overwrite).partitionBy("shard")
              .parquet(nextDir.toString)
            // per-shard swap; each move is an atomic same-filesystem rename
            Files.createDirectories(oldDir)
            Files.createDirectories(storeDir)
            touched.foreach { k =>
              val staged = nextDir.resolve(s"shard=$k")
              val live = storeDir.resolve(s"shard=$k")
              if (Files.exists(staged)) {
                if (Files.exists(live))
                  Files.move(live, oldDir.resolve(s"shard=$k"))
                Files.move(staged, live); ()
              }
            }
            deleteRecursively(oldDir.toFile)
            deleteRecursively(nextDir.toFile)
          }
        } finally b.unpersist(blocking = true)
      }
      .start()
  }

  /** [[winners]] with watermark-driven state eviction (SURVEY §2.2's
    * `GroupStateTimeout` ask): per-key state is dropped once the event-time
    * watermark passes the winner's timestamp + `ttlMs`, so state size
    * tracks the live key set instead of every key ever seen (§7.3's 10.2M-
    * key risk in the reference's own corpus).
    *
    * Eviction policy (tested in StreamingLwwSpec):
    *   - live keys: identical to [[winners]] — stale arrivals lose;
    *   - arrivals OLDER than the watermark are dropped by Spark before the
    *     state function (standard late-data semantics), so a stale row can
    *     never resurrect an evicted key with an old value;
    *   - an admissible arrival for an evicted key re-hydrates state from
    *     scratch. Eviction implies winner_ts + ttl < watermark, and
    *     admission implies the new row is not older than the watermark, so
    *     the re-hydrated winner is strictly newer than the evicted one —
    *     the per-key emission sequence stays consistent with batch LWW over
    *     the admitted rows. */
  def winnersWithTtl(updates: Dataset[Triple], watermarkDelay: String,
      ttlMs: Long): Dataset[Triple] = {
    import updates.sparkSession.implicits._
    updates
      // the watermark column must flow INTO the stateful operator (Spark's
      // unsupported-operation checker rejects an event-time timeout whose
      // watermark was projected away)
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", watermarkDelay)
      .as[(String, String, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (_: (String, String),
         rows: Iterator[(String, String, String, Long, java.sql.Timestamp)],
         state: GroupState[Triple]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val w = (state.getOption.iterator ++
                rows.map(r => Triple(r._1, r._2, r._3, r._4)))
              .reduce((a, b) => // UTF8String tie order — see winners()
                if (Lww.newerWins(a.`object`, a.ts_ms,
                  b.`object`, b.ts_ms)) b
                else a)
            state.update(w)
            // must stay ahead of the watermark or Spark rejects it; a
            // winner already within ttl of the watermark evicts next batch
            state.setTimeoutTimestamp(
              math.max(w.ts_ms + ttlMs, state.getCurrentWatermarkMs() + 1))
            Iterator.single(w)
          }
      }
  }

  /** Q11 tumbling 1-minute windows with a watermark over an event stream
    * (`ts` must be TimestampType). The watermark bounds state: windows older
    * than it are finalized and evicted, the Spark analog of the reference's
    * 5 s health/merge cadence bounding staleness (`MasterServer.py:233`). */
  def tumblingCounts(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      // stableRound, NOT the builtin: keeps the stream in bit-lockstep
      // with batch q11Tumbling (its spec equates the two on shared input)
      .agg(count(lit(1)).as("cnt"),
        graft.functions.StableRound.stableRound(sum(col("value")), 2)
          .as("sum_value"))
}

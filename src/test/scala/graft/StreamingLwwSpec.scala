package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Lww
import graft.streaming.StreamingLww

/** SURVEY §5's batch-equivalence oracle for Q11: streaming LWW state after
  * consuming all updates must equal the batch kernel on the same rows, with
  * rows arriving out of order and across micro-batches (the reference's
  * async per-node update buffering, `MongoDBConnector.py:23,76`). */
class StreamingLwwSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val batch1 = Seq(
    Triple("<a>", "<p>", "v1", 100L),
    Triple("<b>", "<p>", "v1", 100L),
    Triple("<a>", "<p>", "v2", 300L))
  private val batch2 = Seq(
    Triple("<a>", "<p>", "LATE", 200L),   // late arrival: must lose to v2
    Triple("<b>", "<p>", "v2", 400L),
    Triple("<c>", "<q>", "new", 50L))

  test("stream state == batch LWW winners on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Triple]
    val q = StreamingLww.winners(source.toDS())
      .writeStream.format("memory").queryName("lww_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      source.addData(batch1: _*); q.processAllAvailable()
      source.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    // The update-mode memory sink retains superseded emissions; final state
    // per key is its latest winner, i.e. the per-key LWW max of what was
    // emitted (reapplying LWW to its own output is exactly idempotence).
    val streamed = spark.table("lww_stream").as[Triple].collect()
      .groupBy(t => (t.subject, t.predicate))
      .map(_._2.maxBy(t => (t.ts_ms, t.`object`))).toSet

    // Batch twin: empty base upserted with every row seen by the stream.
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (batch1 ++ batch2).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet

    assert(streamed == batch)
    assert(streamed == Set(
      Triple("<a>", "<p>", "v2", 300L),
      Triple("<b>", "<p>", "v2", 400L),
      Triple("<c>", "<q>", "new", 50L)))
  }

  test("an equal-ts tie arriving across micro-batches resolves in " +
    "UTF8String order, agreeing with the batch kernel (astral vs BMP)") {
    // "ﬀ" then "😀" at the same ts: Scala's (Long, String) maxBy — UTF-16
    // code-unit order — keeps "ﬀ"; the batch kernel's max_by struct order
    // (UTF-8 binary) picks "😀". The streaming state must match batch.
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Triple]
    val q = StreamingLww.winners(source.toDS())
      .writeStream.format("memory").queryName("lww_tie_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      source.addData(Triple("<t>", "<p>", "ﬀ", 500L))
      q.processAllAvailable()
      source.addData(Triple("<t>", "<p>", "😀", 500L))
      q.processAllAvailable()
    } finally q.stop()
    val lastState = spark.table("lww_tie_stream").as[Triple].collect()
      .reduce((a, b) => // LWW over its own emissions — idempotence
        if (Lww.newerWins(a.`object`, a.ts_ms, b.`object`, b.ts_ms)) b
        else a)
    assert(lastState == Triple("<t>", "<p>", "😀", 500L))
    val batchTwin = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        Seq(Triple("<t>", "<p>", "ﬀ", 500L),
          Triple("<t>", "<p>", "😀", 500L))
          .toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(batchTwin == Set(Triple("<t>", "<p>", "😀", 500L)))
  }

  test("foreachBatch merge sink: store converges to the batch LWW result " +
    "across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink")
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val source = MemoryStream[Triple]
    source.addData(batch1: _*)
    val q1 = StreamingLww.mergeIntoStore(source.toDS(), storePath, ckpt)
    q1.awaitTermination() // AvailableNow: drains what's there, then stops
    source.addData(batch2: _*)
    val q2 = StreamingLww.mergeIntoStore(source.toDS(), storePath, ckpt)
    q2.awaitTermination()

    val store = spark.read.parquet(storePath).as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (batch1 ++ batch2).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(store == batch)
  }

  test("merge sink crash recovery: a store stranded at '.old' mid-swap is " +
    "restored before the next batch merges") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_crash")
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val source = MemoryStream[Triple]
    source.addData(batch1: _*)
    StreamingLww.mergeIntoStore(source.toDS(), storePath, ckpt)
      .awaitTermination()
    // simulate dying between the two swap moves: base gone, .old present
    java.nio.file.Files.move(java.nio.file.Paths.get(storePath),
      java.nio.file.Paths.get(storePath + ".old"))
    source.addData(batch2: _*)
    StreamingLww.mergeIntoStore(source.toDS(), storePath, ckpt)
      .awaitTermination()
    val store = spark.read.parquet(storePath).as[Triple].collect().toSet
    // batch1's state must have survived the simulated crash
    assert(store == Set(
      Triple("<a>", "<p>", "v2", 300L),
      Triple("<b>", "<p>", "v2", 400L),
      Triple("<c>", "<q>", "new", 50L)))
  }

  test("partitioned merge sink: converges to batch LWW and leaves " +
    "untouched shards' files byte-for-byte alone") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_part_sink")
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    // boundaries give 3 shards: (-inf,<b>) / [<b>,<c>) / [<c>,inf)
    val boundaries = Seq("<b>", "<c>")
    val b1 = Seq(
      Triple("<a>", "<p>", "v1", 100L),   // shard 0
      Triple("<c>", "<q>", "x", 50L))     // shard 2
    val b2 = Seq(
      Triple("<c>", "<q>", "y", 80L),     // shard 2 only
      Triple("<c>", "<r>", "z", 60L))

    val source = MemoryStream[Triple]
    source.addData(b1: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()

    def shardFiles(shard: Int): Map[String, Long] = {
      val d = new java.io.File(storePath, s"shard=$shard")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val shard0After1 = shardFiles(0)
    assert(shard0After1.nonEmpty, "batch 1 must have written shard 0")

    source.addData(b2: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()

    // shard 0 was not touched by batch 2: same files, same mtimes
    assert(shardFiles(0) == shard0After1,
      s"untouched shard rewritten: $shard0After1 vs ${shardFiles(0)}")
    // shard 2 WAS touched
    assert(shardFiles(2).nonEmpty)

    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (b1 ++ b2).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(store == batch)
    assert(store.contains(Triple("<c>", "<q>", "y", 80L))) // LWW within shard
  }

  /** Jobs run under `tag` while `body` runs. The tag is set on this thread
    * before `body` starts its query, so the stream thread inherits it. A
    * sentinel job under a second tag closes the count: the listener bus
    * delivers in order, so once the sentinel's start arrives every job
    * `body` ran has been delivered. */
  private def jobsTagged(tag: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        if (tags(tag)) jobs.incrementAndGet()
        if (tags(s"$tag.sentinel")) sentinel.countDown()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(s"$tag.sentinel")
      try spark.range(1).count() finally sc.removeJobTag(s"$tag.sentinel")
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the sentinel job")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  test("partitioned sink reads only the shards a batch touches: junk in an " +
    "untouched shard is never opened, and a one-shard commit is 3 jobs") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_part_touched")
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val boundaries = Seq("<b>", "<c>")
    val b1 = Seq(
      Triple("<a>", "<p>", "v1", 100L),   // shard 0
      Triple("<c>", "<q>", "x", 50L))     // shard 2
    val b2 = Seq(
      Triple("<c>", "<q>", "y", 80L),     // shard 2 only
      Triple("<c>", "<r>", "z", 60L))
    try {
      val source = MemoryStream[Triple]
      source.addData(b1: _*)
      StreamingLww.mergeIntoStorePartitioned(
        source.toDS(), storePath, ckpt, boundaries).awaitTermination()
      // not parquet, and named as the metadata file a schema-inferring read
      // of the store opens first: listing or inferring over shard 0 fails
      val shard0 = java.nio.file.Paths.get(storePath, "shard=0")
      java.nio.file.Files.writeString(
        shard0.resolve("_common_metadata"), "not parquet")
      def files(): Map[String, (Long, Long)] = shard0.toFile.listFiles()
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      val before = files()

      source.addData(b2: _*)
      val jobs = jobsTagged("graft_part_touched") {
        StreamingLww.mergeIntoStorePartitioned(
          source.toDS(), storePath, ckpt, boundaries).awaitTermination()
      }
      // touched-shard collect, then the merge's shuffle stage and write
      assert(jobs == 3, s"a one-shard commit ran $jobs jobs, expected 3")
      assert(files() == before, s"untouched shard 0 changed: ${files()}")

      java.nio.file.Files.delete(shard0.resolve("_common_metadata"))
      val store = spark.read.parquet(storePath)
        .select("subject", "predicate", "object", "ts_ms")
        .as[Triple].collect().toSet
      val batch = Lww.upsert(
          Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
          (b1 ++ b2).toDF("subject", "predicate", "object", "ts_ms"))
        .as[Triple].collect().toSet
      assert(store == batch)
    } finally StreamingLww.deleteRecursively(dir.toFile)
  }

  test("partitioned sink crash recovery: a shard stranded at '.old' " +
    "mid-swap is restored before the next batch merges") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_part_crash")
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val boundaries = Seq("<b>", "<c>")
    val source = MemoryStream[Triple]
    source.addData(
      Triple("<a>", "<p>", "v1", 100L), // shard 0
      Triple("<c>", "<q>", "x", 50L))   // shard 2
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    // simulate dying between the per-shard moves: shard 2's live directory
    // gone, its prior state stranded under the sibling .old directory
    val old = java.nio.file.Paths.get(storePath + ".old")
    java.nio.file.Files.createDirectories(old)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(storePath, "shard=2"), old.resolve("shard=2"))
    // next batch touches only shard 0 — shard 2 must be restored anyway
    source.addData(Triple("<a>", "<p>", "v2", 300L))
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    assert(store == Set(
      Triple("<a>", "<p>", "v2", 300L),
      Triple("<c>", "<q>", "x", 50L)),
      "stranded shard 2 was not restored by the recovery preamble")
    assert(!java.nio.file.Files.exists(old), ".old not cleaned up")
  }

  test("partitioned sink: stale staging and backup dirs from a crash " +
    "during the WRITE phase are cleared, not merged") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_part_stale")
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val boundaries = Seq("<b>", "<c>")
    // simulate a crash mid-staging before ANY batch succeeded: garbage in
    // .next, plus a stray .old with a shard the store also (correctly)
    // lacks no counterpart for — the preamble must restore the stranded
    // shard and delete the garbage staging
    val next = java.nio.file.Paths.get(storePath + ".next", "shard=0")
    java.nio.file.Files.createDirectories(next)
    java.nio.file.Files.writeString(next.resolve("junk.parquet"), "not parquet")
    val source = MemoryStream[Triple]
    source.addData(Triple("<a>", "<p>", "v1", 100L))
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    // the junk staging must not have been swapped into the store
    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    assert(store == Set(Triple("<a>", "<p>", "v1", 100L)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(storePath + ".next")), "stale .next not cleared")
  }

  test("checkpoint loss: the full history replays against the " +
    "already-merged partitioned store idempotently, and the restarted " +
    "stream continues to batch-LWW convergence") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_part_replay")
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt")
    val boundaries = Seq("<b>", "<c>")
    val source = MemoryStream[Triple]
    source.addData(batch1: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt.toString, boundaries).awaitTermination()
    source.addData(batch2: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt.toString, boundaries).awaitTermination()
    val after2 = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    // simulate a crash that loses the ENTIRE checkpoint after the store
    // swaps were applied (the worst write-ahead gap): a brand-new query
    // with a FRESH checkpoint replays the source's whole retained history
    // against the already-merged store — strict-`>` LWW must make every
    // replayed row a no-op
    val ckptB = dir.resolve("ckpt_replay")
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckptB.toString, boundaries).awaitTermination()
    val afterReplay = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    assert(afterReplay == after2,
      "replaying already-applied batches changed the store (not idempotent)")
    // and the restarted lineage keeps converging: one more update
    source.addData(Triple("<c>", "<q>", "newest", 500L))
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckptB.toString, boundaries).awaitTermination()
    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (batch1 ++ batch2 :+ Triple("<c>", "<q>", "newest", 500L))
          .toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(store == batch)
  }

  test("jsonl file source: a malformed line fails the batch loudly " +
    "(FAILFAST), never silently nulling keys into the store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_file_bad")
    val in = dir.resolve("in"); java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.writeString(in.resolve("bad.json"),
      """{"subject":"<a>","predicate":"<p>","object":"v","ts_ms":1}""" +
        "\nnot json at all\n")
    val q = StreamingLww.jsonlSource(spark, in.toString)
      .writeStream.format("memory").queryName("failfast_stream").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    // the failure must be the parser's corrupt-record abort, not incidental
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getClass.getName.contains("MalformedRecord") ||
        String.valueOf(c.getMessage).toLowerCase.contains("malformed")),
      s"unexpected failure chain: ${causes(ex).map(_.getClass.getName)}")
  }

  test("jsonl file source: files dropped into a directory stream through " +
    "the partitioned merge sink to batch-LWW convergence") {
    val dir = java.nio.file.Files.createTempDirectory("graft_file_src")
    val in = dir.resolve("in"); java.nio.file.Files.createDirectories(in)
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val boundaries = Seq("<b>", "<c>")
    def drop(name: String, rows: Seq[Triple]): Unit = {
      val body = rows.map(t =>
        s"""{"subject":"${t.subject}","predicate":"${t.predicate}",""" +
        s""""object":"${t.`object`}","ts_ms":${t.ts_ms}}""").mkString("\n")
      // write-then-move so the source never lists a half-written file
      val tmp = dir.resolve(name)
      java.nio.file.Files.writeString(tmp, body)
      java.nio.file.Files.move(tmp, in.resolve(name)); ()
    }
    drop("b1.json", batch1)
    StreamingLww.mergeIntoStorePartitioned(
      StreamingLww.jsonlSource(spark, in.toString), storePath, ckpt,
      boundaries).awaitTermination()
    drop("b2.json", batch2)
    StreamingLww.mergeIntoStorePartitioned(
      StreamingLww.jsonlSource(spark, in.toString), storePath, ckpt,
      boundaries).awaitTermination()
    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (batch1 ++ batch2).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(store == batch)
  }

  test("dedupWithinWatermark: in-window redelivery suppressed, in-window " +
    "distinct rows pass, behind-watermark rows drop (the documented trade)") {
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600000L
    val source = MemoryStream[Triple]
    // delay 1h; event times chosen so the watermark actually moves
    val q = StreamingLww.dedupWithinWatermark(source.toDS(), "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    val t1 = Triple("<a>", "<p>", "v1", 2 * hour)
    val t2 = Triple("<b>", "<p>", "v1", 2 * hour + 1)
    // comfortably above the ~1h watermark (exactly-at-watermark behavior is
    // an implementation detail Spark leaves unspecified)
    val inWindow = Triple("<c>", "<p>", "w", 2 * hour - 1000L)
    val late = Triple("<d>", "<p>", "LATE", 1000L)      // far behind it
    try {
      source.addData(t1, t2); q.processAllAvailable()    // watermark -> 1h
      source.addData(t1); q.processAllAvailable()        // exact redelivery
      source.addData(inWindow, late); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("dedup_stream").as[Triple].collect().toSeq
    assert(emitted.size == emitted.distinct.size, "a duplicate got through")
    assert(emitted.toSet == Set(t1, t2, inWindow),
      s"expected the three in-window distinct rows only, got $emitted")
    assert(!emitted.contains(late),
      "a behind-watermark row passed — the documented drop semantics changed")
  }

  test("winnersWithTtl: state evicts after ttl, stale late arrivals are " +
    "dropped, and an admissible arrival re-hydrates — consistent with " +
    "batch LWW on admitted rows") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Triple]
    val q = StreamingLww.winnersWithTtl(source.toDS(),
        watermarkDelay = "0 seconds", ttlMs = 1000L)
      .writeStream.format("memory").queryName("ttl_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      // watermark after this batch: 1000
      source.addData(Triple("<a>", "<p>", "v1", 1000L),
        Triple("<b>", "<p>", "b1", 1000L))
      q.processAllAvailable()
      // advances watermark to 5000: <a>'s timeout (1000+1000) fires next
      source.addData(Triple("<b>", "<p>", "b2", 5000L))
      q.processAllAvailable()
      // stale arrival for the evicted key, older than the watermark:
      // dropped by Spark before the state function — cannot resurrect <a>
      source.addData(Triple("<a>", "<p>", "STALE", 500L))
      q.processAllAvailable()
      // admissible arrival re-hydrates <a> from scratch; necessarily newer
      // than the evicted winner (eviction ⇒ 2000 < watermark ≤ 6000)
      source.addData(Triple("<a>", "<p>", "v2", 6000L))
      q.processAllAvailable()
      // the state operator must actually have removed a row (the eviction),
      // not just behaved equivalently
      val removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 1, s"no state row was evicted (removed=$removed)")
    } finally q.stop()

    val emitted = spark.table("ttl_stream").as[Triple].collect()
    assert(!emitted.exists(_.`object` == "STALE"),
      "a dropped-late stale row was emitted")
    val finalPerKey = emitted
      .groupBy(t => (t.subject, t.predicate))
      .map(_._2.maxBy(t => (t.ts_ms, t.`object`))).toSet
    // batch twin over the ADMITTED rows (everything except the late STALE);
    // including STALE changes nothing — it loses the LWW anyway
    assert(finalPerKey == Set(
      Triple("<a>", "<p>", "v2", 6000L),
      Triple("<b>", "<p>", "b2", 5000L)))
  }

  test("tumbling windows with watermark == batch groupBy on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int, sec: Int) =
      Timestamp.valueOf(f"2026-01-01 00:$min%02d:$sec%02d")
    val rows = Seq(
      (ts(0, 10), "click", 1.0), (ts(0, 50), "click", 2.0),
      (ts(1, 5), "click", 4.0), (ts(1, 30), "view", 8.0),
      (ts(3, 0), "click", 16.0))

    val source = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingLww.tumblingCounts(
        source.toDS().toDF("ts", "event_type", "value"), "2 minutes")
      .writeStream.format("memory").queryName("tumbling_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      source.addData(rows: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("tumbling_stream")
      .select(col("window.start"), col("event_type"), col("cnt"),
        col("sum_value"))
      .as[(Timestamp, String, Long, Double)].collect().toSet

    val batch = StreamingLww.tumblingCounts(
        rows.toDF("ts", "event_type", "value"), "2 minutes")
      .select(col("window.start"), col("event_type"), col("cnt"),
        col("sum_value"))
      .as[(Timestamp, String, Long, Double)].collect().toSet

    assert(streamed == batch)
    assert(streamed.size == 4)
  }

  test("q67 spec baseline (gate entry retired r17, subsumed by q83's " +
    "phase-1): the monolithic JSONL readStream replay merges to exactly " +
    "the q3 batch LWW relation") {
    // q67_stream_merge left the driver gate once q83_stream_restart — the
    // same wire export and mergeIntoStore sink, split across two query
    // incarnations over one checkpoint — carried its second judged-green
    // round (the q21/q75 retire-the-subsumed-twin condition). This test
    // keeps q67's own replay scaffold pinned to its oracle relation.
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingGate.q67StreamMerge(spark, sf)
      .collect().map(_.toString).toSeq
    val batch = Lww.merge(
        graft.TripleStore.triples(spark, sf),
        graft.TripleStore.remoteChangelog(spark, sf))
      .orderBy("subject", "predicate")
      .collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}

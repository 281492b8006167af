package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Triple
import graft.operators.Lww
import graft.plans.RangeBucket
import graft.streaming.StreamingLww

/** `triple_ingest`: one writer commits the generator's LWW update batches
  * through a single long-running `StreamingLww.mergeIntoStorePartitioned`
  * query (`addData`, then `processAllAvailable`) and reads a sample of each
  * batch's subjects back with point searches on the live shard-partitioned
  * store. The loop is sequential: the per-shard swap gives a concurrent
  * reader no snapshot, so read-during-swap is left out.
  *
  * Every read-back is checked against an in-benchmark LWW model: the set-up
  * snapshot of the touched subjects with every committed batch folded in by
  * `Lww.newerWins` (read-your-writes). */
final class Ingest(spark: SparkSession, args: Args, in: Inputs, tracer: Tracer,
    rec: Recorder) extends Workload {
  import spark.implicits._

  private val path = args.work + "/ingest_store"
  private val boundaries = in.lines("ingest_boundaries.txt")
  private val batches: IndexedSeq[Seq[Triple]] = in.tsv("ingest_batches.tsv")
    .groupBy(_(0).toInt).toSeq.sortBy(_._1)
    .map(_._2.map(TripleData.triple(_, 1))).toIndexedSeq
  private val readbacks: Map[Int, Seq[String]] = in.tsv("ingest_readback.tsv")
    .groupBy(_(0).toInt).map { case (b, rs) => b -> rs.map(_(1)) }
  private val warmBatches = in.long("ingest_warmup_batches").toInt

  private val model = mutable.Map.empty[(String, String), Triple]
  private var source: MemoryStream[Triple] = _
  private var query: StreamingQuery = _
  private var next = 0
  private val rewritten = mutable.ArrayBuffer.empty[Int]
  private var updateRows = 0L
  private var updateBytes = 0L

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    TripleData.store(spark, args.seed, in.long("orders"))
      .withColumn("shard", RangeBucket.shardId(col("subject"), boundaries))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    val storeS = (System.nanoTime() - t0) / 1e9
    TripleData.snapshot(spark.read.parquet(path),
      batches.flatten.map(_.subject)).values.flatten
      .foreach(t => model((t.subject, t.predicate)) = t)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    source = MemoryStream[Triple]
    // started inside the commit tag, so the stream's jobs inherit it
    query = tracer.tagged("commit", "stream") {
      StreamingLww.mergeIntoStorePartitioned(source.toDS(), path,
        s"${args.work}/ingest_ckpt", boundaries,
        Trigger.ProcessingTime(0L))
    }
    (0 until warmBatches).foreach(_ => step())
    Map("store_s" -> storeS)
  }

  def measure(): Unit = {
    val deadline = rec.windowStartNs + (args.seconds * 1e9).toLong
    while (System.nanoTime() < deadline && next < batches.size) step()
    if (next >= batches.size) rec.fail("ingest: generator ran out of batches")
  }

  def finish(): Map[String, Any] = {
    stop()
    val files = new File(path).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    Map("commits" -> rewritten.size, "update_rows" -> updateRows,
      "update_bytes" -> updateBytes, "shards_rewritten" -> rewritten.sum,
      "store_files" -> files, "store_mb" -> TripleData.sizeMb(path))
  }

  private def stop(): Unit = if (query != null) { query.stop(); query = null }

  /** Commits the next batch, then reads back its sampled subjects. */
  private def step(): Unit = {
    val b = next
    next += 1
    val batch = batches(b)
    val before = shardFiles()
    Timed(rec, "commit")(tracer.request("commit", "stream") {
      source.addData(batch)
      query.processAllAvailable()
    })(_ => batch.size.toLong) { _ =>
      query.exception.map(_.toString)
    }
    val after = shardFiles()
    rewritten += after.keySet.count(k => !before.get(k).contains(after(k)))
    updateRows += batch.size
    updateBytes += batch.map(t => t.subject.length + t.predicate.length +
      t.`object`.length + 8L).sum
    batch.foreach { u =>
      val key = (u.subject, u.predicate)
      if (model.get(key).forall(cur =>
          Lww.newerWins(cur.`object`, cur.ts_ms, u.`object`, u.ts_ms)))
        model(key) = u
    }
    readbacks.getOrElse(b, Nil).zipWithIndex.foreach { case (s, i) =>
      Timed(rec, "readback")(tracer.request("readback", rec.reqId(s"$b.$i")) {
        val df: DataFrame = tracer.step("construct")(
          spark.read.parquet(path).filter(col("subject") === s))
        tracer.step("plan")(df.queryExecution.executedPlan)
        val rows = tracer.step("execute")(df.collect())
        tracer.planned(df.queryExecution)
        rows
      })(_.length.toLong) { rows =>
        val got = TripleData.canon(rows.map(TripleData.triple).toSeq)
        val want = TripleData.canon(model.valuesIterator.filter(_.subject == s).toSeq)
        if (got == want) None
        else Some(s"readback $s after batch $b: got $got, want $want")
      }
    }
  }

  /** Live shard directory → its parquet file names: a shard whose file set
    * changed across a commit was rewritten by it. */
  private def shardFiles(): Map[String, Set[String]] =
    Option(new File(path).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(d => d.getName ->
        Option(d.list()).map(_.toSet).getOrElse(Set.empty[String])).toMap
}

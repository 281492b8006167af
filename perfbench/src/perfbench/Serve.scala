package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Triple, TripleStore}
import graft.operators.Lww

/** `triple_serve`: the reference's request traffic against a range-sharded
  * store, as a closed loop of `clients` threads with no think time. The
  * generator's op stream mixes point search, `Lww.upsertPoint` and a
  * bounded pending-set merge; the loop replays it in order, wrapping around
  * if the window outlasts it. The store is read-only for the whole run. */
final class Serve(spark: SparkSession, args: Args, in: Inputs, tracer: Tracer,
    rec: Recorder) extends Workload {
  private val path = args.work + "/serve_store"
  private val ops = in.tsv("serve_ops.tsv").toIndexedSeq
  private val sets: Map[String, Seq[Triple]] = in.tsv("merge_sets.tsv")
    .groupBy(_(0)).map { case (k, rs) => k -> rs.map(TripleData.triple(_, 1)) }
  private val cursor = new AtomicInteger(0)
  private var store: DataFrame = _
  private var index: Map[String, Seq[Triple]] = Map.empty

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    TripleStore.writeSharded(
      TripleData.store(spark, args.seed, in.long("orders")), path,
      in.long("serve_shards").toInt)
    val storeS = (System.nanoTime() - t0) / 1e9
    store = spark.read.parquet(path)
    index = TripleData.snapshot(store,
      ops.filter(_(0) != "merge").map(_(1)) ++ sets.values.flatten.map(_.subject))
    // the same requests warm the JIT and the reader's caches first: a fixed
    // number of them, so every run starts equally warm, from more clients,
    // so the warm-up takes less time
    val warm = in.long("serve_warmup_ops")
    loop(in.long("serve_warmup_clients").toInt, () => cursor.get() < warm)
    Map("store_s" -> storeS)
  }

  def measure(): Unit = {
    val deadline = rec.windowStartNs + (args.seconds * 1e9).toLong
    loop(in.long("serve_clients").toInt, () => System.nanoTime() < deadline)
  }

  private def loop(n: Int, more: () => Boolean): Unit = {
    val clients = (1 to n).map { _ =>
      new Thread(() => while (more()) execute(cursor.getAndIncrement()))
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  def finish(): Map[String, Any] = Map("store_mb" -> TripleData.sizeMb(path))

  /** Runs request `i` of the op stream, wrapping around at its end. */
  private def execute(i: Int): Unit = {
    val op = ops(i % ops.size)
    val kind = op(0)
    Timed(rec, kind)(tracer.request(kind, rec.reqId(i.toString)) {
      val df = tracer.step("construct")(build(op))
      tracer.step("plan")(df.queryExecution.executedPlan)
      val rows = tracer.step("execute")(df.collect())
      tracer.planned(df.queryExecution)
      rows
    })(_.length.toLong)(check(op, _))
  }

  private def build(op: Array[String]): DataFrame = op(0) match {
    case "search" => store.filter(col("subject") === op(1))
    case "upsert" => Lww.upsertPoint(store, op(1), op(2), op(3), op(4).toLong)
    case "merge" =>
      val pending = sets(op(1))
      val changelog = spark.createDataFrame(pending)
      val subjects = pending.map(_.subject)
      val affected = store
        .filter(col("subject").between(subjects.min, subjects.max))
        .join(broadcast(changelog.select("subject", "predicate")),
          Seq("subject", "predicate"), "left_semi")
      Lww.merge(affected, changelog)
  }

  private def check(op: Array[String], rows: Array[Row]): Option[String] = {
    def expectEq(got: Seq[Triple], want: Seq[Triple]) =
      if (TripleData.canon(got) == TripleData.canon(want)) None
      else Some(s"${op.mkString(" ")}: got ${got.size} rows, want ${want.size}")
    op(0) match {
      case "search" =>
        expectEq(rows.map(TripleData.triple).toSeq, index.getOrElse(op(1), Nil))
      case "upsert" =>
        val update = TripleData.triple(op, 1)
        val byKind = rows.groupBy(_.getAs[String]("row_kind"))
          .map { case (k, rs) => k -> rs.map(TripleData.triple).toSeq }
        val old = index.getOrElse(update.subject, Nil)
          .filter(_.predicate == update.predicate)
        if (old.exists(o => !Lww.newerWins(o.`object`, o.ts_ms,
            update.`object`, update.ts_ms)))
          Some(s"${op.mkString(" ")}: generator stamped a losing upsert")
        else expectEq(byKind.getOrElse("new_row", Nil), Seq(update))
          .orElse(expectEq(byKind.getOrElse("old_row", Nil), old))
      case "merge" =>
        val want = sets(op(1)).map { remote =>
          index.getOrElse(remote.subject, Nil)
            .find(_.predicate == remote.predicate) match {
            case Some(local) if !Lww.newerWins(local.`object`, local.ts_ms,
                remote.`object`, remote.ts_ms) => local
            case _ => remote
          }
        }
        expectEq(rows.map(TripleData.triple).toSeq, want)
    }
  }
}

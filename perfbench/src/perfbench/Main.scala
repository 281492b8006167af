package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the measuring JVM (run.py builds it). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, inputs: String, out: String, work: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("inputs"), m("out"), m("work"))
  }
}

/** The generator's files: `params.txt` (key=value) plus one TSV per stream. */
final class Inputs(dir: String) {
  val params: Map[String, String] = lines("params.txt").map { l =>
    val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
  def long(k: String): Long = params(k).toLong
  def lines(name: String): Seq[String] = {
    val p = Paths.get(dir, name)
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    else Seq.empty
  }
  def tsv(name: String): Seq[Array[String]] = lines(name).map(_.split("\t", -1))
}

/** Outcomes of every checked request: set-up requests count towards
  * attempted and failed; only requests in the measured window are samples. */
final class Recorder {
  private val samples = new ConcurrentLinkedQueue[String]()
  private val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new java.util.concurrent.atomic.AtomicInteger()
  val failed = new java.util.concurrent.atomic.AtomicInteger()
  @volatile var windowStartNs = 0L

  /** Request ids of set-up requests are marked, so the trace can tell
    * them from the measured window's. */
  def reqId(id: String): String = if (windowStartNs == 0) "setup" + id else id

  /** A request of kind `op` that started at `t0Ns` and took `latNs`. A
    * request is failed when it threw or its output did not match. */
  def record(op: String, t0Ns: Long, latNs: Long, ok: Boolean, rows: Long,
      why: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (failures.size < 20) failures.add(s"$op: $why")
    }
    if (windowStartNs > 0)
      samples.add(Json.arr(op, (t0Ns - windowStartNs) / 1e9, latNs / 1e9,
        if (ok) 1 else 0, rows))
    ()
  }
  /** A failed check that is not a request of its own. */
  def fail(why: String): Unit = {
    attempted.incrementAndGet(); failed.incrementAndGet()
    if (failures.size < 20) failures.add(why)
    ()
  }
  def samplesJson: Json.Raw = Json.Raw(samples.asScala.mkString("[", ",", "]"))
  def failuresJson: Seq[String] = failures.asScala.toSeq
}

/** Times one request: the latency covers the program's work only; `check`
  * compares its output with the benchmark's expectation afterwards, outside
  * the timed interval. */
object Timed {
  def apply[A](rec: Recorder, op: String)(run: => A)(rows: A => Long)
      (check: A => Option[String]): Unit = {
    val t0 = System.nanoTime()
    val res = try Right(run) catch { case e: Throwable => Left(e) }
    val lat = System.nanoTime() - t0
    res match {
      case Right(a) =>
        val bad = try check(a) catch { case e: Throwable => Some(e.toString) }
        rec.record(op, t0, lat, bad.isEmpty, rows(a), bad.getOrElse(""))
      case Left(e) => rec.record(op, t0, lat, ok = false, 0L, e.toString)
    }
  }
}

/** One workload's measuring run: set-up, then the measured window, then the
  * raw JSON file run.py reads. */
object Main {
  /** Heap in use after a full GC. Spark's ContextCleaner and listener bus
    * release state that a GC found unreachable only afterwards, so a reading
    * is a GC, a pause, and a second GC; readings repeat until two in a row
    * agree within 1 MB (at most six). */
  def heapAfterGcMb(): Double = {
    def read(): Double = {
      System.gc(); Thread.sleep(300); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = read()
    var cur = read()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 6) { prev = cur; cur = read(); n += 1 }
    cur
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val in = new Inputs(args.inputs)
    Files.createDirectories(Paths.get(args.work))
    val t0 = System.nanoTime()
    // local[4]: the cores of the host the repo's baselines were taken on
    val spark: SparkSession = graft.LocalSession.create("4")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, args.trace)
    val rec = new Recorder
    val workload: Workload = args.workload match {
      case "triple_serve" => new Serve(spark, args, in, tracer, rec)
      case "triple_ingest" => new Ingest(spark, args, in, tracer, rec)
      case "gate_sf01" => new Gate(spark, args, in, tracer, rec)
      case w => sys.error(s"unknown workload $w")
    }
    val s0 = System.nanoTime()
    val parts = workload.setup()
    val setupS = (System.nanoTime() - s0) / 1e9
    rec.windowStartNs = System.nanoTime()
    workload.measure()
    val windowS = (System.nanoTime() - rec.windowStartNs) / 1e9
    val heapEnd = heapAfterGcMb()
    val extra = workload.finish()
    tracer.drain()
    val out = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "setup_s" -> setupS,
      "setup_parts" -> Json.Raw(Json.obj(
        "session_s" -> sessionS,
        "store_s" -> parts.getOrElse("store_s", 0.0),
        "layouts_s" -> parts.getOrElse("layouts_s", 0.0))),
      "window_s" -> windowS,
      "heap_mb" -> heapEnd,
      "samples" -> rec.samplesJson,
      "attempted" -> rec.attempted.get, "failed" -> rec.failed.get,
      "failures" -> rec.failuresJson,
      "extra" -> extra,
      "trace_data" -> (if (args.trace) Json.Raw(tracer.toJson) else null))
    Files.writeString(Paths.get(args.out), out)
    spark.stop()
    sys.exit(0) // threads the program left running must not hold the JVM
  }
}

/** A workload: `setup` prepares inputs and warms the program (returning
  * named part timings), `measure` runs the timed loop until the deadline,
  * `finish` returns workload-specific totals and stops what it started. */
trait Workload {
  def setup(): Map[String, Double]
  def measure(): Unit
  def finish(): Map[String, Any]
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** One span: a benchmark boundary (request, construct, plan, execute) or a
  * Spark job/task attributed to a request through its job tag. Times are
  * epoch microseconds so benchmark spans and listener events share a clock. */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, req: String)

/** Task-metric totals of one job tag. */
final class TagCounters {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var recordsRead = 0L; var bytesWritten = 0L
  var planMs = 0.0
  def toJson: String = Json.obj(
    "jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "records_read" -> recordsRead, "bytes_written" -> bytesWritten,
    "plan_ms" -> planMs)
}

/** The traced run's recorder. Disabled, every method is a pass-through and
  * nothing is registered with Spark, so the untraced run measures the
  * program alone.
  *
  * Enabled, each request runs under a Spark job tag `pb|<kind>|<req>`
  * (thread-local, inherited by the threads Spark starts for that request,
  * including a streaming query's execution thread when the query is started
  * inside the scope). A [[SparkListener]] credits jobs and task metrics to
  * the tag. Planning time is read from the request's own `QueryExecution`
  * on the calling thread ([[planned]]): a `QueryExecutionListener`, tried
  * first, was called for 11 of the first 40 executions of a serve run.
  * Attribution never depends on when the asynchronous listener bus delivers
  * an event; [[drain]] only waits for delivery before the totals are read. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private val counters = new ConcurrentHashMap[String, TagCounters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val jobStartUs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val drains = new ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()

  private def counter(tag: String) =
    counters.computeIfAbsent(tag, _ => new TagCounters)

  private def addSpan(s: Span): Unit = spans.synchronized { spans += s; () }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.tags"))).getOrElse("")
      tags.split(",").find(_.startsWith("pb|")).foreach { tag =>
        jobTag.put(e.jobId, tag)
        jobStartUs.put(e.jobId, e.time * 1000)
        e.stageIds.foreach(stageTag.put(_, tag))
        counter(tag).synchronized { counter(tag).jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTag.get(e.jobId)).foreach { tag =>
        Option(drains.get(tag)) match {
          case Some(latch) => latch.countDown()
          case None => addSpan(Span(ids.incrementAndGet(), "job",
            jobStartUs.get(e.jobId), e.time * 1000, 0L, tag))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { tag =>
        val c = counter(tag)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.recordsRead += m.inputMetrics.recordsRead
            c.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
        addSpan(Span(ids.incrementAndGet(), "task", e.taskInfo.launchTime * 1000,
          e.taskInfo.finishTime * 1000, 0L, tag))
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
  }

  /** Runs `f` as request `req` of kind `kind`: a root span plus a job tag. */
  def request[A](kind: String, req: String)(f: => A): A =
    tagged(kind, req)(if (enabled) span(kind, s"pb|$kind|$req")(f) else f)

  /** Runs `f` with the job tag of request `req` of kind `kind`, no span. */
  def tagged[A](kind: String, req: String)(f: => A): A =
    if (!enabled) f
    else {
      val tag = s"pb|$kind|$req"
      val sc = spark.sparkContext
      sc.addJobTag(tag)
      try f finally sc.removeJobTag(tag)
    }

  private def currentTag: String =
    Option(spark.sparkContext.getLocalProperty("spark.job.tags"))
      .flatMap(_.split(",").find(_.startsWith("pb|"))).getOrElse("")

  /** A child span of the enclosing request on this thread. */
  def step[A](name: String)(f: => A): A =
    if (!enabled) f else span(name, currentTag)(f)

  /** Credits an executed query's analysis, optimization and planning
    * phases to the enclosing request. */
  def planned(qe: QueryExecution): Unit = if (enabled) {
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    val c = counter(currentTag)
    c.synchronized { c.planMs += ms }
  }

  private def span[A](name: String, tag: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val t0 = nowUs()
    try f
    finally {
      addSpan(Span(id, name, t0, nowUs(), parent, tag))
      stack.set(stack.get().tail)
    }
  }

  /** Waits until the listener bus has delivered every event posted before
    * this call: a tagged marker job's end event arrives after all events of
    * jobs that finished before it started (one queue, delivered in order). */
  def drain(): Unit = if (enabled) {
    val tag = s"pb|drain|${ids.incrementAndGet()}"
    val latch = new java.util.concurrent.CountDownLatch(1)
    drains.put(tag, latch)
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag)
    latch.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
  }

  /** Spans and per-tag counters as JSON, for the report. Listener-side job
    * and task spans carry their request tag and are parented in the report
    * to the innermost benchmark span that contains them. */
  def toJson: String = {
    val ss = spans.synchronized(spans.toList)
    Json.obj(
      "counters" -> Json.Raw(counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, c) => Json.str(k) + ":" + c.toJson }
        .mkString("{", ",", "}")),
      "spans" -> Json.Raw(ss.map(s =>
        Json.arr(s.id, s.name, s.startUs, s.endUs, s.parent, s.req))
        .mkString("[", ",", "]")))
  }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `gate_sf01`: passes over `SparkEntry.queries` entries on the sf0.1 tables,
  * in name order, each built and written through the noop sink. Set-up runs
  * one checked pass, which pays the session-memoized layouts (sharded
  * store, bucketed tables, streaming replays, planted media, ...) and the
  * JIT warm-up; the measured window then repeats whole passes until it has
  * lasted its length.
  *
  * The set-up pass checks every entry's row count and order-free content
  * digest against `gate_expected.tsv`; the measured passes check the row
  * count, observed on the same write. */
final class Gate(spark: SparkSession, args: Args, in: Inputs, tracer: Tracer,
    rec: Recorder) extends Workload {
  private val dir = in.params("sf_dir")
  /** (name, module, rows, digest) of the entries this run executes. */
  private val entries = in.tsv("gate_entries.tsv")
    .map(f => (f(0), f(1), f(2).toLong, f(3))).sortBy(_._1)
  private var passes = 0

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    entries.foreach { case (name, module, rows, digest) =>
      run(name, module, "setup", withDigest = true) { case (n, d) =>
        if (n == rows && d == digest) None
        else Some(s"$name: rows $n digest $d, want rows $rows digest $digest")
      }
    }
    Map("layouts_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def measure(): Unit = {
    // whole passes, until the window has lasted its length
    val deadline = rec.windowStartNs + (args.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      passes += 1
      entries.foreach { case (name, module, rows, _) =>
        run(name, module, passes.toString, withDigest = false) { case (n, _) =>
          if (n == rows) None else Some(s"$name: rows $n, want $rows")
        }
      }
    }
  }

  def finish(): Map[String, Any] = Map("passes" -> passes)

  private def run(name: String, module: String, pass: String,
      withDigest: Boolean)(check: ((Long, String)) => Option[String]): Unit =
    Timed(rec, name)(tracer.request(module, s"$name#$pass") {
      val df = tracer.step("construct")(SparkEntry.queries(name)(spark, dir))
      tracer.step("execute")(Gate.writeNoop(df, withDigest))
    })(_._1)(check)
}

object Gate {
  /** Writes `df` through the noop sink, observing its row count and, when
    * asked, its content digest on the same execution. */
  def writeNoop(df: DataFrame, withDigest: Boolean): (Long, String) = {
    val obs = Observation()
    val aggs = count(lit(1)).as("rows") +:
      (if (withDigest) Seq(digest(df).as("digest")) else Nil)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m.get("digest").map(String.valueOf).getOrElse(""))
  }

  /** Order-free content digest: the sum over rows of a 64-bit hash of the
    * row's columns in name order. Floating values are hashed at six
    * significant digits (the precision `scripts/check.py` compares at), so
    * a last-bit difference in a sum's evaluation order cannot flip it. */
  def digest(df: DataFrame): Column = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.6g", c)
      case ArrayType(DoubleType | FloatType, _) =>
        concat_ws(",", transform(c, x => format_string("%.6g", x)))
      case _: ArrayType | _: StructType | _: MapType => to_json(c)
      case BinaryType => hex(c)
      case _ => c.cast(StringType)
    }
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    coalesce(sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))),
      lit(BigDecimal(0)).cast(DecimalType(38, 0))).cast(StringType)
  }
}

/** Records the expected digests: writes every gate entry's output as one
  * parquet file plus `oracle_sql.json` (the layout `scripts/check.py` reads)
  * and `digests.tsv` (name, rows, digest, observed on that same write).
  * Usage: GateRecord <sfDir> <outDir>. */
object GateRecord {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = graft.LocalSession.create("4")
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val obs = Observation()
      val df = fn(spark, dir)
      df.observe(obs, count(lit(1)).as("rows"), Gate.digest(df).as("digest"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      s"$name\t${obs.get("rows")}\t${obs.get("digest")}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "digests.tsv"),
      lines.mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.toSeq: _*))
    spark.stop()
  }
}

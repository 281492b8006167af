package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Triple

/** Seeded synthetic triples in the shape of `graft.TripleStore.triples`:
  * three per order, two per customer, one per nation, with one customer per
  * ten orders and 25 nations. Subjects are zero-padded (`<order_00000042>`)
  * so that byte order equals id order and the generator (gen.py) can name
  * subject ranges without reading the store. Timestamps fall in
  * [[TsLo]], [[TsHi]]; generated updates are stamped outside that interval,
  * so every LWW outcome is decided by the generator's choice alone. */
object TripleData {
  val TsLo = 1577836800000L // 2020-01-01
  val TsHi = TsLo + 4L * 365 * 86400000L

  def orderSubject(id: Long): String = f"<order_$id%08d>"

  def store(spark: SparkSession, seed: Long, orders: Long): DataFrame = {
    val customers = math.max(1L, orders / 10)
    def h(salt: Int, mod: Long): Column =
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(mod))
    def pick(salt: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (h(salt, xs.size) + 1).cast("int"))
    def ts(salt: Int): Column = lit(TsLo) + h(salt, TsHi - TsLo)
    def triples(n: Long, subject: Column, ts: Column, po: (String, Column)*) =
      spark.range(n).select(subject.as("subject"), ts.as("ts_ms"),
        explode(array(po.map { case (p, o) =>
          struct(lit(p).as("p"), o.as("o")) }: _*)).as("po"))
        .select(col("subject"), col("po.p").as("predicate"),
          col("po.o").as("object"), col("ts_ms"))
    val o = triples(orders, format_string("<order_%08d>", col("id")), ts(0),
      "<hasStatus>" -> pick(1, "F", "O", "P"),
      "<hasPriority>" -> pick(2, "1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"),
      "<orderedBy>" -> format_string("<cust_%07d>", h(3, customers)))
    val c = triples(customers, format_string("<cust_%07d>", col("id")), ts(4),
      "<inNation>" -> format_string("<nation_%02d>", h(5, 25)),
      "<hasSegment>" -> pick(6, "AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY"))
    val n = triples(25, format_string("<nation_%02d>", col("id")), lit(TsLo),
      "<inRegion>" -> format_string("<region_%d>", col("id") % 5))
    o.unionByName(c).unionByName(n)
  }

  /** Rows of `df` whose subject is one of `subjects`, grouped by subject:
    * the set-up snapshot the benchmark checks results against. */
  def snapshot(df: DataFrame, subjects: Iterable[String]): Map[String, Seq[Triple]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val keys = subjects.toSeq.distinct.toDF("subject")
    df.join(broadcast(keys), Seq("subject"), "left_semi")
      .select("subject", "predicate", "object", "ts_ms").as[Triple]
      .collect().toSeq.groupBy(_.subject)
  }

  def triple(r: Row): Triple =
    Triple(r.getAs[String]("subject"), r.getAs[String]("predicate"),
      r.getAs[String]("object"), r.getAs[Long]("ts_ms"))

  def triple(f: Array[String], from: Int): Triple =
    Triple(f(from), f(from + 1), f(from + 2), f(from + 3).toLong)

  /** Bytes of the parquet files under `dir`, in MB (10^6 B). */
  def sizeMb(dir: String): Double = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size(_)).sum / 1e6
    finally files.close()
  }

  /** Rows as a sorted multiset, for order-free comparison. */
  def canon(ts: Iterable[Triple]): Seq[Triple] =
    ts.toSeq.sortBy(t => (t.subject, t.predicate, t.`object`, t.ts_ms))
}

package perfbench

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import java.time.LocalDateTime

/** Seeded, per-row generators. Every value is a pure function of
  * (seed, table, row index), so the benchmark can write a table with
  * Spark and later re-derive any row in-process to check an answer. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def bits(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632be59bd9b4e019L + stream) + i)
  def unit(seed: Long, stream: Long, i: Long): Double =
    (bits(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(bits(seed, stream, i), n)
  def gauss(seed: Long, stream: Long, i: Long): Double = {
    val u1 = math.max(unit(seed, stream, 2 * i), 1e-12)
    val u2 = unit(seed, stream, 2 * i + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

final case class HugeRow(id: Int, value1: String, value2: Float)
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                         l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
                         l_discount: Double, l_tax: Double, l_returnflag: String,
                         l_linestatus: String, l_shipdate: LocalDateTime)
final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                          o_totalprice: Double, o_orderdate: LocalDateTime,
                          o_orderpriority: String)
final case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Int,
                             c_acctbal: Double, c_mktsegment: String)
final case class SupplierRow(s_suppkey: Long, s_name: String, s_nationkey: Int,
                             s_acctbal: Double)
final case class PartRow(p_partkey: Long, p_name: String, p_brand: String,
                         p_type: String, p_size: Int, p_retailprice: Double)
final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class RegionRow(r_regionkey: Int, r_name: String)
final case class EventRow(event_id: Long, ts: LocalDateTime, user_id: Long,
                          event_type: String, value: Double, props: String)
final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
                        n_chars: Long)
final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

/** Table shapes of the engine's synthetic TPC-H-ish star schema (plus
  * events, documents and embeddings) at scale factor `sf`; row counts
  * match the fixtures the engine's oracle suite uses (lineitem 6M·sf,
  * documents 50k·sf, embeddings 20k·sf); `docSf` > 0 scales the two
  * corpus tables separately. */
final case class Tables(seed: Long, sf: Double, docSf: Double = 0) {
  val nLineitem: Long = math.round(6000000 * sf)
  val nOrders: Long = math.round(1500000 * sf)
  val nCustomer: Long = math.round(150000 * sf)
  val nPart: Long = math.round(200000 * sf)
  val nSupplier: Long = math.max(10L, math.round(10000 * sf))
  val nEvents: Long = math.round(1000000 * sf)
  val nUsers: Long = math.max(10L, math.round(15000 * sf))
  val nDocs: Long = math.round(50000 * (if (docSf > 0) docSf else sf))
  val nEmb: Long = math.round(20000 * (if (docSf > 0) docSf else sf))

  private def cents(stream: Long, i: Long, lo: Double, hi: Double): Double =
    math.round((lo + Rng.unit(seed, stream, i) * (hi - lo)) * 100) / 100.0
  private def pick[A](stream: Long, i: Long, xs: IndexedSeq[A]): A =
    xs(Rng.below(seed, stream, i, xs.length.toLong).toInt)
  private def day(stream: Long, i: Long, from: LocalDateTime, days: Long): LocalDateTime =
    from.plusDays(Rng.below(seed, stream, i, days))

  def lineitem(i: Long): LineRow = {
    val q = (1 + Rng.below(seed, 11, i, 50)).toDouble
    LineRow(Rng.below(seed, 12, i, nOrders), Rng.below(seed, 13, i, nPart),
      Rng.below(seed, 14, i, nSupplier), 1 + Rng.below(seed, 15, i, 7).toInt, q,
      cents(16, i, 900, 105000), Rng.below(seed, 17, i, 11) / 100.0,
      Rng.below(seed, 18, i, 9) / 100.0, pick(19, i, Tables.Flags),
      pick(20, i, Tables.Status), day(21, i, Tables.Epoch95.plusDays(1), 2498))
  }
  def order(i: Long): OrderRow =
    OrderRow(i, Rng.below(seed, 31, i, nCustomer), pick(32, i, Tables.OrderStatus),
      cents(33, i, 1000, 500000), day(34, i, Tables.Epoch95, 2404),
      pick(35, i, Tables.Priorities))
  def customer(i: Long): CustomerRow =
    CustomerRow(i, f"Customer#$i%09d", Rng.below(seed, 41, i, 25).toInt,
      cents(42, i, -999.99, 9999.99), pick(43, i, Tables.Segments))
  def supplier(i: Long): SupplierRow =
    SupplierRow(i, f"Supplier#$i%09d", Rng.below(seed, 51, i, 25).toInt,
      cents(52, i, -999.99, 9999.99))
  def part(i: Long): PartRow =
    PartRow(i, pick(61, i, Tables.Adjectives) + " " + pick(62, i, Tables.Nouns),
      "Brand#" + (1 + Rng.below(seed, 63, i, 25)), pick(64, i, Tables.Types),
      1 + Rng.below(seed, 65, i, 50).toInt, 900.0 + (i % 1000) / 10.0)
  def nation(i: Long): NationRow = NationRow(i.toInt, s"NATION_$i", (i % 5).toInt)
  def region(i: Long): RegionRow = RegionRow(i.toInt, Tables.Regions(i.toInt))
  def event(i: Long): EventRow = {
    val spanMicros = 30L * 86400L * 1000000L
    val micros = (i * spanMicros) / math.max(1L, nEvents) + Rng.below(seed, 71, i, 1000000)
    EventRow(i, Tables.Epoch24.plusNanos(micros * 1000), Rng.below(seed, 72, i, nUsers),
      pick(73, i, Tables.EventTypes),
      math.round(-math.log(1 - Rng.unit(seed, 74, i)) * 5000) / 100.0,
      s"""{"k": ${Rng.below(seed, 75, i, 100)}}""")
  }

  /** Un-duplicated text of doc `i`: 10–100 words from the corpus
    * vocabulary. */
  def baseText(i: Long): String = {
    val n = 10 + Rng.below(seed, 81, i, 91).toInt
    (0 until n).map(w => Tables.Vocab(Rng.below(seed, 82, i * 128 + w,
      Tables.Vocab.length.toLong).toInt)).mkString(" ")
  }
  /** 5% of docs are near-duplicates: an earlier doc's text plus "dup". */
  def dupOf(i: Long): Option[Long] =
    if (i > 0 && Rng.unit(seed, 83, i) < 0.05) Some(Rng.below(seed, 84, i, i)) else None
  def docText(i: Long): String = dupOf(i).fold(baseText(i))(j => baseText(j) + " dup")
  def doc(i: Long): DocRow = {
    val t = docText(i)
    val u = Rng.unit(seed, 85, i)
    val lang = if (u < 0.41) "en" else Tables.Langs(1 + ((u - 0.41) / 0.1475).toInt.min(3))
    DocRow(i, t, lang, s"src${i % 20}", t.length.toLong)
  }
  def embedding(i: Long): Array[Float] = {
    val label = Rng.below(seed, 91, i, 10)
    val v = Array.tabulate(Tables.Dim) { d =>
      0.35 * Rng.gauss(seed, 92, label * Tables.Dim + d) + Rng.gauss(seed, 93, i * Tables.Dim + d)
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }
  def emb(i: Long): EmbRow = EmbRow(i, embedding(i), Rng.below(seed, 91, i, 10).toInt)

  /** Write one table as a single parquet FILE `<dir>/<name>.parquet`
    * (the fixture layout the engine's catalog and oracle read). */
  def writeTable[A: Encoder](spark: SparkSession, dir: String, name: String, n: Long,
                             row: Long => A): Unit = {
    val parts = math.max(1, math.min(4, (n / 50000).toInt))
    val ds: Dataset[A] = spark.range(0, n, 1, parts).map(i => row(i))
    // wall-clock timestamps are stored as instants, as the engine's
    // fixture tables are (the session zone is UTC)
    val df = ds.toDF()
    val asInstants = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampNTZType) d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }
    Tables.writeSingleFile(asInstants.coalesce(1), s"$dir/$name.parquet")
  }

  def writeAll(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    import spark.implicits._
    names.foreach {
      case "lineitem" => writeTable(spark, dir, "lineitem", nLineitem, lineitem)
      case "orders" => writeTable(spark, dir, "orders", nOrders, order)
      case "customer" => writeTable(spark, dir, "customer", nCustomer, customer)
      case "supplier" => writeTable(spark, dir, "supplier", nSupplier, supplier)
      case "part" => writeTable(spark, dir, "part", nPart, part)
      case "nation" => writeTable(spark, dir, "nation", 25, nation)
      case "region" => writeTable(spark, dir, "region", 5, region)
      case "events" => writeTable(spark, dir, "events", nEvents, event)
      case "documents" => writeTable(spark, dir, "documents", nDocs, doc)
      case "embeddings" => writeTable(spark, dir, "embeddings", nEmb, emb)
    }
  }
}

object Tables {
  val Dim = 64
  val Epoch95: LocalDateTime = LocalDateTime.of(1995, 1, 1, 0, 0)
  val Epoch24: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val Status: IndexedSeq[String] = IndexedSeq("F", "O")
  val OrderStatus: IndexedSeq[String] = IndexedSeq("F", "O", "P")
  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Adjectives: IndexedSeq[String] =
    IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val Nouns: IndexedSeq[String] =
    IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val Types: IndexedSeq[String] =
    IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Regions: IndexedSeq[String] =
    IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "zh", "es", "fr", "de")
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Write `df` (already one partition) and move its single part file
    * to `target`. */
  def writeSingleFile(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
    val tmp = target + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    val out = new java.io.File(target)
    out.delete()
    require(part.renameTo(out), s"cannot move $part to $target")
    org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
  }
}

/** The reference's `huge_simple` sample dataset shape
  * (create_sample_data.rs): `n` rows of (int id, 8-letter string,
  * float), `perFile` rows per parquet file. */
final case class HugeSimple(seed: Long, n: Int = 1000000, perFile: Int = 10000) {
  def row(i: Int): HugeRow = {
    val b = Rng.bits(seed, 1, i.toLong)
    val chars = new Array[Char](8)
    var x = b >>> 8
    var c = 0
    while (c < 8) { chars(c) = ('a' + java.lang.Long.remainderUnsigned(x, 26)).toChar; x = java.lang.Long.divideUnsigned(x, 26); c += 1 }
    HugeRow(i, new String(chars), ((Rng.bits(seed, 2, i.toLong) >>> 40).toFloat / (1 << 24).toFloat))
  }
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, n.toLong, 1, n / perFile).map(i => row(i.toInt))
      .write.mode("overwrite").parquet(dir)
  }
}

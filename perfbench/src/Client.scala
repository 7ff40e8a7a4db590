package perfbench

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets

/** Canonical row encoding shared by every answer check: both the wire
  * decoders and the in-process expectations render values through
  * `canon`, and a result is summarized by its row count plus an
  * order-insensitive sum of per-row hashes. */
object Canon {
  private val Iso = """^\d{4}-\d\d-\d\dT\d\d:\d\d(:\d\d(\.\d+)?)?Z?$""".r
  /** `digits` > 0 rounds floating values to that many significant
    * digits (for results whose float arithmetic may legitimately differ
    * between routes in the last bits). */
  def canon(v: Any, digits: Int = 0): String = v match {
    case null => "∅"
    case b: java.lang.Boolean => b.toString
    case i: java.lang.Integer => i.toString
    case l: java.lang.Long => l.toString
    case s: java.lang.Short => s.toString
    case b: java.lang.Byte => b.toString
    case i: BigInt => i.toString
    case f: java.lang.Float => canonDouble(f.toDouble, digits)
    case d: java.lang.Double => canonDouble(d, digits)
    case d: java.math.BigDecimal =>
      if (digits > 0) canonDouble(d.doubleValue, digits) else d.stripTrailingZeros().toPlainString
    case d: BigDecimal => canon(d.bigDecimal, digits)
    case t: java.time.LocalDateTime =>
      "t" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case t: java.sql.Timestamp =>
      "t" + (t.getTime / 1000 * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case s: String if Iso.findFirstIn(s).isDefined =>
      if (s.endsWith("Z")) canon(java.time.Instant.parse(s), digits)
      else canon(java.time.LocalDateTime.parse(s), digits)
    case other => other.toString
  }
  private def canonDouble(d: Double, digits: Int): String =
    if (digits <= 0) java.lang.Double.toString(d)
    else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, s"%.${digits}g", Double.box(d))

  def rowHash(row: Seq[Any], digits: Int = 0): Long = {
    val s = row.map(canon(_, digits)).mkString("\u0001")
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }

  /** (row count, order-insensitive hash) of a row collection. */
  final case class Summary(rows: Long, hash: Long) {
    def +(r: Seq[Any], digits: Int = 0): Summary = Summary(rows + 1, hash + rowHash(r, digits))
  }
  val Empty: Summary = Summary(0, 0)
  def of(rows: Iterator[Seq[Any]], digits: Int = 0): Summary =
    rows.foldLeft(Empty)((s, r) => s + (r, digits))
}

/** One page as the client decoded it. */
final case class Page(rows: IndexedSeq[Seq[Any]], next: Option[(Int, Long)])

/** Newline-delimited JSON client of `graft.service.QueryServer`: one
  * connection, one request in flight (a closed-loop client). */
final class WireClient(port: Int) extends AutoCloseable {
  private implicit val fmts: Formats = DefaultFormats
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
  private val out: OutputStream = sock.getOutputStream
  private val alloc = new RootAllocator(Long.MaxValue)

  private def send(fields: (String, JValue)*): Unit = {
    out.write((JsonMethods.compact(JsonMethods.render(JObject(fields.toList))) + "\n")
      .getBytes(StandardCharsets.UTF_8))
    out.flush()
  }
  private def recv(): JValue = {
    val line = in.readLine()
    if (line == null) throw new java.io.IOException("server closed the connection")
    JsonMethods.parse(line)
  }

  /** run_query then watch_query; blocks until the pushed terminal
    * update. Returns (query id, None) on completion or the error text. */
  def run(sql: String): (String, Option[String]) = {
    send("type" -> JString("run_query"), "query" -> JString(sql))
    val r = recv()
    val id = (r \ "query_id").extractOpt[String].getOrElse(
      throw new IllegalStateException(s"run_query rejected: ${JsonMethods.compact(r)}"))
    send("type" -> JString("watch_query"), "query_id" -> JString(id))
    val ack = recv()
    require((ack \ "type").extractOpt[String].contains("watch_query_resp"), s"watch: $ack")
    val upd = recv()
    (upd \ "status").extractOpt[String] match {
      case Some("complete") => (id, None)
      case other => (id, Some((upd \ "message").extractOpt[String].getOrElse(other.toString)))
    }
  }

  def page(id: String, cursor: (Int, Long), limit: Int, arrow: Boolean): Page = {
    val base = List[(String, JValue)]("type" -> JString("get_query_data"),
      "query_id" -> JString(id), "file_idx" -> JInt(cursor._1),
      "file_row_group_idx" -> JInt(0), "row_idx" -> JInt(BigInt(cursor._2)),
      "limit" -> JInt(limit), "forward" -> JBool(true), "allow_overflow" -> JBool(true))
    send((if (arrow) base :+ ("format" -> JString("arrow")) else base): _*)
    val r = recv()
    if ((r \ "type").extractOpt[String].contains("error"))
      throw new IllegalStateException(s"get_query_data: ${(r \ "message").extractOpt[String]}")
    val rows =
      if (arrow) decodeArrow(java.util.Base64.getDecoder.decode((r \ "arrow_ipc").extract[String]))
      else (r \ "rows") match {
        case JArray(rs) => rs.map {
          case JArray(vs) => vs.map(jsonValue)
          case other => throw new IllegalStateException(s"bad row $other")
        }.toIndexedSeq
        case _ => IndexedSeq.empty
      }
    val next = (r \ "next") match {
      case o: JObject => Some(((o \ "file_idx").extract[Int], (o \ "row_idx").extract[Long]))
      case _ => None
    }
    Page(rows, next)
  }

  private def jsonValue(v: JValue): Any = v match {
    case JNull | JNothing => null
    case JBool(b) => java.lang.Boolean.valueOf(b)
    case JInt(i) => java.lang.Long.valueOf(i.toLong)
    case JLong(l) => java.lang.Long.valueOf(l)
    case JDouble(d) => java.lang.Double.valueOf(d)
    case JDecimal(d) => d.bigDecimal
    case JString(s) => s
    case other => JsonMethods.compact(other)
  }

  private def decodeArrow(bytes: Array[Byte]): IndexedSeq[Seq[Any]] = {
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val out = IndexedSeq.newBuilder[Seq[Any]]
      while (reader.loadNextBatch()) {
        val vecs = root.getFieldVectors
        val n = root.getRowCount
        var i = 0
        while (i < n) {
          out += (0 until vecs.size()).map(c => arrowValue(vecs.get(c), i))
          i += 1
        }
      }
      out.result()
    } finally reader.close()
  }

  private def arrowValue(v: FieldVector, i: Int): Any =
    if (v.isNull(i)) null
    else v match {
      case x: IntVector => java.lang.Long.valueOf(x.get(i).toLong)
      case x: BigIntVector => java.lang.Long.valueOf(x.get(i))
      case x: SmallIntVector => java.lang.Long.valueOf(x.get(i).toLong)
      case x: TinyIntVector => java.lang.Long.valueOf(x.get(i).toLong)
      case x: Float4Vector => java.lang.Double.valueOf(x.get(i).toDouble)
      case x: Float8Vector => java.lang.Double.valueOf(x.get(i))
      case x: BitVector => java.lang.Boolean.valueOf(x.get(i) == 1)
      case x: VarCharVector => new String(x.get(i), StandardCharsets.UTF_8)
      case x: TimeStampMicroTZVector => java.time.Instant.EPOCH.plusNanos(x.get(i) * 1000)
      case x: TimeStampMicroVector => java.time.Instant.EPOCH.plusNanos(x.get(i) * 1000)
      case other => other.getObject(i)
    }

  override def close(): Unit = { sock.close(); alloc.close() }
}

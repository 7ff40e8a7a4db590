package graft.tui

import graft.service.{QueryService, QueryStatus, ResultCursor, ResultReader}
import org.apache.spark.sql.Row

/** Key events the TUI reacts to — the reference client binds exactly
  * q / e / Up / Down / Tab (/root/reference/src/bin/client_tui.rs:505-523). */
sealed trait Key
object Key {
  case object Up extends Key
  case object Down extends Key
  case object Tab extends Key
  final case class Char(c: scala.Char) extends Key

  /** Decode a raw terminal byte chunk into key events: CSI arrow
    * sequences (ESC [ A / ESC [ B), TAB, printable characters.
    * Carriage returns / newlines are ignored so the client still works
    * on a canonical-mode (line-buffered) terminal — each key followed
    * by Enter. j/k aliases cover terminals that swallow arrow CSI. */
  def decode(bytes: Array[Byte]): Seq[Key] = {
    val out = Seq.newBuilder[Key]
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b == 0x1b && i + 2 < bytes.length && bytes(i + 1) == '[') {
        bytes(i + 2) match {
          case 'A' => out += Up
          case 'B' => out += Down
          case _ => ()
        }
        i += 3
      } else {
        b match {
          case '\t' => out += Tab
          case 'k' => out += Up
          case 'j' => out += Down
          case '\r' | '\n' => ()
          case c if c >= 0x20 && c < 0x7f => out += Char(c.toChar)
          case _ => ()
        }
        i += 1
      }
    }
    out.result()
  }

  /** Decode a raw chunk that may END mid-CSI-sequence (a read
    * boundary can split ESC [ A across two reads): returns the decoded
    * keys plus the undecoded trailing partial sequence, which the
    * caller prepends to the next chunk. */
  def decodeChunk(bytes: Array[Byte]): (Seq[Key], Array[Byte]) = {
    val tail =
      if (bytes.nonEmpty && (bytes.last & 0xff) == 0x1b) 1
      else if (bytes.length >= 2 && (bytes(bytes.length - 2) & 0xff) == 0x1b &&
        bytes.last == '[') 2
      else 0
    (decode(bytes.dropRight(tail)), bytes.takeRight(tail))
  }
}

/** Interactive results browser over [[QueryService]] — the Spark-side
  * counterpart of the reference's ratatui client
  * (/root/reference/src/bin/client_tui.rs): a query table listing each
  * statement of the script with a live status icon, above a record
  * table showing a window of the selected query's rows.
  *
  * Interaction model is a faithful mirror of
  * client_tui.rs:505-523 / 832-880:
  *   - Up/Down in the query pane move the selection, wrapping at both
  *     ends (next_row/previous_row wrap via `i >= size-1 → 0`);
  *   - Up/Down in the data pane page the visible window backward /
  *     forward through the materialized result (next_data_page /
  *     previous_data_page over the bidirectional cursor — graft's
  *     [[ResultReader]] pages by parquet-footer arithmetic, zero Spark
  *     jobs, so browsing a 100-TB result costs the same per page as a
  *     100-row one);
  *   - Tab switches panes, `e` toggles the error panel, `q` quits.
  *
  * All state transitions and rendering are pure JVM (no terminal, no
  * Spark jobs), so TuiSpec drives the full interaction headlessly; the
  * terminal loop in [[graft.Cli]] is a thin shell around
  * `onKey`/`render`. */
final class TuiApp(
    svc: QueryService,
    statements: Seq[String],
    ids: Seq[String],
    pageSize: Int = 10) {
  require(statements.length == ids.length, "one id per statement")

  sealed trait Pane
  case object QueriesPane extends Pane
  case object DataPane extends Pane

  /** Visible window into one query's result: global row offset of the
    * first visible row plus the materialized rows. */
  private final case class Window(start: Long, rows: Seq[Row], cols: Seq[String], total: Long)

  var selected: Int = 0
  var pane: Pane = QueriesPane
  var showErrs: Boolean = false
  var showMetrics: Boolean = false
  var exited: Boolean = false

  private val readers = new Array[ResultReader](ids.length)
  private val windows = new Array[Window](ids.length)

  def status(i: Int): Option[QueryStatus] = svc.status(ids(i))

  def statusIcon(i: Int): String = status(i) match {
    case Some(QueryStatus.Complete) => "OK "
    case Some(QueryStatus.Error(_)) => "ERR"
    case Some(QueryStatus.Cancelled) => "CAN"
    case Some(QueryStatus.Running) => "RUN"
    case _ => "..."
  }

  private def readerFor(i: Int): Option[ResultReader] =
    status(i) match {
      case Some(QueryStatus.Complete) =>
        if (readers(i) == null) readers(i) = svc.reader(ids(i))
        Some(readers(i))
      case _ => None
    }

  /** Rows currently visible for query `i` (loads the first page on
    * demand once the query completes). */
  def window(i: Int): Option[(Long, Seq[Row], Seq[String], Long)] = {
    if (ids.isEmpty) return None
    if (windows(i) == null) readerFor(i).foreach { r =>
      val page = r.read(ResultCursor(0, 0), pageSize)
      windows(i) = Window(0, page.rows, r.schema.fieldNames.toSeq, r.totalRows)
    }
    Option(windows(i)).map(w => (w.start, w.rows, w.cols, w.total))
  }

  def onKey(k: Key): Unit = k match {
    case Key.Char('q') => exited = true
    case Key.Char('e') => showErrs = !showErrs
    case Key.Char('m') => showMetrics = !showMetrics
    case Key.Tab => pane = if (pane == QueriesPane) DataPane else QueriesPane
    case Key.Up if statements.nonEmpty =>
      pane match {
        case QueriesPane =>
          selected = if (selected == 0) statements.length - 1 else selected - 1
        case DataPane => pageBackward()
      }
    case Key.Down if statements.nonEmpty =>
      pane match {
        case QueriesPane =>
          selected = if (selected >= statements.length - 1) 0 else selected + 1
        case DataPane => pageForward()
      }
    case _ => ()
  }

  private def pageForward(): Unit = {
    window(selected).foreach { case (start, rows, cols, total) =>
      val end = start + rows.length
      if (end < total) readerFor(selected).foreach { r =>
        // ResultCursor(0, g) addresses global row g: toGlobal folds the
        // file-0 prefix (empty) plus rowIdx, and read() re-normalizes.
        val page = r.read(ResultCursor(0, end), pageSize)
        if (page.rows.nonEmpty) windows(selected) = Window(end, page.rows, cols, total)
      }
    }
  }

  private def pageBackward(): Unit = {
    window(selected).foreach { case (start, _, cols, total) =>
      if (start > 0) readerFor(selected).foreach { r =>
        val page = r.read(ResultCursor(0, start), pageSize, forward = false)
        val newStart = math.max(0L, start - pageSize)
        if (page.rows.nonEmpty) windows(selected) = Window(newStart, page.rows, cols, total)
      }
    }
  }

  private def fmt(v: Any): String = if (v == null) "NULL" else v.toString

  private def trunc(s: String, n: Int): String =
    if (s.length <= n) s else s.substring(0, n - 1) + "…"

  /** Render one full frame as plain text (the Cli loop clears the
    * screen and reprints; specs assert on the string). */
  def render(width: Int = 100): String = {
    val sb = new StringBuilder
    val done = ids.indices.count(i => status(i) match {
      case Some(QueryStatus.Complete) | Some(QueryStatus.Error(_)) |
           Some(QueryStatus.Cancelled) => true
      case _ => false
    })
    val qMark = if (pane == QueriesPane) "*" else " "
    val adm = svc.admissionStats
    sb.append(s"$qMark Queries ($done/${ids.length} done" +
      s" | ${adm.queued} queued/${adm.running} running of ${adm.slots} slot" +
      s"${if (adm.slots == 1) "" else "s"}) ").append("-" * 20).append('\n')
    statements.indices.foreach { i =>
      val sel = if (i == selected) ">" else " "
      val st = status(i).map {
        case QueryStatus.Error(_) => "Error"
        case s => s.toString
      }.getOrElse("Queued")
      sb.append(f"$sel [${statusIcon(i)}] $st%-8s ${trunc(statements(i).replaceAll("\\s+", " "), width - 20)}%n")
      if (showErrs) status(i) match {
        case Some(QueryStatus.Error(msg)) =>
          sb.append("      ").append(trunc(String.valueOf(msg).replaceAll("\\s+", " "), width - 8)).append('\n')
        case _ => ()
      }
    }
    val dMark = if (pane == DataPane) "*" else " "
    window(selected) match {
      case Some((start, rows, cols, total)) =>
        val lo = if (total == 0) 0 else start + 1
        sb.append(s"$dMark Data: query $selected, rows $lo-${start + rows.length} of $total ")
          .append("-" * 10).append('\n')
        val cells = rows.map(_.toSeq.map(fmt))
        val widths = cols.zipWithIndex.map { case (c, j) =>
          math.min(24, (c.length +: cells.map(_(j).length)).max)
        }
        def line(vs: Seq[String]): String =
          vs.zip(widths).map { case (v, w) => trunc(v, w).padTo(w, ' ') }.mkString(" | ")
        sb.append("  ").append(line(cols)).append('\n')
        sb.append("  ").append(line(widths.map("-" * _))).append('\n')
        cells.foreach(r => sb.append("  ").append(line(r)).append('\n'))
      case None =>
        sb.append(s"$dMark Data: query $selected ").append("-" * 10).append('\n')
        sb.append("  (no result yet)").append('\n')
    }
    if (showMetrics) {
      svc.metrics(ids(selected)) match {
        case Some(m) =>
          sb.append(s"  metrics: scan ${m.inputRows} rows/${m.inputBytes} B" +
            s" | shuffle r/w ${m.shuffleReadBytes}/${m.shuffleWriteBytes} B" +
            s" | spill ${m.memorySpillBytes + m.diskSpillBytes} B" +
            s" | ${m.executorRunTimeMs} ms exec / ${m.wallTimeMs} ms wall" +
            s" / ${m.queueWaitMs} ms queued").append('\n')
        case None => sb.append("  metrics: (none yet)").append('\n')
      }
    }
    sb.append("keys: up/down(k/j) move | tab pane | e errors | m metrics | q quit").append('\n')
    sb.result()
  }
}

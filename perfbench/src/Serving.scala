package perfbench

import graft.service.{ArrowPage, QueryServer, QueryService, ResultCursor, ResultReader}
import graft.sources.ReadFiles
import org.apache.spark.sql.SparkSession

import java.util.Locale
import scala.collection.mutable

/** A served statement whose answer the benchmark can derive itself. */
final case class Stmt(sql: String, expected: () => Canon.Summary, digits: Int = 0,
                      firstPageOnly: Boolean = false)

final case class ServedUnit(unit: String, stmt: Int, qid: String, startNs: Long,
                            doneNs: Long, firstPageNs: Long, pagesMs: Seq[Double],
                            rows: Long, got: Canon.Summary, error: Option[String]) {
  def stmtS: Double = (doneNs - startNs) / 1e9
}

/** The served path: an in-process `QueryService` behind a loopback
  * `QueryServer`, and closed-loop clients speaking its wire protocol. */
final class Served(ctx: Ctx) {
  val svc = new QueryService(ctx.spark, ctx.dir("results"))
  val server = new QueryServer(svc, 0)
  /** Planning session shaped like the service's own (join reorder on),
    * for in-process expectations and the direct replay. */
  val sqlSession: SparkSession = {
    val s = ctx.spark.newSession()
    graft.Engine.tune(s)
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s
  }
  def client(): WireClient = new WireClient(server.boundPort)
  def close(): Unit = { server.close(); svc.close() }

  /** Run one statement and page its result (first page only when the
    * statement says so), alternating JSON and Arrow pages. */
  def runOne(c: WireClient, unit: String, idx: Int, stmt: Stmt, pageSize: Int,
             arrowFirst: Boolean): ServedUnit = {
    val t0 = System.nanoTime()
    val (qid, err) =
      try ctx.tracer.span("client.stmt", unit)(c.run(stmt.sql))
      catch { case e: Exception => ("", Some(String.valueOf(e.getMessage))) }
    val tDone = System.nanoTime()
    if (err.isDefined) return ServedUnit(unit, idx, qid, t0, tDone, tDone, Nil, 0, Canon.Empty, err)
    var cursor: Option[(Int, Long)] = Some((0, 0L))
    var sum = Canon.Empty
    var first = -1L
    val pages = mutable.ArrayBuffer.empty[Double]
    var arrow = arrowFirst
    try {
      while (cursor.isDefined) {
        val p0 = System.nanoTime()
        val page = ctx.tracer.span("client.page", unit)(c.page(qid, cursor.get, pageSize, arrow))
        page.rows.foreach(r => sum = sum + (r, stmt.digits))
        val p1 = System.nanoTime()
        if (first < 0) first = p1 else pages += (p1 - p0) / 1e6
        cursor = if (stmt.firstPageOnly) None else page.next
        arrow = !arrow
      }
      ServedUnit(unit, idx, qid, t0, tDone, first, pages.toSeq, sum.rows, sum, None)
    } catch {
      case e: Exception =>
        ServedUnit(unit, idx, qid, t0, tDone, tDone, pages.toSeq, sum.rows, sum,
          Some("paging: " + e.getMessage))
    }
  }

  /** Closed loop over `clients` connections for `seconds`: each client
    * sends its k-th statement `plan(client, k)` = (statement index, page
    * size, arrow first) only after the previous reply. Returns the
    * units and the wall from start until the last client stopped. */
  def loop(pool: IndexedSeq[Stmt], clients: Int, seconds: Double, tag: String)(
      plan: (Int, Int) => (Int, Int, Boolean)): (Seq[ServedUnit], Double) = {
    val units = new java.util.concurrent.ConcurrentLinkedQueue[ServedUnit]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val wc = client()
        try {
          var k = 0
          while (System.nanoTime() < deadline) {
            val (i, ps, arrow) = plan(c, k)
            units.add(runOne(wc, s"$tag-c$c-$k", i, pool(i), ps, arrow))
            k += 1
          }
        } finally wc.close()
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    ctx.log(s"loop $tag: ${units.size} units")
    (scala.jdk.CollectionConverters.CollectionHasAsScala(units).asScala.toSeq,
      (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed warmup: `clients` connections run every statement of
    * `pool` once between them, reading only the first page. */
  def warm(pool: IndexedSeq[Stmt], clients: Int, pageSize: Int): Unit = {
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val wc = client()
        try (c until pool.size by clients).foreach(i =>
          runOne(wc, s"warm-$i", i, pool(i).copy(firstPageOnly = true), pageSize, i % 2 == 0))
        finally wc.close()
      }, s"perfbench-warm-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** End-to-end metrics of a served phase. */
  def report(units: Seq[ServedUnit], wall: Double): Unit = {
    val ok = units.filter(_.error.isEmpty)
    ctx.e2e("stmt_p50_s") = (Stats.median(units.map(_.stmtS)), "s")
    ctx.e2e("stmt_p90_s") = (Stats.quantile(units.map(_.stmtS), 0.9), "s")
    ctx.e2e("stmt_per_s") = (units.size / wall, "1/s")
    ctx.e2e("first_page_p50_s") = (Stats.median(ok.map(u => (u.firstPageNs - u.startNs) / 1e9)), "s")
    ctx.e2e("page_p50_ms") = (Stats.median(ok.flatMap(_.pagesMs)), "ms")
    ctx.e2e("rows_per_s") = (ok.map(_.rows).sum / wall, "rows/s")
  }

  /** Answer checks: every unit counts as attempted; errors and
    * mismatches count as failed. */
  def check(pool: IndexedSeq[Stmt], units: Seq[ServedUnit]): Unit = {
    // each distinct statement's answer once, in parallel
    val ids = units.filter(_.error.isEmpty).map(_.stmt).distinct.toArray
    val expected = new java.util.concurrent.ConcurrentHashMap[Int, Canon.Summary]()
    java.util.stream.IntStream.range(0, ids.length).parallel()
      .forEach(i => expected.put(ids(i), pool(ids(i)).expected()))
    units.foreach { u =>
      ctx.attempted += 1
      u.error match {
        case Some(e) => ctx.fail(s"${u.unit}: ${pool(u.stmt).sql.take(120)}: $e")
        case None =>
          val want = expected.get(u.stmt)
          if (want != u.got)
            ctx.fail(s"${u.unit}: ${pool(u.stmt).sql.take(160)}: got ${u.got}, want $want")
      }
    }
  }

  /** Traced per-unit layers of the served path: engine rollup by job
    * group (= query id) and the service's own queue/run split. */
  def servedLayers(units: Seq[ServedUnit]): Unit = {
    ctx.listener.foreach(_.drain())
    val ok = units.filter(_.error.isEmpty)
    ctx.engineLayers(ok.map(u => ctx.engineOf(u.qid, u.stmtS)))
    val ms = ok.flatMap(u => svc.metrics(u.qid))
    ctx.layers("service.queue_wait_s") = (Stats.median(ms.map(_.queueWaitMs / 1e3)), "s")
    ctx.layers("service.run_s") = (Stats.median(ms.map(_.wallTimeMs / 1e3)), "s")
  }

  /** Single-client direct replay of `stmts` = (statement, page size,
    * arrow) through the layers the service composes: `ReadFiles.sql`,
    * `executedPlan`, the result `write.parquet`, `ResultReader` and
    * `ArrowPage` (or JSON rendering), each inside its own span. */
  def replay(pool: IndexedSeq[Stmt], stmts: Seq[(Int, Int, Boolean)],
             served: Seq[ServedUnit]): Unit = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.tracer
    val s = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = s.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val direct = mutable.Map.empty[Int, Double]
    stmts.zipWithIndex.foreach { case ((i, ps, arrowFirst), j) =>
      val unit = s"replay-$j"
      val out = ctx.dir(s"replay/$j")
      val lists0 = CountingLocalFS.lists.get()
      sc.setJobGroup(s"$unit/analyze", "perfbench replay", false)
      val df = tr.span("sources.analyze", unit)(ReadFiles.sql(sqlSession, pool(i).sql))
      sc.setJobGroup(s"$unit/plan", "perfbench replay", false)
      tr.span("sources.plan", unit)(df.queryExecution.executedPlan)
      add("sources.fs_list_ops", (CountingLocalFS.lists.get() - lists0).toDouble)
      sc.setJobGroup(s"$unit/write", "perfbench replay", false)
      tr.span("service.write", unit)(df.write.mode("overwrite").parquet(out))
      sc.clearJobGroup()
      val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
      val reader = tr.span("service.reader_open", unit) {
        val r = new ResultReader(ctx.spark, out); r.rowGroupRowCounts; r
      }
      val schema = tr.span("service.schema", unit)(reader.asDataFrame.schema)
      add("service.result_files", files.length.toDouble)
      if (reader.totalRows > 0)
        add("service.result_bytes_per_row", files.map(_.length).sum.toDouble / reader.totalRows)
      // global row offsets of every row group, for the decoded-rows ratio
      val groups = reader.rowGroupRowCounts.flatten
      val groupStarts = groups.scanLeft(0L)(_ + _)
      var cursor: Option[ResultCursor] = Some(ResultCursor(0, 0))
      var at = 0L
      var arrow = arrowFirst
      while (cursor.isDefined) {
        val ops0 = CountingLocalFS.readOps
        val b0 = FsBytes.read
        val page = tr.span("service.page_read", unit)(reader.read(cursor.get, ps))
        add("service.page_fs_read_ops", (CountingLocalFS.readOps - ops0).toDouble)
        add("service.page_fs_bytes_read", (FsBytes.read - b0).toDouble)
        val n = page.rows.size
        if (n > 0) {
          val touched = groups.indices.filter(g =>
            groupStarts(g) < at + n && groupStarts(g + 1) > at).map(groups(_)).sum
          add("service.page_rows_decoded_per_row", touched.toDouble / n)
        }
        tr.span("service.page_encode", unit) {
          if (arrow) ArrowPage.serialize(schema, page.rows).length
          else Served.renderJson(page.rows).length
        }
        at += n
        cursor = if (pool(i).firstPageOnly) None else page.next
        arrow = !arrow
      }
      direct(i) = Seq("sources.analyze", "sources.plan", "service.write")
        .map(n => tr.byUnit(n).get(unit).map(_.seconds).getOrElse(0.0)).sum
    }
    ctx.listener.foreach(_.drain())
    val l = ctx.listener.get
    stmts.indices.foreach { j =>
      val unit = s"replay-$j"
      val a = tr.byUnit("sources.analyze")(unit)
      val aJobs = l.jobIntervals(s"$unit/analyze")
      add("sources.analyze_jobs", aJobs.size.toDouble)
      add("sources.analyze_job_s", Stats.unionLength(aJobs) / 1e3)
      val w = tr.byUnit("service.write")(unit)
      add("service.commit_s", math.max(0.0, w.seconds - Stats.unionLength(l.jobIntervals(s"$unit/write")) / 1e3))
      val scan = l.unit(s"$unit/write", w.seconds)
      val rows = new ResultReader(ctx.spark, ctx.dir(s"replay/$j")).totalRows
      if (rows > 0) add("sources.rows_in_per_row_out", scan("scan.input_rows") / rows)
      add("sources.bytes_in", scan("scan.input_bytes"))
      add("sources.analyze_s", a.seconds)
    }
    Seq("sources.plan" -> "sources.plan_s", "service.write" -> "service.write_s")
      .foreach { case (span, k) => tr.seconds(span).foreach(add(k, _)) }
    Seq("service.reader_open" -> "service.reader_open_ms", "service.schema" -> "service.schema_ms",
      "service.page_read" -> "service.page_read_ms", "service.page_encode" -> "service.page_encode_ms")
      .foreach { case (span, k) => tr.seconds(span).foreach(v => add(k, v * 1e3)) }
    // served latency minus the direct spans of the same statement
    val servedBy = served.filter(_.error.isEmpty).groupBy(_.stmt)
    direct.foreach { case (i, d) =>
      servedBy.get(i).foreach(us => add("service.overhead_s", Stats.median(us.map(_.stmtS)) - d))
    }
    val units = Map("count" -> Set("sources.analyze_jobs", "sources.fs_list_ops", "service.result_files",
      "service.page_fs_read_ops"), "bytes" -> Set("sources.bytes_in", "service.page_fs_bytes_read",
      "service.result_bytes_per_row"), "ratio" -> Set("sources.rows_in_per_row_out",
      "service.page_rows_decoded_per_row"))
    s.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val u = units.collectFirst { case (u, ks) if ks(k) => u }
        .getOrElse(if (k.endsWith("_ms")) "ms" else "s")
      ctx.layers(k) = (Stats.median(xs.toSeq), u)
    }
  }
}

object Served {
  /** JSON row rendering equivalent to the server's page encoding. */
  def renderJson(rows: Seq[org.apache.spark.sql.Row]): String = {
    import org.json4s._
    def v(x: Any): JValue = x match {
      case null => JNull
      case b: Boolean => JBool(b)
      case i: Int => JInt(i)
      case l: Long => JInt(l)
      case f: Float => JDouble(f.toDouble)
      case d: Double => JDouble(d)
      case s: String => JString(s)
      case t: java.sql.Timestamp => JString(t.toInstant.toString)
      case o => JString(String.valueOf(o))
    }
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      JArray(rows.map(r => JArray((0 until r.length).map(i => v(r.get(i))).toList)).toList)))
  }

  def sci(x: Double): String = String.format(Locale.ROOT, "%.17E", Double.box(x))

  /** Build `n` generated rows in parallel (for in-process answers). */
  def materialize[A: scala.reflect.ClassTag](n: Int)(row: Int => A): Array[A] = {
    val out = new Array[A](n)
    val chunks = 8
    val threads = (0 until chunks).map { c =>
      val t = new Thread(() => {
        var i = c * n / chunks
        val end = (c + 1) * n / chunks
        while (i < end) { out(i) = row(i); i += 1 }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    out
  }
}

/** `serve_reference`: the reference's own surface, served. read_files +
  * WHERE + projection over the reference-shaped `huge_simple` (1M rows,
  * 100 files) and sf0.1-shaped lineitem; four clients page every result. */
final class ServeReference(ctx: Ctx) {
  // nproc − 1 clients: with one per core the service's own threads
  // queue behind them and latency swings with small capacity changes
  private val Clients = 3
  private val PoolSize = 16
  private val PageSizes = IndexedSeq(10000, 20000, 50000, 100000)
  private val seed = ctx.seed

  def run(sessionS: Double): Unit = {
    val spark = ctx.spark
    val huge = HugeSimple(seed)
    val tables = Tables(seed, 0.1)
    val (genS, (hugeDir, sfDir)) = ctx.repeatSetup(3) { r =>
      val h = ctx.dir(s"ref$r/huge")
      huge.write(spark, h)
      val sf = ctx.dir(s"ref$r/sf")
      tables.writeAll(spark, sf, Seq("lineitem"))
      (h, sf)
    }
    (0 until 2).foreach(r => org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(ctx.work, s"ref$r")))
    lazy val hugeRows = Served.materialize(huge.n)(huge.row)
    lazy val lineRows = Served.materialize(tables.nLineitem.toInt)(i => tables.lineitem(i.toLong))
    val pool = statements(huge, s"$hugeDir/*.parquet", tables, s"$sfDir/lineitem.parquet",
      () => hugeRows, () => lineRows)
    val served = new Served(ctx)
    try {
      // the clients' k-th statements together take the next positions
      // of one walk through the pool (stride coprime to its size, seeded
      // start), so any window of the run keeps the pool's mix and each
      // client reads huge_simple every fourth statement. Page size is
      // fixed per statement; pages alternate JSON and Arrow.
      val start = Rng.below(seed, 300, 0, PoolSize)
      def plan(c: Int, k: Int) = {
        val n = k * Clients + (c + k) % Clients
        val j = ((n * 13 + start) % PoolSize).toInt
        (j, PageSizes((j + j / 4) % PageSizes.size), (c + k) % 2 == 1)
      }
      // warmup: every pool statement once (first page only), so the
      // statements' generated code is compiled before the timed window
      val w0 = System.nanoTime()
      served.warm(pool, Clients, PageSizes.head)
      ctx.e2e("setup_s") = (sessionS + genS + (System.nanoTime() - w0) / 1e9, "s")
      val (units, wall) = served.loop(pool, Clients, ctx.seconds, "u")(plan)
      served.report(units, wall)
      ctx.e2e("heap_retained_mb") = (Main.heapRetainedMb(), "MB")
      val all = mutable.ArrayBuffer.from(units)
      if (ctx.trace) {
        ctx.startTracing()
        val (traced, _) = served.loop(pool, Clients, ctx.seconds, "t")(plan)
        all ++= traced
        served.servedLayers(traced)
        ctx.layers("trace.overhead_s") =
          (Stats.median(traced.map(_.stmtS)) - Stats.median(units.map(_.stmtS)), "s")
        val firsts = (0 until 12).map(k => plan(0, k)).distinctBy(_._1).take(8)
        served.replay(pool, firsts, traced)
      }
      served.check(pool, all.toSeq)
    } finally served.close()
  }

  /** The seeded statement pool: a quarter over `huge_simple`, the rest
    * over lineitem; four predicate templates per table crossed with the
    * projections, and result sizes stratified over 1 to ~10^5 rows
    * (the seed jitters each statement inside its stratum, so every seed
    * draws the same mix of sizes). */
  private def statements(h: HugeSimple, hugeGlob: String, t: Tables, liPath: String,
                         hugeRows: () => Array[HugeRow], lineRows: () => Array[LineRow]): IndexedSeq[Stmt] =
    (0 until PoolSize).map { j =>
      // one statement in four reads huge_simple: its 100-file scans run
      // ~3x longer than lineitem's, and an even split would put the
      // median on the gap between the two latency modes
      val huge = j % 4 == 0
      val (m, strata) = if (huge) (j / 4, PoolSize / 4) else (j - j / 4 - 1, PoolSize - PoolSize / 4)
      val kind = m % 4
      val u = ((m * 5) % strata + Rng.unit(seed, 511, j)) / strata
      if (huge) {
        val (where, pred): (String, HugeRow => Boolean) = kind match {
          case 0 =>
            val a = Rng.below(seed, 510, j, h.n.toLong)
            val w = math.max(1L, math.round(math.pow(10, 5 * u)))
            (s"id >= $a and id < ${a + w}", r => r.id >= a && r.id < a + w)
          case 1 =>
            val x = math.pow(10, -6 + 5 * u)
            (s"value2 < ${Served.sci(x)}", r => r.value2.toDouble < x)
          case 2 =>
            val p = (0 until 3 - math.min(2, (u * 3).toInt))
              .map(c => ('a' + Rng.below(seed, 513, j * 8 + c, 26)).toChar).mkString
            (s"value1 like '$p%'", r => r.value1.startsWith(p))
          case _ =>
            val x = math.round(math.pow(10, 0.5 + 4.8 * u))
            (s"id < $x and value2 > 5.0E-1", r => r.id < x && r.value2.toDouble > 0.5)
        }
        val (proj, f): (String, HugeRow => Seq[Any]) = (m + m / 4) % 4 match {
          case 0 => ("*", r => Seq[Any](r.id, r.value1, r.value2))
          case 1 => ("id, value1", r => Seq[Any](r.id, r.value1))
          case 2 => ("id, id + 10 as id_plus_10, value2 * 2 as v2x2, id % 7 = 3 as is3",
            r => Seq[Any](r.id, r.id + 10, r.value2 * 2, r.id % 7 == 3))
          case _ => ("value1, (value2 > 5.0E-1) and (id % 2 = 0) as flag, -id as neg_id",
            r => Seq[Any](r.value1, r.value2.toDouble > 0.5 && r.id % 2 == 0, -r.id))
        }
        Stmt(s"select $proj from read_files('$hugeGlob') where $where",
          () => Canon.of(hugeRows().iterator.filter(pred).map(f)))
      } else {
        val (where, pred): (String, LineRow => Boolean) = kind match {
          case 0 =>
            val x = math.round(math.pow(10, 0.3 + 4.1 * u))
            (s"l_orderkey < $x", r => r.l_orderkey < x)
          case 1 =>
            val q = math.max(1L, math.round(50 * math.pow(10, -2 + 2 * u)))
            val d = Rng.below(seed, 521, j, 11) / 100.0
            (s"l_quantity <= $q and l_discount = ${Served.sci(d)}",
              r => r.l_quantity <= q.toDouble && r.l_discount == d)
          case 2 =>
            val p = math.round((105000 - 104100 * math.pow(10, -5 + 4.7 * u)) * 100) / 100.0
            (s"l_returnflag = 'R' and l_extendedprice > ${Served.sci(p)}",
              r => r.l_returnflag == "R" && r.l_extendedprice > p)
          case _ =>
            val s = math.ceil(math.pow(10, 2.2 * u)).toLong
            (s"l_suppkey < $s", r => r.l_suppkey < s)
        }
        val (proj, f): (String, LineRow => Seq[Any]) = (m / 4) % 3 match {
          case 0 => ("*", r => Seq[Any](r.l_orderkey, r.l_partkey, r.l_suppkey, r.l_linenumber,
            r.l_quantity, r.l_extendedprice, r.l_discount, r.l_tax, r.l_returnflag,
            r.l_linestatus, r.l_shipdate))
          case 1 => ("l_orderkey, l_extendedprice * (1 - l_discount) as disc_price, " +
            "l_quantity > 25 as big, l_returnflag",
            r => Seq[Any](r.l_orderkey, r.l_extendedprice * (1.0 - r.l_discount), r.l_quantity > 25.0,
              r.l_returnflag))
          case _ => ("l_orderkey, l_partkey, l_tax + l_discount as td",
            r => Seq[Any](r.l_orderkey, r.l_partkey, r.l_tax + r.l_discount))
        }
        Stmt(s"select $proj from read_files('$liPath') where $where",
          () => Canon.of(lineRows().iterator.filter(pred).map(f)))
      }
    }
}

package perfbench

import graft.pipeline.{BenchProbes, CorpusStore, Embeddings, TextDedup, TextIndex}
import graft.sources.ReadFiles
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** Corpus fixtures shared by the curation-shaped workloads: the
  * generated documents/embeddings and the persisted text index, IVF
  * index, band index and corpus store built from them. */
final case class Corpus(sfDir: String, textIdx: String, ivfIdx: String, bandIdx: String,
                        store: String) {
  def docs: String = s"$sfDir/documents.parquet"
  def emb: String = s"$sfDir/embeddings.parquet"
}

object Corpus {
  def build(ctx: Ctx, tables: Tables, root: String, ivf: Boolean, band: Boolean): Corpus = {
    val spark = ctx.spark
    val sf = ctx.dir(s"$root/sf")
    tables.writeAll(spark, sf, Seq("documents") ++ (if (ivf) Seq("embeddings") else Nil))
    val c = Corpus(sf, ctx.dir(s"$root/text_idx"), ctx.dir(s"$root/ivf_idx"),
      ctx.dir(s"$root/band_idx"), ctx.dir(s"$root/store"))
    val docs = spark.read.parquet(c.docs).select("doc_id", "text")
    TextIndex.write(docs, c.textIdx, buckets = 16)
    CorpusStore.write(docs, c.store, buckets = 16)
    if (ivf) Embeddings.writeIvfIndex(spark.read.parquet(c.emb), c.ivfIdx)
    if (band) TextDedup.writeBandIndex(docs, c.bandIdx)
    c
  }

  def du(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new java.io.File(path))
  }

  def terms(seed: Long, stream: Long, j: Long, n: Int): String =
    (0 until 4 * n).map(w => Tables.Vocab(Rng.below(seed, stream, j * 16 + w,
      Tables.Vocab.length.toLong).toInt)).distinct.take(n).mkString(" ")

  def rows(df: DataFrame): Iterator[Seq[Any]] = df.collect().iterator.map((r: Row) => r.toSeq)
}

/** `serve_curation`: the README's SQL-only curation session, served to
  * two clients against persisted indexes and a corpus store built from
  * sf0.1-shaped documents and embeddings. Answers are checked against
  * the corpus-scan route (the raw parquet paths, not the indexes). */
final class ServeCuration(ctx: Ctx) {
  private val Clients = 2
  private val PageSize = 1000
  private val seed = ctx.seed
  private val Kinds = IndexedSeq("search", "search", "search", "phrase", "ann", "ann",
    "hybrid", "hybrid", "dedup", "quality", "store_agg", "store_rows")

  def run(sessionS: Double): Unit = {
    val tables = Tables(seed, 0.1)
    val (buildS, corpus) = ctx.repeatSetup(2)(r =>
      Corpus.build(ctx, tables, s"cur$r", ivf = true, band = true))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(ctx.work, "cur0"))
    val served = new Served(ctx)
    try {
      val pool = statements(corpus, tables, served)
      // warmup: every statement once, so the index models are cached
      val w0 = System.nanoTime()
      served.warm(pool, Clients, PageSize)
      ctx.e2e("setup_s") = (sessionS + buildS + (System.nanoTime() - w0) / 1e9, "s")
      def plan(c: Int, k: Int) = (Rng.below(seed, 700 + c, k, pool.size).toInt, PageSize, (c + k) % 2 == 0)
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
        served.replay(pool, pool.indices.map(i => (i, PageSize, i % 2 == 0)), traced)
        Curation.pipelineLayers(ctx, pool, corpus.textIdx)
      }
      served.check(pool, all.toSeq)
    } finally served.close()
  }

  private def statements(c: Corpus, t: Tables, served: Served): IndexedSeq[Stmt] = {
    def direct(sql: String): () => Canon.Summary =
      () => Canon.of(Corpus.rows(ReadFiles.sql(served.sqlSession, sql)), 10)
    def vec(j: Int): String = {
      val base = t.embedding(Rng.below(seed, 810, j, t.nEmb))
      val v = base.indices.map(d => base(d) + 0.05 * Rng.gauss(seed, 811, j * 64L + d))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toString).mkString(",")
    }
    Kinds.zipWithIndex.map { case (kind, j) =>
      val q = Corpus.terms(seed, 820, j, 1 + Rng.below(seed, 821, j, 3).toInt)
      kind match {
        case "search" => Stmt(s"select * from corpus_search('${c.textIdx}', '$q', k=>10)",
          direct(s"select * from corpus_search('${c.docs}', '$q', k=>10)"), 10, firstPageOnly = true)
        case "phrase" =>
          val p = Corpus.terms(seed, 822, j, 2)
          Stmt(s"select * from corpus_search('${c.textIdx}', '$p', k=>10, mode=>'phrase')",
            direct(s"select * from corpus_search('${c.docs}', '$p', k=>10, mode=>'phrase')"), 10,
            firstPageOnly = true)
        case "ann" =>
          val v = vec(j)
          Stmt(s"select * from corpus_ann('${c.ivfIdx}', '$v', k=>10, nprobe=>4)",
            direct(s"select * from corpus_ann('${c.emb}', '$v', k=>10, nprobe=>4)"), 10,
            firstPageOnly = true)
        case "hybrid" =>
          val v = vec(j)
          Stmt(s"select * from corpus_hybrid('${c.textIdx}', '${c.ivfIdx}', '$q', embedding=>'$v', k=>10)",
            direct(s"select * from corpus_hybrid('${c.docs}', '${c.emb}', '$q', embedding=>'$v', k=>10)"),
            10, firstPageOnly = true)
        case "dedup" =>
          val th = Seq("0.8", "0.85", "0.9")(Rng.below(seed, 823, j, 3).toInt)
          Stmt(s"select * from corpus_dedup('${c.bandIdx}', threshold=>$th)",
            direct(s"select * from corpus_dedup('${c.docs}', threshold=>$th)"), 10, firstPageOnly = true)
        case "quality" =>
          val lim = 20 + Rng.below(seed, 824, j, 60)
          val sql = s"select doc_id, quality from corpus_quality('${c.docs}') " +
            s"where quality > 0.1 order by quality desc, doc_id limit $lim"
          Stmt(sql, direct(sql), 10, firstPageOnly = true)
        case "store_agg" =>
          Stmt(s"select count(*) as n, sum(doc_id) as s, sum(length(text)) as c from read_store('${c.store}')",
            () => Canon.of(Iterator(Seq[Any](t.nDocs, t.nDocs * (t.nDocs - 1) / 2,
              (0L until t.nDocs).map(i => t.docText(i).length.toLong).sum))), firstPageOnly = true)
        case _ =>
          val m = 50 + Rng.below(seed, 825, j, 150)
          val r = Rng.below(seed, 826, j, m)
          Stmt(s"select doc_id, text from read_store('${c.store}') where doc_id % $m = $r " +
            "order by doc_id limit 100",
            () => Canon.of((r until t.nDocs by m).take(100).iterator.map(i => Seq[Any](i, t.docText(i)))),
            firstPageOnly = true)
      }
    }
  }
}

object Curation {
  /** Index-layer metrics of a traced run: the model-cache key cost and
    * how much of the text index a search reads. */
  def pipelineLayers(ctx: Ctx, pool: IndexedSeq[Stmt], textIdx: String): Unit = {
    val sigMs = (0 until 5).map { r =>
      ctx.tracer.span("pipeline.dir_sig", s"sig-$r") {
        val t0 = System.nanoTime(); BenchProbes.dirSig(ctx.spark, textIdx); (System.nanoTime() - t0) / 1e6
      }
    }
    ctx.layers("pipeline.dir_sig_ms") = (Stats.median(sigMs), "ms")
    val idxBytes = Corpus.du(textIdx).toDouble
    val l = ctx.listener.get
    val ratios = pool.indices.filter(i => pool(i).sql.contains(s"corpus_search('$textIdx'"))
      .flatMap { i =>
        val j = i // replay unit ids follow pool order in these workloads
        val read = Seq("analyze", "write").map(p => l.unit(s"replay-$j/$p", 0)("scan.input_bytes")).sum
        if (idxBytes > 0) Some(read / idxBytes) else None
      }
    ctx.layers("pipeline.index_bytes_read_ratio") = (Stats.median(ratios), "ratio")
  }
}

/** `index_churn`: recrawl/takedown maintenance batches beside served
  * reads on the same text index and corpus store. One client alternates
  * a batch (store MERGE, index append + delete, a compaction every
  * second batch) with reads that must see exactly the batch's effects. */
final class IndexChurn(ctx: Ctx) {
  private val seed = ctx.seed
  private val NewPerBatch = 40
  private val RecrawlPerBatch = 20
  private val DeletePerBatch = 15
  private val ReadsPerBatch = 12
  private val CompactEvery = 2

  /** The benchmark's model of the corpus: live doc id → text length,
    * the taken-down ids and the appended (uniquely tokened) ids. */
  private val live = mutable.LinkedHashMap.empty[Long, Int]
  private val deleted = mutable.LinkedHashSet.empty[Long]
  private val appended = mutable.ArrayBuffer.empty[Long]

  private def token(id: Long): String = s"u${id}z"

  def run(sessionS: Double): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tables = Tables(seed, 0.04)
    val (buildS, corpus) = ctx.repeatSetup(3)(r =>
      Corpus.build(ctx, tables, s"churn$r", ivf = false, band = false))
    (0 until 2).foreach(r => org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(ctx.work, s"churn$r")))
    (0L until tables.nDocs).foreach(i => live(i) = tables.docText(i).length)
    var nextId = tables.nDocs
    val pool = mutable.ArrayBuffer.empty[Stmt]
    val served = new Served(ctx)
    val reads = mutable.ArrayBuffer.empty[ServedUnit]
    val batchS = mutable.ArrayBuffer.empty[Double]
    val amp = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def addL(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val tr = ctx.tracer
    var batch = 0
    def fileCount(): Long = Seq(corpus.textIdx, corpus.store).map { p =>
      def walk(f: java.io.File): Long = if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(p))
    }.sum

    /** One maintenance batch: seeded new docs, recrawls and takedowns. */
    def writeBatch(): Unit = {
      val b = batch
      val unit = s"batch-$b"
      val ids = live.keys.toIndexedSeq
      val picks = (0 until RecrawlPerBatch + DeletePerBatch).map(k => ids(Rng.below(seed, 900 + b, k, ids.size).toInt)).distinct
      val (recrawl, takedown) = picks.splitAt(picks.size * RecrawlPerBatch / (RecrawlPerBatch + DeletePerBatch))
      val fresh = (0 until NewPerBatch).map(k => nextId + k)
      nextId += NewPerBatch
      val newDocs = fresh.map(i => (i, tables.baseText(i) + " " + token(i)))
      val recrawled = recrawl.map(i => (i, tables.baseText(i + 7919L * (b + 1)) + " recrawl"))
      val upserts = (newDocs ++ recrawled).toDF("doc_id", "text")
      val userBytes = (newDocs ++ recrawled).map(_._2.length + 8L).sum + 8L * takedown.size
      val w0 = FsBytes.written
      val f0 = if (ctx.trace && tr.on) fileCount() else 0L
      val t0 = System.nanoTime()
      if (tr.on) spark.sparkContext.setJobGroup(unit, "perfbench batch", false)
      val (rewritten, carried) = tr.span("pipeline.merge", unit)(
        CorpusStore.merge(spark, corpus.store, upserts, takedown.toDF("doc_id")))
      tr.span("pipeline.append", unit)(TextIndex.append(newDocs.toDF("doc_id", "text"), corpus.textIdx))
      tr.span("pipeline.delete", unit)(TextIndex.delete(spark, corpus.textIdx, takedown))
      if ((b + 1) % CompactEvery == 0) tr.span("pipeline.compact", unit)(TextIndex.compact(spark, corpus.textIdx))
      val secs = (System.nanoTime() - t0) / 1e9
      if (tr.on) spark.sparkContext.clearJobGroup()
      batchS += secs
      amp += (FsBytes.written - w0).toDouble / userBytes
      if (tr.on) {
        addL("pipeline.merge_rewrite_frac", rewritten.toDouble / math.max(1, rewritten + carried))
        addL("pipeline.bytes_written", (FsBytes.written - w0).toDouble)
        addL("pipeline.files_added", (fileCount() - f0).toDouble)
        val perBucket = TextIndex.indexStats(spark, corpus.textIdx).select("n_files").collect().map(_.getLong(0).toDouble)
        addL("pipeline.files_per_bucket", Stats.mean(perBucket.toSeq))
      }
      newDocs.foreach { case (i, t) => live(i) = t.length }
      recrawled.foreach { case (i, t) => live(i) = t.length }
      takedown.foreach { i => live.remove(i); deleted += i }
      appended ++= fresh
      batch += 1
    }

    /** The reads after a batch, each with its expected answer fixed now. */
    def readStmts(): Seq[Stmt] = (0 until ReadsPerBatch).map { k =>
      val r = Rng.below(seed, 950 + batch, k, 1000)
      k % 4 match {
        case 0 =>
          val liveApp = appended.filter(live.contains)
          val id = liveApp(r.toInt % liveApp.size)
          Stmt(s"select doc_id from corpus_search('${corpus.textIdx}', '${token(id)}', k=>5)",
            { val e = Canon.of(Iterator(Seq[Any](id))); () => e })
        case 1 =>
          val gone = appended.filter(deleted.contains)
          val id = if (gone.nonEmpty) gone(r.toInt % gone.size) else appended(r.toInt % appended.size)
          val e = if (live.contains(id)) Canon.of(Iterator(Seq[Any](id))) else Canon.Empty
          Stmt(s"select doc_id from corpus_search('${corpus.textIdx}', '${token(id)}', k=>5)", () => e)
        case 2 =>
          val q = Corpus.terms(seed, 960 + batch, k, 2)
          val inList = if (deleted.isEmpty) "-1" else deleted.mkString(",")
          Stmt(s"select count(*) as n from corpus_search('${corpus.textIdx}', '$q', k=>20) " +
            s"where doc_id in ($inList)", { val e = Canon.of(Iterator(Seq[Any](0L))); () => e })
        case _ =>
          val e = Canon.of(Iterator(Seq[Any](live.size.toLong, live.keys.sum, live.values.map(_.toLong).sum)))
          Stmt(s"select count(*) as n, sum(doc_id) as s, sum(length(text)) as c from read_store('${corpus.store}')",
            () => e)
      }
    }

    try {
      val wc = served.client()
      try {
        val w0 = System.nanoTime()
        writeBatch()
        readStmts().take(4).foreach { s =>
          pool += s; served.runOne(wc, "warm", pool.size - 1, s, 100, arrowFirst = false)
        }
        ctx.e2e("setup_s") = (sessionS + buildS + (System.nanoTime() - w0) / 1e9, "s")
        def phase(tag: String, seconds: Double): (Seq[ServedUnit], Double) = {
          val out = mutable.ArrayBuffer.empty[ServedUnit]
          val t0 = System.nanoTime()
          val deadline = t0 + (seconds * 1e9).toLong
          var k = 0
          while (System.nanoTime() < deadline) {
            writeBatch()
            readStmts().foreach { s =>
              pool += s
              out += served.runOne(wc, s"$tag-$k", pool.size - 1, s, 100, k % 2 == 0)
              k += 1
            }
          }
          (out.toSeq, (System.nanoTime() - t0) / 1e9)
        }
        val (units, wall) = phase("u", ctx.seconds)
        reads ++= units
        served.report(units, wall)
        ctx.e2e("write_batch_p50_s") = (Stats.median(batchS.toSeq), "s")
        ctx.e2e("write_amp") = (Stats.median(amp.toSeq), "ratio")
        ctx.e2e("heap_retained_mb") = (Main.heapRetainedMb(), "MB")
        if (ctx.trace) {
          ctx.startTracing()
          val (traced, _) = phase("t", ctx.seconds)
          reads ++= traced
          served.servedLayers(traced)
          ctx.layers("trace.overhead_s") =
            (Stats.median(traced.map(_.stmtS)) - Stats.median(units.map(_.stmtS)), "s")
          Seq("merge", "append", "delete", "compact").foreach(n =>
            ctx.layers(s"pipeline.${n}_s") = (Stats.median(tr.seconds(s"pipeline.$n")), "s"))
          layer.toSeq.sortBy(_._1).foreach { case (k, xs) =>
            ctx.layers(k) = (Stats.median(xs.toSeq),
              if (k.endsWith("_frac")) "ratio" else if (k.endsWith("bytes_written")) "bytes" else "count")
          }
          // replay the last batch's reads directly; the pool indices
          // are renumbered so replay units line up with them
          val first = pool.size - ReadsPerBatch
          val last = pool.drop(first).toIndexedSeq
          served.replay(last, last.indices.map(i => (i, 100, i % 2 == 0)),
            traced.filter(_.stmt >= first).map(u => u.copy(stmt = u.stmt - first)))
          Curation.pipelineLayers(ctx, last, corpus.textIdx)
        }
      } finally wc.close()
      served.check(pool.toIndexedSeq, reads.toSeq)
    } finally served.close()
  }
}

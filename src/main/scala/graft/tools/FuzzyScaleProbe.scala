package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off measurement main for the fuzzy/near-dup family beyond the
  * fixtures' largest SF: replicates the sf0.1 `documents` table 5× and
  * 10× ("sf0.5"/"sf1.0" equivalents) and times the similarity-join
  * family at each scale, recording the freq-join broadcast decision
  * ([[graft.operators.SimilarityJoin]] leaves the (df, gram) exchange
  * to AQE's runtime broadcast conversion — the question at scale is
  * exactly when the freq side crosses the conversion bound and the
  * plan degrades gracefully to a shuffle join, not a cliff).
  *
  * Replication semantics, so the measurement probes SCALE and not a
  * DIFFERENT problem: replica i offsets doc_id by i·(max+1) and salts
  * the text with a replica-specific token after every 4 words —
  * word-3-shingles across replicas then share (almost) no grams, so
  * cross-replica docs are NOT near-duplicates and the duplicate-rate
  * per doc matches the base corpus instead of multiplying by the
  * replica count (10 exact clones of every doc would measure a
  * corpus with 10× the duplication density, which no real 10× crawl
  * has). This is a measurement harness over driver-replicated
  * fixture data, not a new test input — correctness is out of scope
  * here (the oracle gate runs at real SFs).
  *
  * Output: FUZZY_SCALE.md — per (query, scale) wall seconds, the
  * observed broadcast decision, and the sf0.1→sf1.0 ratio vs the 10×
  * data ratio.
  */
object FuzzyScaleProbe {

  private[tools] def scaled(spark: SparkSession, baseDir: String, k: Int,
                            outDir: String): String = {
    val path = s"$outDir/x$k/documents.parquet"
    val done = new org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return s"$outDir/x$k"
    val base = graft.Engine.table(spark, baseDir, "documents")
    val offset = base.agg(max("doc_id")).head().getLong(0) + 1L
    // explode-based replication (one generator, not a k-way union —
    // the hamming section replicates 100×); replica semantics
    // unchanged: per-replica salt token after every 4 words
    base
      .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("doc_id", col("doc_id") + col("rep") * offset)
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(
        regexp_replace(col("text"), lit("((\\S+ ){4})"),
          concat(lit("$1zqr"), col("rep"), lit("salt ")))))
      .drop("rep")
      .repartition(32)
      .write.mode("overwrite").parquet(path)
    s"$outDir/x$k"
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_FUZZY_OUT", "/tmp/graft_fuzzy_scale")
    val report = sys.env.getOrElse("SPARK_GRAFT_FUZZY_REPORT", "FUZZY_SCALE.md")
    val cpus = graft.Engine.envCpus("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sources.GraftExtensions)
      .getOrCreate()
    graft.Engine.tune(spark)

    val queries = Seq("q_sim_join", "q_sim_link", "q_fuzzy_link", "dedup_minhash")
    val scales = Seq(1, 5, 10)
    val dirs = scales.map(k => k -> scaled(spark, baseDir, k, outDir)).toMap

    case class Cell(sec: Double, broadcasts: Int, shuffleJoins: Int, rows: Long)
    val grid = for (q <- queries; k <- scales) yield {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(q)(spark, dirs(k))
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      val b = "BroadcastHashJoin".r.findAllIn(plan).size
      val s = "SortMergeJoin".r.findAllIn(plan).size +
        "ShuffledHashJoin".r.findAllIn(plan).size
      val rows = df.count()
      println(f"[fuzzy-scale] $q%-14s x$k%-2d ${sec}%8.2fs  bhj=$b smj/shj=$s rows=$rows")
      (q, k) -> Cell(sec, b, s, rows)
    }
    val m = grid.toMap

    // ---- Hamming-banding candidate fan-out (phash / simhash) -------
    // The one banding family whose per-band collision rate is a
    // CONSTANT of the key width (≥ 2^-bandBits for unrelated items),
    // not df-bounded like the shingle families above — so candidates
    // grow ~bands·N²/2^bandBits, quadratic in N. Measured here at
    // 1×/10×/100× replicas for both widths; candidate volume comes
    // from the production chunk derivation's bucket algebra
    // (Σ n·(n−1)/2 per band bucket = the join's pre-filter row count,
    // exact, without materializing an infeasible join), wall+rows from
    // the full operators where the candidate volume is feasible.
    // maxHamming 3 for every run: both widths guarantee recall 1.0
    // there (pigeonhole), so 8-bit and 16-bit MUST emit identical
    // pairs — asserted, a correctness property measured at scale.
    val hamScales = Seq(1, 10, 100)
    val hamFeasible = 300000000L
    case class Ham(items: Long, cand8: Long, cand16: Long,
                   sec8: Double, rows8: Long, sec16: Double, rows16: Long)
    def candPairs(chunks: DataFrame): Long =
      chunks.groupBy("c", "v").count()
        .agg(coalesce(sum(expr("count * (count - 1) DIV 2")), lit(0L)))
        .head().getLong(0)
    def timed(df: => DataFrame): (Double, Long) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val rows = df.count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val hamGrid = hamScales.map { k =>
      val docs = spark.read.parquet(s"${scaled(spark, baseDir, k, outDir)}/documents.parquet")
        .select("doc_id", "text")
      val media = graft.pipeline.Multimodal.asMediaTable(
        docs.withColumn("source", lit("probe")))
      val items = docs.count()
      val pc8 = candPairs(graft.pipeline.Multimodal.phashChunks(media, 8))
      val pc16 = candPairs(graft.pipeline.Multimodal.phashChunks(media, 16))
      val (p8s, p8r) =
        if (pc8 <= hamFeasible)
          timed(graft.pipeline.Multimodal.phashDupPairs(media, maxHamming = 3, bandBits = 8))
        else (Double.NaN, -1L)
      val (p16s, p16r) = timed(
        graft.pipeline.Multimodal.phashDupPairs(media, maxHamming = 3, bandBits = 16))
      if (p8r >= 0) assert(p8r == p16r,
        s"phash 8-bit vs 16-bit bands must emit identical pairs at hamming 3 ($p8r vs $p16r)")
      val sh = graft.pipeline.TextDedup.withHashes(docs, 3)
      val sc8 = candPairs(graft.pipeline.TextDedup.simhashChunks(sh, 8))
      val sc16 = candPairs(graft.pipeline.TextDedup.simhashChunks(sh, 16))
      val (s8s, s8r) =
        if (sc8 <= hamFeasible)
          timed(graft.pipeline.TextDedup.simhashPairs(docs, 3, 0.8, maxHamming = 3, bandBits = 8))
        else (Double.NaN, -1L)
      val (s16s, s16r) = timed(
        graft.pipeline.TextDedup.simhashPairs(docs, 3, 0.8, maxHamming = 3, bandBits = 16))
      if (s8r >= 0) assert(s8r == s16r,
        s"simhash 8-bit vs 16-bit bands must emit identical pairs at hamming 3 ($s8r vs $s16r)")
      println(f"[fuzzy-scale] hamming x$k%-3d items=$items phashCand 8b=$pc8 16b=$pc16 " +
        f"(${p8s}%.1fs/${p16s}%.1fs) simhashCand 8b=$sc8 16b=$sc16 (${s8s}%.1fs/${s16s}%.1fs)")
      k -> (Ham(items, pc8, pc16, p8s, p8r, p16s, p16r), Ham(items, sc8, sc16, s8s, s8r, s16s, s16r))
    }.toMap

    val sb = new StringBuilder
    sb ++= "# FUZZY_SCALE — similarity-join family at 1×/5×/10× the sf0.1 corpus\n\n"
    sb ++= s"Base: `$baseDir` documents replicated with per-replica salt tokens\n"
    sb ++= "(cross-replica docs are NOT near-dups — duplicate density matches the\n"
    sb ++= "base corpus; see FuzzyScaleProbe scaladoc). `bhj` = broadcast hash\n"
    sb ++= "joins in the AQE final plan, `sj` = sort-merge/shuffled-hash joins —\n"
    sb ++= "the freq-join broadcast decision at each scale is the bhj/sj shift.\n\n"
    sb ++= "| query | 1× s | 5× s | 10× s | 10×/1× ratio | bhj/sj @1× | @5× | @10× | rows @10× |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|\n"
    queries.foreach { q =>
      val c1 = m((q, 1)); val c5 = m((q, 5)); val c10 = m((q, 10))
      sb ++= f"| $q | ${c1.sec}%.2f | ${c5.sec}%.2f | ${c10.sec}%.2f | ${c10.sec / c1.sec}%.1f× " +
        f"| ${c1.broadcasts}/${c1.shuffleJoins} | ${c5.broadcasts}/${c5.shuffleJoins} " +
        f"| ${c10.broadcasts}/${c10.shuffleJoins} | ${c10.rows} |\n"
    }
    sb ++= "\n## Hamming banding (phash / simhash) at 1×/10×/100×\n\n"
    sb ++= "The one candidate scheme with a DATA-INDEPENDENT per-band collision\n"
    sb ++= "rate (≥ 2^-bandBits for unrelated items): candidates grow\n"
    sb ++= "~bands·N²/2^bandBits — quadratic in N, unlike the df-bounded\n"
    sb ++= "shingle families above. `cand` = exact pre-filter join rows from\n"
    sb ++= "the production chunk derivation's bucket algebra (Σ n·(n−1)/2);\n"
    sb ++= "wall is the full operator (candidates + bit_count verify + exact\n"
    sb ++= "output) at maxHamming 3, where BOTH widths are pigeonhole-recall\n"
    sb ++= "1.0 and must emit identical pairs (asserted each run). An 8-bit\n"
    sb ++= "run whose candidate volume exceeds 3·10⁸ is reported by its\n"
    sb ++= "candidate count alone (`-`): that infeasibility IS the measured\n"
    sb ++= "cliff, and `bandBits=16` is the knob that removes it (~512× fewer\n"
    sb ++= "stray candidates: 4 vs 8 bands × 256× lower collision rate).\n\n"
    sb ++= "| scale | items | phash cand 8b | 16b | phash s 8b | 16b | simhash cand 8b | 16b | simhash s 8b | 16b |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|---|\n"
    hamScales.foreach { k =>
      val (p, s) = hamGrid(k)
      def w(sec: Double) = if (sec.isNaN) "-" else f"$sec%.1f"
      sb ++= f"| x$k | ${p.items} | ${p.cand8} | ${p.cand16} | ${w(p.sec8)} | ${w(p.sec16)} " +
        f"| ${s.cand8} | ${s.cand16} | ${w(s.sec8)} | ${w(s.sec16)} |\n"
    }
    locally {
      val (p1, _) = hamGrid(hamScales.head); val (pN, sN) = hamGrid(hamScales.last)
      val (_, s1) = hamGrid(hamScales.head)
      sb ++= f"\nCandidate growth x1→x100: phash 8b ${pN.cand8.toDouble / math.max(1, p1.cand8)}%.0f×, " +
        f"16b ${pN.cand16.toDouble / math.max(1, p1.cand16)}%.0f×; " +
        f"simhash 8b ${sN.cand8.toDouble / math.max(1, s1.cand8)}%.0f×, " +
        f"16b ${sN.cand16.toDouble / math.max(1, s1.cand16)}%.0f× — against 100× items\n"
      sb ++= "(10000× is the pure-quadratic slope; near-dup-free replicas mean\n"
      sb ++= "almost all candidates are stray collisions). Oracle defaults are\n"
      sb ++= "unchanged (8-bit, recall 1.0 to hamming 7); deployments beyond\n"
      sb ++= "~10⁵ items (where N²/32 crosses the 3·10⁸ feasibility line —\n"
      sb ++= "the auto-selection switchover) pick `bandBits = 16` and accept\n"
      sb ++= "the hamming-3 radius, or shard the corpus before banding.\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(report), sb.toString)
    println(s"[fuzzy-scale] wrote $report")
    spark.stop()
  }
}

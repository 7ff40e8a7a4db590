package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.util.Locale

/** Multi-JVM validation pass: runs a representative slice of the
  * oracle surface twice — once under `local[n]` (the mode every other
  * gate uses) and once under `local-cluster[2,4,4096]`, Spark's
  * standalone-in-miniature master that launches REAL executor
  * processes — and requires canonical result hashes to be equal.
  *
  * Why this exists: the engine is written for executors (Serializable
  * appliers with per-JVM registries, codegen reference objects for
  * codebooks/CMS/bloom, broadcast model parameters), but `local[n]`
  * never exercises closure serialization, broadcast transport, or
  * executor-side registry initialization across a process boundary.
  * The reference is multi-worker by identity
  * (/root/reference/src/worker/query_worker.rs:35-39); this is the
  * pre-deploy check RUNBOOK.md prescribes before pointing the engine
  * at a real cluster.
  *
  * Coverage: the ENTIRE `SparkEntry.queries` oracle surface (every
  * index fixture rebuilt under the cluster session so the write
  * lifecycles cross the process boundary too), plus two ops not
  * expressible as plain queries:
  *  - per-executor-JVM registries: op_bpe_encode (BpeApplier's
  *    rule-table registry must self-initialize on each executor)
  *  - streaming: op_stream_ingest (foreachBatch ingest with dedup
  *    gates, AvailableNow, landed corpus compared)
  * Through round 12 this ran a 16-item cross-JVM-risk slice; the
  * reference is multi-worker by identity, so the remaining 177
  * queries' single-JVM-only execution history was the last
  * sampled-not-total guarantee — now closed by running everything.
  * SPARK_GRAFT_CLUSTER_QUERIES still restricts a run for iteration.
  *
  * Hashing: rows are formatted with floats rounded (%.6e) and doubles
  * (%.9e) so a legitimate last-bit difference from a different
  * partial-aggregation order doesn't read as corruption, sorted, and
  * digested. Schema (name:type) participates in the hash, and fields
  * are U+0001-delimited so boundaries do too — unseparated, ("ab","c")
  * and ("a","bc") would collide and a cross-JVM divergence of exactly
  * that shape would pass the gate.
  *
  * Output: one JSON line to stdout and SPARK_GRAFT_CLUSTER_OUT
  * (default cluster_check.json); exit code 1 on any mismatch/error.
  */
object ClusterCheck {

  // full-surface by default: every oracle query runs in both modes
  private def defaultQueries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  // ---- canonical result hashing -------------------------------------

  private def fmt(v: Any): String = v match {
    case null => "∅"
    case f: Float => String.format(Locale.ROOT, "%.6e", Double.box(f.toDouble))
    case d: Double => String.format(Locale.ROOT, "%.9e", Double.box(d))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(fmt).mkString("(", "\u0001", ")")
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  // field delimiters are written as backslash-u0001 ESCAPES on purpose: two
  // successive review passes misread the literal control character as
  // an empty separator and flagged the delimiter as missing
  private def hashOf(df: DataFrame): String = {
    val schema = df.schema.fields
      .map(f => f.name + ":" + f.dataType.sql).mkString(",")
    val rows = df.collect().map(r => r.toSeq.map(fmt).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(schema.getBytes("UTF-8"))
    rows.foreach { r => md.update(0.toByte); md.update(r.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString + ":" + rows.length
  }

  // ---- extra ops not expressible as plain queries ---------------------

  /** BPE encoding with a hand-fixed merge table: the rule set ships in
    * the closure, and every executor JVM must rebuild its BpeApplier
    * word cache from the rule-table registry on first touch. */
  private def opBpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = Seq(
      (0L, "t", "h", "th", 10L), (1L, "th", "e</w>", "the</w>", 9L),
      (2L, "a", "n", "an", 8L), (3L, "an", "d</w>", "and</w>", 7L),
      (4L, "i", "n", "in", 6L), (5L, "o", "f</w>", "of</w>", 5L))
      .toDF("rank", "left", "right", "merged", "pair_count")
    pipeline.TextAnalysis.bpeEncode(Engine.table(s, d, "documents"), merges)
      .orderBy("doc_id")
  }

  /** Minimal but real streaming ingest: file source, dedup-vs-snapshot
    * and landed-corpus gates, AvailableNow trigger, two micro-batch
    * rounds (the second restarts from the checkpoint). Deterministic —
    * fixed ids/timestamps, no wall-clock dependence in the OUTPUT
    * (ingest-time watermarks only gate lateness, and nothing here is
    * late). Returns the landed corpus. */
  private def opStreamIngest(s: SparkSession, tmpBase: String): DataFrame = {
    import s.implicits._
    val base = new java.io.File(tmpBase, "stream_ingest")
    org.apache.hadoop.fs.FileUtil.fullyDelete(base)
    val inDir = new java.io.File(base, "in").getAbsolutePath
    val outDir = new java.io.File(base, "out").getAbsolutePath
    val chkDir = new java.io.File(base, "chk").getAbsolutePath
    def ts(min: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(min * 60L))
    val snapshot = Seq(
      (100L, "a fine corpus snapshot document that is in the base already " * 4),
      (101L, "another snapshot document full of plain ordinary words here too " * 4))
      .toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val q = streaming.CorpusIngest.ingest(
        s.readStream.schema(schema).parquet(inDir),
        snapshot, outDir, chkDir, watermark = "30 minutes", minQuality = 0.1)
      q.awaitTermination(180000); q.stop()
    }
    // batch 1: one novel doc, one exact dup of the snapshot (gated out)
    Seq((1L, ts(5), "the quick brown fox jumps over the lazy dog and runs to town " * 4),
        (100L, ts(6), "a fine corpus snapshot document that is in the base already " * 4))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("append").parquet(inDir)
    run()
    // batch 2 (checkpoint restart): novel doc + exact dup of batch 1's
    // survivor — the landed-corpus gate must drop it
    Seq((2L, ts(15), "a completely different document about ships and the open sea " * 4),
        (3L, ts(16), "the quick brown fox jumps over the lazy dog and runs to town " * 4))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("append").parquet(inDir)
    run()
    streaming.CorpusIngest.landedCorpus(s, outDir)
      .select("doc_id", "text").orderBy("doc_id")
  }

  // ---- sessions -------------------------------------------------------

  private def localSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cluster-check-local")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new sources.GraftExtensions)
      .getOrCreate()
    Engine.tune(s); s
  }

  /** JDK-17 module opens for the executor JVMs `local-cluster` forks —
    * the same set build.sbt applies to the driver (spark-submit would
    * inject these; a Worker-launched executor inherits only what we
    * pass here). */
  private val addOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  private def clusterSession(): SparkSession = {
    val s = SparkSession.builder()
      .master("local-cluster[2,4,4096]")
      .appName("graft-cluster-check")
      // the executors are fresh JVMs launched by the in-process Worker:
      // they need the application classes (this repo) on their
      // classpath and the same JDK-17 opens the driver runs with
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.executor.memory", "3g")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new sources.GraftExtensions)
      .getOrCreate()
    Engine.tune(s); s
  }

  // ---- main -----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_CLUSTER_OUT", "cluster_check.json")
    val names = sys.env.get("SPARK_GRAFT_CLUSTER_QUERIES")
      .map(_.split(",").toSeq).getOrElse(defaultQueries)
    val tmpBase = java.nio.file.Files.createTempDirectory("graft_clck").toString
    SparkEntry.oracleSfDir = sfDir

    def runPhase(s: SparkSession, phase: String): Map[String, Either[String, String]] = {
      SparkEntry.prepareIndexFixtures(s, sfDir)
      val qs = names.map { n =>
        n -> (try Right(hashOf(SparkEntry.queries(n)(s, sfDir)))
              catch { case e: Throwable =>
                Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") })
      }
      val ops = Seq(
        "op_bpe_encode" -> (() => opBpeEncode(s, sfDir)),
        "op_stream_ingest" -> (() => opStreamIngest(s, s"$tmpBase/$phase"))
      ).map { case (n, f) =>
        n -> (try Right(hashOf(f()))
              catch { case e: Throwable =>
                Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") })
      }
      (qs ++ ops).toMap
    }

    val cpus = Engine.envCpus("SPARK_GRAFT_CPUS", 8)
    val local = localSession(cpus)
    val localRes = runPhase(local, "local")
    local.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // rebuild every index fixture under the cluster session: the write
    // lifecycles (train/append/delete/compact/commit) must cross the
    // process boundary too, not just the read paths
    SparkEntry.resetFixtureMemo()
    val cluster = clusterSession()
    val clusterRes = runPhase(cluster, "cluster")
    val nExec = cluster.sparkContext.statusTracker.getExecutorInfos.length - 1
    cluster.stop()

    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val allNames = (localRes.keySet ++ clusterRes.keySet).toSeq.sorted
    val per = allNames.map { n =>
      val l = localRes.get(n); val c = clusterRes.get(n)
      val ok = (l, c) match {
        case (Some(Right(a)), Some(Right(b))) => a == b
        case _ => false
      }
      val err = Seq(l, c).flatten.collectFirst { case Left(e) => e }
      jstr(n) + ":{" +
        "\"local\":" + l.fold("null")(_.fold(_ => "null", jstr)) + "," +
        "\"cluster\":" + c.fold("null")(_.fold(_ => "null", jstr)) + "," +
        "\"match\":" + ok + err.map(e => ",\"err\":" + jstr(e)).getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val allOk = allNames.forall { n =>
      (localRes.get(n), clusterRes.get(n)) match {
        case (Some(Right(a)), Some(Right(b))) => a == b
        case _ => false
      }
    }
    val line = "{\"mode\":\"local-cluster[2,4,4096]\",\"executors_seen\":" + nExec +
      ",\"sf\":" + jstr(sfDir) + ",\"n\":" + allNames.length +
      ",\"all_match\":" + allOk + ",\"results\":" + per + "}"
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath).toAbsolutePath, line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[cluster-check] write $outPath: ${e.getMessage}") }
    if (!allOk) sys.exit(1)
  }
}

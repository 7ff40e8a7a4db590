package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + table loading for the graft engine.
  *
  * Replaces the reference's worker config / connection registry
  * (/root/reference/src/config/worker.rs:96-179) with Spark session
  * conf: named storage connections become Hadoop FS settings, and the
  * reference's fixed 10k-row scan batches
  * (/root/reference/src/planner/physical_planner.rs:319-323) become
  * `spark.sql.files.maxPartitionBytes` + the vectorized parquet reader.
  *
  * Scale stance: every knob here is chosen so the same code runs
  * unchanged on a multi-executor cluster — AQE on (runtime shuffle
  * re-plan + skew-join handling), shuffle partitions sized to the
  * local core count only as a default the cluster overrides.
  */
object Engine {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The core count in environment variable `name`
    * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_REF_CPUS`), or `default` when it
    * is unset. Every main reads its core counts here, so a value that
    * is not a positive integer fails at startup instead of reaching
    * `local[...]` or a JSON report. */
  def envCpus(name: String, default: Int,
              env: Map[String, String] = sys.env): Int = env.get(name) match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
  }

  def session(appName: String = "graft"): SparkSession = {
    val cpus = envCpus("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR mode + QueryService's per-slot pools = concurrent service
      // queries share the cluster instead of head-of-line blocking
      // (context-level conf: must be set at session creation)
      .config("spark.scheduler.mode", "FAIR")
      .withExtensions(new sources.GraftExtensions)
      .getOrCreate()
    tune(spark)
    spark
  }

  /** Runtime conf safe to apply to an externally-built session (Verify /
    * Bench / tests build their own). Idempotent. */
  def tune(spark: SparkSession): Unit = {
    val c = spark.conf
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Runtime bloom-filter join pruning: a selective dim filter builds
    // a bloom sketch that drops non-joining fact rows AT THE SCAN,
    // before the fact side pays the shuffle — the shuffle-join analog
    // of broadcast pruning, and a first-order scan reducer on 100 TB
    // facts. Thresholds stay at Spark defaults (inject only when the
    // creation side is small and the application side is big enough to
    // pay off); PlanSpec pins the injection shape.
    c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // NOTE (r18, measured): AQE sort-merge → shuffled-hash conversion
    // (spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m,
    // guide §3.1) was tried and REVERTED: isolated A/B on 20
    // join-heavy queries read +0.9 s net worse (dedup_ngram +0.35,
    // q_corpus_clean +0.37, dedup_cluster_rep +0.31 vs q_sessionize
    // −0.40, q_tpch_q11/q2/q21 ~−0.12) — at small per-partition sizes
    // the per-partition hash-table build costs more than the sorts it
    // removes, and several SMJ sorts here are REUSED by downstream
    // operators. Revisit only with cluster-scale evidence.
    // Cost-based estimation: with catalog statistics in place (see
    // [[analyzeTables]]) plans carry real row counts/NDVs instead of
    // size-only guesses — better broadcast decisions, and catalog
    // relations skip the per-query file listing + schema inference
    // that spark.read.parquet pays at plan time (measured: most
    // sub-second queries halved at sf0.1). Without catalog stats the
    // flag is inert, so non-analyzed paths are unchanged.
    //
    // joinReorder stays OFF by default — a measured decision, not an
    // oversight: on the analyzed TPC-H surface the DP reorder never
    // beat the declared fact-first orders and regressed q8 3.4× / q9
    // 1.9× (tools.CboAudit), because Spark's reorder cost model
    // prices intermediate ROWS but not broadcast-ability, so it
    // happily moves a big fact⋈dim chain ahead of the selective
    // filters that make each step broadcastable. It exists to rescue
    // PESSIMAL declared orders (PlanSpec proves the mechanism:
    // enabled, it rewires a fact-fact-first declaration) — enable it
    // per-session for ad-hoc/generated SQL whose authors don't order
    // joins; engine-authored queries are already fact-first.
    c.set("spark.sql.cbo.enabled", "true")
    c.set("spark.sql.cbo.joinReorder.enabled", "false")
    c.set("spark.sql.statistics.histogram.enabled", "true")
    // events.parquet stores TIMESTAMP(NANOS) which Spark's reader does
    // not support natively; read as long and convert (see table()).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Foreign parquet writers mark timestamps isAdjustedToUTC=false;
    // with NTZ inference on, such columns surface as TIMESTAMP_NTZ and
    // break instant functions (unix_micros & co). The engine's contract
    // is instant semantics under the UTC session zone, so read every
    // parquet timestamp flavor as TIMESTAMP. table() casts as a second
    // line of defense for sessions that bypass tune().
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")
  }

  // dir → catalog-table prefix, set by [[analyzeTables]]; [[table]]
  // prefers the stats-backed catalog relation once a dir is analyzed
  private val analyzedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def catalogTag(dir: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff}%08x"

  /** Register each testdata table as an EXTERNAL catalog table and
    * compute row-count + column statistics (+ equi-height histograms),
    * so [[table]] serves stats-backed relations and CBO join reorder
    * has real cardinalities to cost with. The production analog is
    * `ANALYZE TABLE` against the warehouse catalog after load; here
    * the in-memory catalog holds the stats for the session's
    * lifetime. Column stats cover atomic types only (ANALYZE rejects
    * arrays/maps/structs — the embeddings vector column contributes
    * size/row-count stats, which is all a join reorder needs from
    * it). Idempotent per (session, dir); tables are LOCATION-backed,
    * nothing is copied. */
  def analyzeTables(spark: SparkSession, dir: String,
                    tables: Seq[String] = tableNames): Unit = {
    val tag = catalogTag(dir)
    tables.foreach { name =>
      val tbl = s"graft_${tag}_$name"
      if (!spark.catalog.tableExists(tbl)) {
        spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$dir/$name.parquet'")
        // TIMESTAMP_NTZ is left out too: CBO's filter estimation has no
        // case for its column stats (MatchError in
        // FilterEstimation.evaluateBinary once a filter meets them)
        val atomic = spark.table(tbl).schema.fields.collect {
          case f if !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
            !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
            !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
            f.dataType != org.apache.spark.sql.types.TimestampNTZType =>
            s"`${f.name}`"
        }
        val forCols =
          if (atomic.nonEmpty) s" FOR COLUMNS ${atomic.mkString(", ")}" else ""
        spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS$forCols")
      }
    }
    analyzedDirs.put(dir, tag)
  }

  /** Load one testdata table. Normalizes the `events.ts` nanosecond
    * timestamp (read as long under nanosAsLong) back to a timestamp,
    * and any TIMESTAMP_NTZ column (foreign writer, NTZ inference on)
    * to TIMESTAMP. The NTZ→TIMESTAMP cast interprets the wall time in
    * the SESSION time zone, so it is only the intended identity
    * mapping under UTC (the engine's contract, set by [[tune]]); a
    * session that bypassed tune() and runs non-UTC would silently
    * shift every instant — fail loud instead of serving shifted
    * timestamps. */
  /** NOTE (r18, measured): do NOT apply [[fanOut]] here at the
    * accessor. An A/B at sf0.1 (fan documents+embeddings in table()
    * vs not) read +3.1 s NET WORSE on the 12 heaviest document
    * queries: operators already fan out internally where the per-row
    * compute pays for it, and a blanket round-robin exchange under
    * every scan (a) pays sort-before-repartition once per JOB, so
    * iterative/multi-action queries (label propagation, LM branches)
    * re-execute it every turn while re-scanning the sub-MB parquet is
    * nearly free, and (b) an earlier full-fact-table variant broke
    * four PlanSpec pins (extra exchange; Repartition blocks runtime
    * bloom-filter injection) and would have touched the bench's
    * box-health control queries. Parallelizing unsplittable 1-row-
    * group fixture scans stays a per-operator decision (guide §2.5)
    * made where profiling shows the map side dominating. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // stats-backed catalog relation when [[analyzeTables]] ran for this
    // dir IN THIS SESSION's catalog (falls back to a direct read
    // otherwise — the marker is JVM-global, catalogs are per-session)
    val tag = analyzedDirs.get(dir)
    val raw =
      if (tag != null && spark.catalog.tableExists(s"graft_${tag}_$name"))
        spark.table(s"graft_${tag}_$name")
      else spark.read.parquet(s"$dir/$name.parquet")
    val df =
      if (name == "events" && raw.schema("ts").dataType.typeName == "long")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    if (ntz.nonEmpty) {
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"table '$name' has TIMESTAMP_NTZ columns ${ntz.mkString(",")} but " +
          s"spark.sql.session.timeZone is '$tz' — the NTZ normalization is only " +
          "correct under UTC. Run Engine.tune(spark) (or set the session zone " +
          "to UTC) before loading tables.")
    }
    ntz.foldLeft(df)((d, n) =>
      d.withColumn(n, col(n).cast(org.apache.spark.sql.types.TimestampType)))
  }

  /** Register every testdata table as a temp view (for spark.sql paths). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** Ensure compute-heavy map stages get at least the session's
    * default parallelism. Small single-file inputs otherwise plan as
    * one task and serialize the whole stage on one core. Gated on
    * total input BYTES (driver-side file metadata only — no job, no
    * eager planning): inputs big enough for the file scanner to split
    * into enough tasks by itself (the 100 TB case) pass through with
    * no extra shuffle. */
  private[graft] val FanOutMaxBytes: Long = 1L << 30

  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val files = df.inputFiles
    if (files.isEmpty) return df // non-file source: trust the planner
    val conf = spark.sessionState.newHadoopConf()
    val bytes = files.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(conf).getFileStatus(p).getLen
      catch { case _: Exception => return df }
    }.sum
    if (bytes < FanOutMaxBytes) df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }
}

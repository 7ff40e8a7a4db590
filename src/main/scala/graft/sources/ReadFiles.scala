package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named storage connections — the Spark mapping of the reference's
  * `ConnectionConfig`/`ConnectionType`
  * (/root/reference/src/config/worker.rs:95-179), where workers
  * configure named fs/S3/Minio endpoints and
  * `read_files(..., connection=>'name')` selects one.
  *
  * `Fs` connections are path roots (posix dir, `hdfs://...`); `S3`
  * connections carry the reference's endpoint/credentials/bucket/
  * path-style settings and map onto Hadoop's per-bucket s3a
  * configuration (`fs.s3a.bucket.<bucket>.*`), which Spark's s3a
  * filesystem applies per URI — so two connections to different
  * object stores coexist in one session, exactly like the reference's
  * per-connection clients. The `"default"` connection doubles as the
  * results root, mirroring the reference's use of `default` for
  * materialized results (materialize_files_task.rs:80-81). */
sealed trait Connection { def root: String }
object Connection {
  final case class Fs(root: String) extends Connection
  final case class S3(
      endpoint: String,
      accessKeyId: String,
      secretAccessKeyId: String,
      bucket: String,
      root: String,
      region: String = "",
      forcePathStyle: Boolean = true) extends Connection
}

final case class Connections(conns: Map[String, Connection]) {
  def resolve(connection: Option[String], path: String): String =
    conns.getOrElse(connection.getOrElse("default"), Connection.Fs("")) match {
      case _ if path.contains("://") => path
      case Connection.Fs(root) =>
        if (root.isEmpty || path.startsWith("/")) path
        else s"${root.stripSuffix("/")}/$path"
      case s: Connection.S3 =>
        val root = s.root.stripPrefix("/").stripSuffix("/")
        val rel = path.stripPrefix("/")
        if (root.isEmpty) s"s3a://${s.bucket}/$rel" else s"s3a://${s.bucket}/$root/$rel"
    }

  /** Apply every S3 connection's endpoint/credentials/path-style to
    * the session's Hadoop conf as per-bucket s3a settings. Idempotent;
    * no-op for pure-Fs configurations.
    *
    * Implementation selection: on a cluster with `hadoop-aws` deployed
    * these keys drive the stock `S3AFileSystem` untouched. When the
    * AWS SDK is absent from the classpath (this sandbox, slim images),
    * the `s3a` scheme is bound to [[S3LiteFileSystem]] — a
    * dependency-free SigV4/S3-REST implementation of the same conf
    * keys — so object-store reads and writes still execute end-to-end
    * instead of failing at class load. */
  def applyTo(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val hasS3 = conns.values.exists(_.isInstanceOf[Connection.S3])
    if (hasS3) {
      // core-default.xml pre-binds fs.s3a.impl to S3AFileSystem even
      // when hadoop-aws is not deployed — probe loadability, not
      // presence, before falling back.
      val impl = hc.get("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
      if (hc.getClassByNameOrNull(impl) == null)
        hc.set("fs.s3a.impl", classOf[S3LiteFileSystem].getName)
    }
    conns.values.foreach {
      case s: Connection.S3 =>
        val p = s"fs.s3a.bucket.${s.bucket}"
        hc.set(s"$p.endpoint", s.endpoint)
        hc.set(s"$p.access.key", s.accessKeyId)
        hc.set(s"$p.secret.key", s.secretAccessKeyId)
        hc.set(s"$p.path.style.access", s.forcePathStyle.toString)
        if (s.region.nonEmpty) hc.set(s"$p.endpoint.region", s.region)
      case _ => ()
    }
  }
}

object Connections {
  def apply(): Connections = fromRoots(Map("default" -> ""))
  /** Roots-only construction (every connection a posix/hdfs dir). */
  def fromRoots(roots: Map[String, String]): Connections =
    Connections(roots.map { case (k, v) => k -> (Connection.Fs(v): Connection) })
}

/** The reference's `read_files('glob'[, connection=>'name'])` table
  * function (/root/reference/src/handlers/operator_handler/operators/
  * table_func_tasks/read_files_task.rs:64-115,156-289) re-expressed as a
  * SQL rewrite onto Spark's native sources.
  *
  * The reference hand-rolls: storage listing + glob match, streaming
  * parquet decode into ≤10k-row batches, record-id assignment and
  * exchange handoff. On Spark all of that is the `FileSourceScanExec`
  * path — Hadoop glob expansion, split planning via
  * `spark.sql.files.maxPartitionBytes`, the vectorized reader, and
  * shuffle — so the only thing to build is the SQL surface itself.
  *
  * Options beyond the reference grammar (its roadmap formats):
  * `format=>'csv'|'json'|'parquet'`, `header`/`inferschema` for CSV,
  * and `mergeschema=>'true'` for schema-drifted parquet directories
  * (the reference's schema-drift TODO, DEV_NOTES.md:151-152).
  */
object ReadFiles {
  // read_files('path' [, name=>'value']...) — case-insensitive,
  // whitespace-tolerant; single-quoted args as in the reference
  // grammar (read_files_task.rs:64-115).
  private val Call =
    """(?is)read_files\s*\(\s*'([^']+)'((?:\s*,\s*\w+\s*=>\s*'[^']*')*)\s*\)""".r
  private val Arg = """(?is)(\w+)\s*=>\s*'([^']*)'""".r

  /** Format from the file extension only (a directory or glob without
    * one defaults to parquet, the reference's native format; pass
    * format=> explicitly for extensionless CSV/JSON layouts). */
  private[sources] def inferFormat(path: String): String = {
    val p = path.toLowerCase.stripSuffix("/")
    if (p.endsWith(".csv") || p.endsWith(".csv.gz") || p.endsWith(".tsv")) "csv"
    else if (p.endsWith(".json") || p.endsWith(".jsonl") || p.endsWith(".json.gz")) "json"
    else if (p.endsWith(".orc")) "orc"
    else "parquet"
  }

  final case class Rewritten(sql: String, views: Seq[String])

  // Globally unique view suffix: concurrent statements over the SAME
  // path must never share a view name, or one statement's
  // post-analysis drop races another statement's analysis
  // (TABLE_OR_VIEW_NOT_FOUND under a concurrent QueryService).
  private val viewCounter = new java.util.concurrent.atomic.AtomicLong()

  // Per-session cache-key component (weak keys: a dropped session
  // frees its id).
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()

  /** The base relation of `read_files(path, args...)`: Spark's reader
    * for the format (explicit `format=>`, else [[inferFormat]]).
    * Shared by the SQL rewrite and [[ReadFilesTVF]].
    *
    * Relations are reused across statements through the shared
    * signature-keyed cache ([[graft.pipeline.Stores.cachedModel]]). The
    * key holds the session, a digest of the session's SQL conf, the
    * format and options, and the (path, length, mtime) signature of
    * every leaf file the path matches. Any added, deleted or rewritten
    * file and any `SET` therefore resolve afresh on the next statement.
    * A hit reuses a relation whose file index is already listed and
    * whose schema is already inferred, so the statement skips the
    * listing and schema-inference jobs analysis would otherwise run.
    * Sessions never share entries: a relation registers its views in
    * its own session. */
  private[sources] def base(spark: SparkSession, path: String,
                            args: Map[String, String]): DataFrame = {
    val fmt = args.getOrElse("format", inferFormat(path))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    spark.conf.getAll.toSeq.sorted.foreach { case (k, v) =>
      md.update(s"$k=$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val conf = md.digest().map("%02x".format(_)).mkString
    val session = sessionIds.synchronized {
      sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)
    }
    val kind = s"read_files:$session:$conf:$fmt:${args.toSeq.sorted.mkString(",")}"
    // mode=>'permissive' (default; malformed rows → nulls) |
    // 'dropmalformed' | 'failfast' — Spark's malformed-record
    // policies surfaced through the TVF for text formats, where
    // real-world files are never as clean as the schema claims.
    val parseMode = args.getOrElse("mode", "PERMISSIVE").toUpperCase
    graft.pipeline.Stores.cachedModel(spark, kind, path, recursive = true) {
      fmt match {
        case "csv" => spark.read
          .option("header", args.getOrElse("header", "true"))
          .option("inferSchema", args.getOrElse("inferschema", "true"))
          .option("mode", parseMode)
          .csv(path)
        case "json" => spark.read.option("mode", parseMode).json(path)
        case "orc" => spark.read.orc(path)
        case _ =>
          // Stock reader first (inference, mergeSchema, nested types
          // all Spark's own); fall back to the widened ingestion
          // path only when the footer carries a type Spark rejects
          // (FLOAT16 — see WidenedParquet).
          try spark.read
            .option("mergeSchema", args.getOrElse("mergeschema", "false"))
            .parquet(path)
          catch {
            case e: Throwable if {
              var t: Throwable = e; var hit = false
              while (t != null && !hit) {
                hit = Option(t.getMessage).exists(_.contains("PARQUET_TYPE_ILLEGAL"))
                t = t.getCause
              }
              hit
            } => WidenedParquet.read(spark, path)
          }
      }
    }
  }

  /** Rewrite every read_files(...) call in `sql` to a registered temp
    * view over the resolved path(s). Calls inside single-quoted string
    * literals are left untouched (quote-parity scan). Returns the
    * rewritten SQL plus the view names, so callers can drop the views
    * once the statement is analyzed (ReadFiles.sql does). */
  def rewrite(spark: SparkSession, sql: String,
              connections: Connections = Connections()): Rewritten = {
    val out = new StringBuilder
    val views = Seq.newBuilder[String]
    var last = 0
    for (m <- Call.findAllMatchIn(sql)) {
      val quotesBefore = sql.substring(0, m.start).count(_ == '\'')
      if (quotesBefore % 2 == 0) { // outside any string literal
        val args = Arg.findAllMatchIn(m.group(2))
          .map(a => a.group(1).toLowerCase -> a.group(2)).toMap
        val path = connections.resolve(args.get("connection"), m.group(1))
        val fmt = args.getOrElse("format", inferFormat(path))
        val base = ReadFiles.base(spark, path, args)
        // rowid=>'true': STABLE record identity per row — the
        // reference assigns record ids during the scan
        // (read_files_task.rs:156-289); Spark's `_metadata` struct
        // carries the same (file, physical row position) identity
        // without a window or an indeterminate id. Parquet only (the
        // row-index metadata column is a parquet-reader feature).
        val df =
          if (args.get("rowid").contains("true") && fmt == "parquet")
            base.select(org.apache.spark.sql.functions.col("*"),
              org.apache.spark.sql.functions.col("_metadata.file_name").as("_file"),
              org.apache.spark.sql.functions.col("_metadata.row_index").as("_row_id"))
          else base
        // A collision-free view name per call site, unique across
        // concurrent statements.
        val view =
          s"read_files_${Integer.toHexString(path.hashCode)}_${viewCounter.incrementAndGet()}"
        df.createOrReplaceTempView(view)
        views += view
        out.append(sql.substring(last, m.start)).append(view)
        last = m.end
      }
    }
    out.append(sql.substring(last))
    Rewritten(out.toString, views.result())
  }

  /** Rewrite + execute one statement. Temp views are dropped as soon
    * as the statement is analyzed (Dataset creation is eagerly
    * analyzed, so the returned DataFrame keeps its resolved relations)
    * — a long-lived query service leaks no catalog entries. */
  def sql(spark: SparkSession, statement: String,
          connections: Connections = Connections()): DataFrame = {
    connections.applyTo(spark)
    val r = rewrite(spark, statement, connections)
    val df = spark.sql(r.sql)
    r.views.foreach(spark.catalog.dropTempView)
    df
  }
}

/** SQL-script splitting with the semantics the reference pins in
  * /root/reference/src/planner/test_sqlparser_behavior.rs:7-27
  * (multiple `;`-separated statements, line comments tolerated). */
object ScriptRunner {
  def split(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inStr = false
    var inLineComment = false
    while (i < script.length) {
      val c = script.charAt(i)
      if (inLineComment) {
        if (c == '\n') { inLineComment = false; cur.append(c) }
      } else if (inStr) {
        cur.append(c)
        if (c == '\'') {
          // '' escape inside string literal
          if (i + 1 < script.length && script.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else inStr = false
        }
      } else c match {
        case '\'' => inStr = true; cur.append(c)
        case '-' if i + 1 < script.length && script.charAt(i + 1) == '-' =>
          inLineComment = true; i += 1
        case ';' => out += cur.result(); cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}

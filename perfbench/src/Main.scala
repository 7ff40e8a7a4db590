package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** Everything one run shares: the session, the seeded inputs' scratch
  * directory, the tracer and (in traced runs) the engine listener. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val trace: Boolean) {
  val tracer = new Tracer
  val listener: Option[EngineListener] =
    if (trace) Some(new EngineListener) else None

  /** Switch from the untraced to the traced phase of a traced run. */
  def startTracing(): Unit = {
    listener.foreach(spark.sparkContext.addSparkListener)
    tracer.on = true
  }
  /** Scalar end-to-end metrics (name → (value, unit)). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of the traced run (name → (value, unit)). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Free-form traced report (cross-checks, per-query splits). */
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += what
  }
  private val born = System.nanoTime()
  /** Progress line for the launcher's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Traced rollup of one unit's engine metrics by its job group. */
  def engineOf(group: String, wallS: Double): Map[String, Double] =
    listener.map(_.unit(group, wallS)).getOrElse(Map.empty)

  /** Record the engine.* per-unit medians (gc as a per-unit mean: most
    * units see no task GC, so its median reads 0). */
  def engineLayers(units: Seq[Map[String, Double]]): Unit = if (units.nonEmpty) {
    val keys = units.head.keys.filter(_.startsWith("engine.")).toSeq.sorted
    keys.foreach { k =>
      val xs = units.map(_(k))
      val v = if (k == "engine.gc_s") Stats.mean(xs) else Stats.median(xs)
      layers(k) = (v, if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count")
    }
  }

  /** Time `reps` repetitions of a set-up step (each into its own
    * directory) and return the median seconds plus the last result. */
  def repeatSetup[A](reps: Int)(step: Int => A): (Double, A) = {
    var last: Option[A] = None
    val ts = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      last = Some(step(r))
      val secs = (System.nanoTime() - t0) / 1e9
      log(f"setup rep $r: $secs%.2fs")
      secs
    }
    (Stats.median(ts), last.get)
  }
}

object Main {
  val Workloads = Seq("serve_reference", "serve_curation", "catalog_batch", "index_churn")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = new File(opts("work")).getAbsolutePath
    val out = opts("out")
    val spark = graft.Engine.session("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, work, seed, seconds, trace)
    try {
      workload match {
        case "serve_reference" => new ServeReference(ctx).run(sessionS)
        case "serve_curation" => new ServeCuration(ctx).run(sessionS)
        case "catalog_batch" => new CatalogBatch(ctx).run(sessionS)
        case "index_churn" => new IndexChurn(ctx).run(sessionS)
      }
      if (trace) {
        ctx.tracer.selfTimeByLayer.toSeq.sortBy(_._1).foreach { case (l, s) =>
          ctx.notes(s"self_s.$l") = fmt(s)
        }
        ctx.tracer.dump(new File(work, "spans.jsonl").getAbsolutePath)
        ctx.notes("span_dump") = "spans.jsonl"
      }
      writeResult(ctx, out)
    } finally spark.stop()
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.lang.Double.toString(v)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeResult(ctx: Ctx, path: String): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${quote(k)}:{${quote("value")}:${fmt(v)},${quote("unit")}:${quote(u)}}" }
        .mkString("{", ",", "}")
    val json = s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""failures":${ctx.failures.map(quote).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(ctx.e2e)},"layers":${metrics(ctx.layers)},""" +
      s""""notes":${ctx.notes.map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json + "\n")
  }

  /** Driver heap retained after a full GC, in MB. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(100); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}

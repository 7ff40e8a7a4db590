package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** In-memory spans recorded around calls into the program's layers.
  * A span carries its layer-qualified name, the unit of work it
  * belongs to and the span open on the same thread when it started
  * (its parent). Disabled tracers record nothing. */
final class Tracer {
  @volatile var on = false
  final case class Span(id: Long, parent: Long, name: String, unit: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[A](name: String, unit: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get().headOption.getOrElse(0L)
      open.set(id :: open.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, unit, t0, System.nanoTime()))
        open.set(open.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def seconds(name: String): Seq[Double] = named(name).map(_.seconds)
  def byUnit(name: String): Map[String, Span] = named(name).map(s => s.unit -> s).toMap

  /** Per-layer self time: each span's duration minus the union of its
    * children's intervals, summed by layer (the name's first segment). */
  def selfTimeByLayer: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""unit":"${s.unit}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Benchmark-owned Spark listener: per-job, per-stage and per-task
  * records, attributed to units by job group, plus each SQL
  * execution's final (post-AQE) plan for exchange counts. */
final class EngineListener extends SparkListener {
  final class Job(val id: Int, val group: String, val execId: Long, val start: Long,
                  val stageIds: Seq[Int]) { @volatile var end: Long = -1 }
  final class Stage(val submitted: Long, val numTasks: Int)
  final class TaskAgg {
    var run = 0L; var cpu = 0L; var gc = 0L; var shW = 0L; var shR = 0L
    var spill = 0L; var inBytes = 0L; var inRecs = 0L
    val launches = mutable.ArrayBuffer.empty[Long]
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  val tasks = new ConcurrentHashMap[Int, TaskAgg]()
  val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val started = new AtomicLong()
  private val ended = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new Job(e.jobId, group, exec, e.time, e.stageIds))
    started.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    ended.incrementAndGet()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = tasks.computeIfAbsent(e.stageId, _ => new TaskAgg)
    val m = e.taskMetrics
    a.synchronized {
      if (m != null) {
        a.run += m.executorRunTime; a.cpu += m.executorCpuTime; a.gc += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead; a.inRecs += m.inputMetrics.recordsRead
      }
      a.launches += e.taskInfo.launchTime
      a.durations += e.taskInfo.duration
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val sub = Option(stageSubmit.get(i.stageId)).map(_.longValue())
      .orElse(i.submissionTime).getOrElse(0L)
    stages.put(i.stageId, new Stage(sub, i.numTasks))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.putIfAbsent(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
    case _ => ()
  }

  /** Block until every started job has ended and the event stream has
    * been quiet for a moment (listener delivery is asynchronous). */
  def drain(): Unit = {
    var quiet = 0
    var last = -1L
    val deadline = System.currentTimeMillis() + 10000
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val now = started.get() + ended.get() + tasks.size()
      if (started.get() == ended.get() && now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  private def countNodes(p: SparkPlanInfo, pred: String => Boolean): Int =
    (if (pred(p.nodeName)) 1 else 0) + p.children.map(countNodes(_, pred)).sum

  /** Engine rollup of one unit: every job whose group is `group`. */
  def unit(group: String, wallS: Double): Map[String, Double] = {
    val js = jobs.values().asScala.filter(_.group == group).toSeq
    val announced = js.flatMap(_.stageIds).distinct
    val ran = announced.filter(stages.containsKey)
    val aggs = ran.flatMap(s => Option(tasks.get(s)).map(s -> _))
    def sum(f: TaskAgg => Long): Double = aggs.map(x => f(x._2).toDouble).sum
    val jobS = Stats.unionLength(js.filter(_.end > 0).map(j => (j.start, j.end))) / 1e3
    val execs = js.map(_.execId).filter(_ >= 0).distinct.flatMap(e => Option(plans.get(e)))
    val wait = aggs.map { case (sid, a) =>
      val sub = stages.get(sid).submitted
      a.launches.map(l => math.max(0L, l - sub)).sum / 1e3
    }.sum
    val skew = aggs.map { case (_, a) =>
      if (a.durations.isEmpty) 0.0
      else (a.durations.max - Stats.median(a.durations.map(_.toDouble).toSeq)) / 1e3
    }.sum
    Map(
      "engine.jobs" -> js.size.toDouble,
      "engine.stages" -> ran.size.toDouble,
      "engine.stages_skipped" -> (announced.size - ran.size).toDouble,
      "engine.tasks" -> aggs.map(_._2.durations.size.toDouble).sum,
      "engine.task_run_s" -> sum(_.run) / 1e3,
      "engine.task_cpu_s" -> sum(_.cpu) / 1e9,
      "engine.task_wait_s" -> wait,
      "engine.stage_skew_s" -> skew,
      "engine.single_task_stages" -> ran.count(s => stages.get(s).numTasks == 1).toDouble,
      "engine.gc_s" -> sum(_.gc) / 1e3,
      "engine.shuffle_write_bytes" -> sum(_.shW),
      "engine.shuffle_read_bytes" -> sum(_.shR),
      "engine.spill_bytes" -> sum(_.spill),
      "engine.exchanges" -> execs.map(countNodes(_, n =>
        n == "Exchange" || n == "BroadcastExchange")).sum.toDouble,
      "engine.reused_exchanges" -> execs.map(countNodes(_, _ == "ReusedExchange")).sum.toDouble,
      "engine.job_s" -> jobS,
      "engine.driver_nonjob_s" -> math.max(0.0, wallS - jobS),
      "scan.input_bytes" -> sum(_.inBytes),
      "scan.input_rows" -> sum(_.inRecs))
  }

  /** Per-stage (shuffle read bytes, task run seconds) of a unit, for the
    * doc's cross-checks. */
  def stageReads(group: String): Seq[(Int, Long, Double)] =
    jobs.values().asScala.filter(_.group == group).flatMap(_.stageIds).toSeq.distinct
      .flatMap(s => Option(tasks.get(s)).map(a => (s, a.shR, a.run / 1e3))).sortBy(_._1)

  /** Job intervals (ms) of a group, for clipping a span's job cover. */
  def jobIntervals(group: String): Seq[(Long, Long)] =
    jobs.values().asScala.filter(j => j.group == group && j.end > 0).map(j => (j.start, j.end)).toSeq
}

/** The local filesystem with list/status/open calls counted — installed
  * as `fs.file.impl` in traced runs so listing and footer reads made by
  * any layer are observable from outside it. */
class CountingLocalFS extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RemoteIterator, LocatedFileStatus}
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFS.lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingLocalFS.lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingLocalFS.statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFS.opens.incrementAndGet(); super.open(f, bufferSize)
  }
}
object CountingLocalFS {
  val lists = new AtomicLong()
  val statuses = new AtomicLong()
  val opens = new AtomicLong()
  def readOps: Long = lists.get() + statuses.get() + opens.get()
}

/** Hadoop FileSystem byte counters for the local scheme. */
object FsBytes {
  private def stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file")
  def read: Long = stats.map(_.getBytesRead).sum
  def written: Long = stats.map(_.getBytesWritten).sum
}

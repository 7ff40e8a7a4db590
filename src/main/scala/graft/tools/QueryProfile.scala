package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Per-query runtime profile: jobs, stages, task time, shuffle bytes —
  * the "where does the wall-clock actually go" companion to PlanDump
  * (initial plans hide AQE stage reuse; this measures what executed).
  *
  * Usage: runMain graft.tools.QueryProfile q1[,q2,...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_PROF_REPS
  * (default 2 — reports the LAST rep, so JIT/first-use costs are
  * excluded and the numbers match the bench's min-of-reps regime).
  */
object QueryProfile {
  private class Acc {
    val taskTimeMs = new LongAdder
    val gcTimeMs = new LongAdder
    val shuffleReadB = new LongAdder
    val shuffleWriteB = new LongAdder
    val inputB = new LongAdder
    val tasks = new LongAdder
    val fetchWaitMs = new LongAdder
    val spillB = new LongAdder
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile q1[,q2,...]")
    val names = args(0).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Engine.envCpus("SPARK_GRAFT_CPUS", 32)
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "2").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sources.GraftExtensions)
      .getOrCreate()
    Engine.tune(spark)
    Engine.analyzeTables(spark, sfDir)
    SparkEntry.prepareIndexFixtures(spark, sfDir)

    // per-stage accumulation, attributed to jobs on job end
    val stageAcc = new ConcurrentHashMap[Int, Acc]()
    val stageName = new ConcurrentHashMap[Int, String]()
    val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    val jobWall = new ConcurrentHashMap[Int, (Long, Long, String)]()
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (collecting) {
        val a = stageAcc.computeIfAbsent(t.stageId, _ => new Acc)
        val m = t.taskMetrics
        if (m != null) {
          a.taskTimeMs.add(m.executorRunTime)
          a.gcTimeMs.add(m.jvmGCTime)
          a.shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
          a.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
          a.shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
          a.inputB.add(m.inputMetrics.bytesRead)
          a.spillB.add(m.diskBytesSpilled)
          a.tasks.add(1)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (collecting) stageName.put(s.stageInfo.stageId, s.stageInfo.name.take(60))
      override def onJobStart(j: SparkListenerJobStart): Unit = if (collecting) {
        jobStages.put(j.jobId, j.stageIds.map(_.toInt))
        jobWall.put(j.jobId, (j.time, -1L,
          Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse("")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (collecting) {
        val cur = jobWall.get(j.jobId)
        if (cur != null) jobWall.put(j.jobId, (cur._1, j.time, cur._3))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var rep = 0
      while (rep < reps) {
        stageAcc.clear(); stageName.clear(); jobStages.clear(); jobWall.clear()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        collecting = rep == reps - 1
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        if (collecting) {
          // let the async listener bus drain before reading
          Thread.sleep(300)
          println(f"%n=== $name rep$rep wall ${wall}%.3f s ===")
          val jobs = jobWall.keySet().toArray(Array.empty[Integer]).map(_.toInt).sorted
          jobs.foreach { jid =>
            val (ts, te, desc) = jobWall.get(jid)
            val sids = jobStages.getOrDefault(jid, Seq.empty)
            val accs = sids.flatMap(s => Option(stageAcc.get(s)))
            def sum(f: Acc => LongAdder) = accs.map(a => f(a).sum()).sum
            println(f"job $jid%3d wall ${if (te > 0) (te - ts) / 1e3 else -1.0}%7.3f s " +
              f"tasks ${sum(_.tasks)}%4d taskTime ${sum(_.taskTimeMs) / 1e3}%8.2f s " +
              f"gc ${sum(_.gcTimeMs) / 1e3}%6.2f s " +
              f"in ${sum(_.inputB) / 1e6}%9.1f MB shufR ${sum(_.shuffleReadB) / 1e6}%8.1f MB " +
              f"shufW ${sum(_.shuffleWriteB) / 1e6}%8.1f MB fetchWait ${sum(_.fetchWaitMs) / 1e3}%6.2f s " +
              f"spill ${sum(_.spillB) / 1e6}%6.1f MB  $desc")
          }
          // slowest stages by task time
          val byStage = stageAcc.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, Acc]])
            .sortBy(e => -e.getValue.taskTimeMs.sum())
          println("top stages by task time:")
          byStage.take(8).foreach { e =>
            val a = e.getValue
            println(f"  stage ${e.getKey}%4d taskTime ${a.taskTimeMs.sum() / 1e3}%8.2f s " +
              f"tasks ${a.tasks.sum()}%4d shufR ${a.shuffleReadB.sum() / 1e6}%8.1f MB " +
              f"${stageName.getOrDefault(e.getKey, "")}")
          }
        }
        rep += 1
      }
    }
    spark.stop()
  }
}

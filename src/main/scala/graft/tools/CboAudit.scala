package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan/runtime audit for CBO join reordering: runs named SparkEntry
  * queries against ANALYZED catalog tables twice — joinReorder on and
  * off — printing wall seconds and the optimized-plan join order for
  * each, so a cost-model misstep on a specific query is attributable
  * before it ships (args: sfDir query[,query...]). */
object CboAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("q_tpch_q8")
    val cpus = graft.Engine.envCpus("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sources.GraftExtensions)
      .getOrCreate()
    graft.Engine.tune(spark)
    graft.Engine.analyzeTables(spark, sfDir)
    def joins(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
      p.collectLeaves().map(_.toString.linesIterator.next().take(90))
    names.foreach { name =>
      Seq(true, false).foreach { reorder =>
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", reorder.toString)
        spark.catalog.clearCache()
        System.gc()
        // warm once (JIT/codegen), time the second run
        val df0 = graft.SparkEntry.queries(name)(spark, sfDir)
        df0.write.format("noop").mode("overwrite").save()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[cbo-audit] $name reorder=$reorder ${sec}%7.2fs")
        joins(df.queryExecution.optimizedPlan).zipWithIndex.foreach {
          case (l, i) => println(f"    leaf$i%02d $l")
        }
      }
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    }
    spark.stop()
  }
}

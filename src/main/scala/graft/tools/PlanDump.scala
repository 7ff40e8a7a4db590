package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization round's plan evidence
  * (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [q1,q2,...]
  * (no query list = every declared query). Session setup mirrors
  * graft.Bench exactly (same master/conf/stats/fixtures), so the plans
  * are the ones the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [q1,q2,...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Engine.envCpus("SPARK_GRAFT_CPUS", 32)
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
    java.nio.file.Files.createDirectories(outDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            outDir.resolve(s"${name}_$suffix.txt"), plan)
        } catch {
          case e: Exception =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}

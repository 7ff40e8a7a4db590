package graft.tools

import graft.Engine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch micro-benchmark for isolating per-stage costs (optimization
  * round instrumentation; not part of any query path). */
object MicroProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.envCpus("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sources.GraftExtensions)
      .getOrCreate()
    Engine.tune(spark)
    Engine.analyzeTables(spark, sfDir)
    def docs = Engine.table(spark, sfDir, "documents")
      .select(col("doc_id").as("id"), substring(col("text"), 1, 60).as("s"))
    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "scan+project" -> (() => docs),
      "scan+repart" -> (() => docs.repartition(32)),
      "scan+shingles" -> (() => docs.withColumn("gs",
        graft.operators.SimilarityJoin.wordShingles(3)(col("s")))),
      "scan+repart+shingles" -> (() => docs.repartition(32).withColumn("gs",
        graft.operators.SimilarityJoin.wordShingles(3)(col("s")))),
      "scan+shingles+explode+agg" -> (() => docs.withColumn("gs",
        graft.operators.SimilarityJoin.wordShingles(3)(col("s")))
        .select(explode(col("gs")).as("g")).groupBy("g").count()),
      "fulltext+shinglehash" -> (() => Engine.table(spark, sfDir, "documents")
        .select(col("doc_id"), graft.pipeline.TextDedup.shingleHashes(col("text"), 3).as("sh")))
    )
    (0 until 3).foreach { rep =>
      variants.foreach { case (name, mk) =>
        System.gc()
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        println(f"[micro] rep$rep $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      }
    }
    spark.stop()
  }
}

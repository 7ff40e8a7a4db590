package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fresh-JVM first-query latency for the heaviest SERVING plan — the
  * measurement behind [[graft.service.QueryService.warmup]].
  *
  * `graft.Bench` cannot isolate this: its untimed fixture-prep runs
  * dozens of Spark jobs (index builds) that warm the JVM as a side
  * effect, which is NOT the serving deployment's shape. A QueryServer
  * starts against indexes that already exist on disk and the first
  * client query pays every one-time cost: catalyst JIT, codegen
  * framework + Janino, vectorized parquet readers, exchange plumbing.
  *
  * Usage (one fresh JVM per data point):
  *   graft.tools.ColdStartProbe <textIndexDir> <ivfIndexDir> <sfDir> <warm 0|1>
  * Prints one line: cold_first_query_sec plus the warmup seconds when
  * enabled. The query is q_hybrid_indexed's exact composition (pruned
  * BM25 leg + adaptive IVF leg + RRF fusion). */
object ColdStartProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: ColdStartProbe <textIndexDir> <ivfIndexDir> <sfDir> <warm 0|1>")
    val Array(tidx, ivf, sfDir, warmFlag) = args
    val cpus = graft.Engine.envCpus("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sources.GraftExtensions)
      .getOrCreate()
    graft.Engine.tune(spark)
    val tWarm =
      if (warmFlag == "1") graft.service.Warmup.prime(spark) else 0.0
    val t0 = System.nanoTime()
    val lex = graft.pipeline.Retrieval.topRanks(
      graft.pipeline.TextIndex.search(spark, tidx,
        Seq("spark", "hash", "window"), 20),
      col("score"), "doc_id", 20)
    val q = graft.Engine.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("embedding"))
    val den = graft.pipeline.Embeddings.ivfTopKIndexedFor(q, ivf,
        20, nprobe = 5, adaptive = true)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("int").as("rank"))
    graft.pipeline.Retrieval.rrfFuse(Seq(lex, den), "doc_id", 60, 15)
      .orderBy("doc_id")
      .write.format("noop").mode("overwrite").save()
    val tFirst = (System.nanoTime() - t0) / 1e9
    println(f"""{"warm":$warmFlag,"warmup_sec":$tWarm%.2f,"first_query_sec":$tFirst%.2f}""")
    spark.stop()
  }
}

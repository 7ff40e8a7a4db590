package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Benchmark-side access to the model-cache key of the index layer
  * (`Stores` is package-private). Compiled with the benchmark, not part
  * of the engine. */
object BenchProbes {
  def dirSig(spark: SparkSession, path: String): String = Stores.dirSig(spark, path)
}

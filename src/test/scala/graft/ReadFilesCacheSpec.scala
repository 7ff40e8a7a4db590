package graft

import graft.service.{QueryService, QueryStatus}
import graft.sources.ReadFiles
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, StandardCopyOption}

/** `read_files` reuses resolved relations across statements, keyed by
  * session, SQL conf, options and the signature of every matched leaf
  * file. Every change a later statement must see is pinned here. */
class ReadFilesCacheSpec extends AnyFunSuite with SparkFixture {

  private lazy val root = Files.createTempDirectory("graft_rf_cache_svc").toString
  private lazy val svc = new QueryService(spark, root)

  /** Spark jobs `body` launches (listener bus drained before counting). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Thread.sleep(500) // let earlier job events dispatch first
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      Thread.sleep(1000)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Write ids [from, from + n) as the single parquet file `dir/name`. */
  private def put(dir: Path, name: String, from: Long, n: Long): Unit = {
    val staging = Files.createTempDirectory("graft_rf_stage")
    spark.range(from, from + n, 1, 1).write.mode("overwrite").parquet(s"$staging/t")
    val part = Files.list(staging.resolve("t")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  private def await(id: String): Unit =
    assert(svc.awaitComplete(id) == QueryStatus.Complete, svc.status(id))

  test("added, deleted and rewritten files take effect on the next statement") {
    val dir = Files.createTempDirectory("graft_rf_glob")
    put(dir, "f0.parquet", 0, 10)
    put(dir, "f1.parquet", 10, 20)
    val sql = s"select count(*) as n, sum(id) as s from read_files('$dir/*.parquet')"
    def answer(): (Long, Long) = {
      val r = ReadFiles.sql(spark, sql).head()
      (r.getLong(0), r.getLong(1))
    }
    def sum(ids: Seq[Range]): (Long, Long) =
      (ids.map(_.size.toLong).sum, ids.map(_.map(_.toLong).sum).sum)
    assert(answer() == sum(Seq(0 until 30)))
    // warm: analysis reuses the relation and launches no job
    val (_, warmJobs) = jobsDuring(ReadFiles.sql(spark, sql))
    assert(warmJobs == 0, s"warm analysis launched $warmJobs job(s)")
    put(dir, "f2.parquet", 100, 5)
    assert(answer() == sum(Seq(0 until 30, 100 until 105)))
    Files.delete(dir.resolve("f0.parquet"))
    assert(answer() == sum(Seq(10 until 30, 100 until 105)))
    put(dir, "f1.parquet", 50, 7) // same name, different length
    assert(answer() == sum(Seq(50 until 57, 100 until 105)))
  }

  test("a directory path signs every leaf file below it") {
    val dir = Files.createTempDirectory("graft_rf_dir")
    Files.createDirectories(dir.resolve("part=1"))
    put(dir.resolve("part=1"), "a.parquet", 0, 4)
    val sql = s"select count(*) as n from read_files('$dir')"
    assert(ReadFiles.sql(spark, sql).head().getLong(0) == 4)
    Files.createDirectories(dir.resolve("part=2"))
    put(dir.resolve("part=2"), "b.parquet", 0, 3)
    assert(ReadFiles.sql(spark, sql).head().getLong(0) == 7)
  }

  test("a self-join reading the same read_files path twice") {
    val dir = Files.createTempDirectory("graft_rf_self")
    put(dir, "f.parquet", 0, 50)
    val sql =
      s"select count(*) as n from read_files('$dir/f.parquet') a " +
        s"join read_files('$dir/f.parquet') b on a.id = b.id + 1"
    assert(ReadFiles.sql(spark, sql).head().getLong(0) == 49)
    assert(ReadFiles.sql(spark, sql).head().getLong(0) == 49) // warm
    val id = svc.runQuery(sql)
    await(id)
    assert(svc.reader(id).read(service.ResultCursor(0, 0), 1).rows.head.getLong(0) == 49)
  }

  test("SET in the service re-resolves; host and service sessions never share entries") {
    // a parquet file without Spark's schema metadata: its unannotated
    // binary column is BINARY unless spark.sql.parquet.binaryAsString
    val file = Files.createTempDirectory("graft_rf_set").resolve("raw.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required binary payload; required int64 id; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      w.write(g.newGroup().append("payload", "hello").append("id", 1L))
    } finally w.close()
    val sql = s"select payload from read_files('$file')"
    import org.apache.spark.sql.types.{BinaryType, StringType}
    def served(): org.apache.spark.sql.types.DataType = {
      val id = svc.runQuery(sql)
      await(id)
      svc.reader(id).schema("payload").dataType
    }
    // the host resolves (and caches) first: the service must not pick
    // up the host's relation, whose views register in the host session
    assert(ReadFiles.sql(spark, sql).schema("payload").dataType == BinaryType)
    assert(served() == BinaryType)
    await(svc.runQuery("SET spark.sql.parquet.binaryAsString=true"))
    assert(served() == StringType)
    // the host's conf did not change, so its entry still holds
    assert(ReadFiles.sql(spark, sql).schema("payload").dataType == BinaryType)
  }
}

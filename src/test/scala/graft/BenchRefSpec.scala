package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-reference merge discipline on the COMMITTED files:
  * every query the committed `bench_out.json` timed must have a row in
  * the committed `bench_ref.json` (the min-merged best-known baseline
  * Bench.scala reads by default). A round that adds queries and
  * forgets `python3 tools/merge_bench_ref.py bench_out.json` would
  * otherwise quietly ship retime gates that never fire for the new
  * queries — the committed-reference sibling of the r14
  * whitespace-parse incident. No Spark session needed: this is a file
  * contract, not a measurement. */
class BenchRefSpec extends AnyFunSuite {

  private def queryKeys(path: String): Set[String] = {
    val p = java.nio.file.Paths.get(path)
    assume(java.nio.file.Files.exists(p), s"$path not present in this checkout")
    val text = java.nio.file.Files.readString(p)
    val qStart = text.indexOf("\"queries\":{") + "\"queries\":{".length
    assert(qStart >= "\"queries\":{".length, s"$path has no queries object")
    val body = text.substring(qStart, text.indexOf('}', qStart))
    "\"([^\"]+)\":".r.findAllMatchIn(body).map(_.group(1)).toSet
  }

  test("every query in the committed bench_out.json is min-merged into bench_ref.json") {
    val run = queryKeys("bench_out.json")
    val ref = queryKeys("bench_ref.json")
    val unmerged = (run -- ref).toSeq.sorted
    assert(unmerged.isEmpty,
      s"${unmerged.size} committed bench queries missing from bench_ref.json " +
        s"(${unmerged.mkString(", ")}) — run `python3 tools/merge_bench_ref.py " +
        "bench_out.json` and commit both files, or these queries' retime " +
        "gates stay permanently inert")
  }

  test("bench_ref.json is an sf0.1 record (cross-SF numbers would poison every retime)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench_ref.json"))
    assert(text.contains("\"sf\":\"/root/testdata/sf0.1\""),
      "bench_ref.json must carry sf /root/testdata/sf0.1")
  }

  test("core counts parse as positive integers or fail loudly") {
    def cpus(v: String) = Engine.envCpus("SPARK_GRAFT_CPUS", 32, Map("SPARK_GRAFT_CPUS" -> v))
    assert(Engine.envCpus("SPARK_GRAFT_CPUS", 32, Map.empty) == 32)
    assert(cpus("4") == 4 && cpus(" 8 ") == 8)
    Seq("", "0", "-2", "four", "4.5", "4x").foreach { bad =>
      val e = intercept[IllegalArgumentException](cpus(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}

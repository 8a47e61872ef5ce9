package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must never read as a fast one: Bench lists it
  * under "failed" in the full record and exits nonzero. Forked because
  * the subject is Bench's exit code; an empty data directory makes
  * every table read fail. */
class BenchFailureSpec extends AnyFunSuite {

  test("Bench lists failing queries and exits 1") {
    val sfDir = java.nio.file.Files.createTempDirectory("graft_empty_sf")
    val outFile = java.nio.file.Files.createTempFile("graft_bench", ".json")
    val (code, out) = ForkedJvm.run("graft.Bench", env = Seq(
      "SPARK_GRAFT_SF_DIR" -> sfDir.toString,
      "SPARK_GRAFT_BENCH_LEGS" -> "1",
      "SPARK_GRAFT_LOAD_GATE" -> "0",
      "SPARK_GRAFT_BENCH_OUT" -> outFile.toString))
    val record = java.nio.file.Files.readString(outFile)
    assert(code == 1, s"exit=$code\n${out.takeRight(3000)}")
    assert(""""failed":\["q\w+"""".r.findFirstIn(record).isDefined, record)
    assert(out.contains("[bench] q01_agg_sums failed:"), out.takeRight(3000))
  }
}

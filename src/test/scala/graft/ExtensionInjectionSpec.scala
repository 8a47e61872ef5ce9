package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the library's DEPLOYMENT shape — the first thing a real
  * cluster user hits: a FRESH JVM whose session is built with nothing
  * but the string conf
  * `spark.sql.extensions=graft.functions.GraftExtensions` (no graft
  * code touched beforehand) must resolve every injected SQL function,
  * fire RangeJoinRewrite, and plan AsOfJoinPlan nodes. Runs
  * [[graft.tools.ExtensionsDemo]] in a forked JVM because getOrCreate
  * in THIS JVM would reuse the suite session and silently skip the
  * extension path — exactly the failure mode this spec exists to
  * catch. */
class ExtensionInjectionSpec extends AnyFunSuite {

  test("spark.sql.extensions conf alone wires functions + optimizer " +
    "rule + planner strategy in a fresh JVM") {
    val (code, out) = ForkedJvm.run("graft.tools.ExtensionsDemo")
    assert(code == 0 &&
      out.contains("extensions injection OK"),
      s"exit=$code\n${out.takeRight(3000)}")
  }
}

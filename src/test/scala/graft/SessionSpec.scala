package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session configuration every main runs under (the one
  * `graft.Bench` measures) and the `SPARK_GRAFT_EXTRA_CONF` parser —
  * without building a session. */
class SessionSpec extends AnyFunSuite {

  test("Session.local applies the bench configuration") {
    assert(Session.conf == Seq(
      "spark.sql.shuffle.partitions" -> Session.cpus,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000"))
    assert(Session.cpus == sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
  }

  test("extra conf parses k=v;k=v, keeps '=' in values, and throws on " +
    "an entry without '='") {
    assert(Session.parseExtra("a=1;b=x=y") == Seq("a" -> "1", "b" -> "x=y"))
    assert(Session.parseExtra("") == Nil)
    intercept[IllegalArgumentException](Session.parseExtra("a=1;junk"))
  }
}

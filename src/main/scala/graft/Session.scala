package graft

import org.apache.spark.sql.SparkSession

/** The one local-session configuration every graft main runs under —
  * the configuration `graft.Bench` measures, so tools that time or
  * explain a query see the same plans and codegen behaviour as the
  * bench. It deliberately does not install `GraftExtensions`: that
  * would change the plans Bench measures. */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The bench configuration, in the order it is applied. */
  def conf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // Spark's generated-class cache defaults to 100 entries; the query
    // suite compiles far more (iterative families codegen fresh plans
    // per round), so the LRU thrashes and big plans recompile at their
    // timed run — measured q106 19.3 s (evicted) vs 7.1 s (cached),
    // whole-suite 146 s → 109 s at local[32].
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** `local[cpus]` with [[conf]], then `extra`, at WARN log level. */
  def local(extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = (conf ++ extra).foldLeft(
      SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parses `k=v;k=v` session overrides; an entry without `=` throws
    * rather than being dropped, so a mistyped A/B arm cannot silently
    * run the baseline. */
  def parseExtra(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry without '=': '$kv'")
      kv.substring(0, i).trim -> kv.substring(i + 1)
    }

  /** [[parseExtra]] of `SPARK_GRAFT_EXTRA_CONF` (empty when unset). */
  def envExtra: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseExtra).getOrElse(Nil)
}

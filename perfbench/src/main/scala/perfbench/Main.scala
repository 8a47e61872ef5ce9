package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.{LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload and writes a JSON record of
  * every operation it timed, the counters assigned to each, the spans of
  * a traced run and the workload's own facts. `run.py` turns the record
  * into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --out <file>
  *             [--goldens <file>]
  *             [--min-passes <n>] [--dump <dir>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val work = args("work")
    // the session conf of graft.Bench, so the numbers relate to it; the
    // directories are the benchmark's own, inside its working tree
    val conf = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val spark = conf.foldLeft(SparkSession.builder())(
      (b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = args("trace") == "1"
    val rec = new Recorder(spark)
    val ctx = Ctx(spark, rec, args("data"), work, args("seed").toLong,
      args.get("goldens").map(readJson), args.get("dump"))
    val wl = Workloads(args("workload"))

    val (compiles0, compileMs0) = rec.compileTotals
    wl.warmup(ctx)
    val (compiles1, compileMs1) = rec.compileTotals
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // closed loop: a pass starts when the previous one has committed;
    // passes repeat until the run has measured `seconds`. A traced run
    // traces its second pass only: the untraced passes give the tracing
    // overhead. A workload whose untraced runs make two passes gets a
    // third, so the traced pass has an untraced one on either side.
    rec.resetPeak()
    val seconds = args("seconds").toDouble
    val minPasses = args.get("min-passes").map(_.toInt)
      .getOrElse(if (traced) math.max(wl.minPasses + 1, Main.TracedPass)
        else wl.minPasses)
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds &&
           pass < wl.maxPasses(ctx)) {
      pass += 1
      rec.tracing = traced && pass == Main.TracedPass
      wl.pass(ctx, pass)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val peak = rec.peakStorageBytes
    rec.tracing = traced
    val facts = wl.finish(ctx, pass) ++
      Map("setup_compiles" -> (compiles1 - compiles0),
        "setup_compile_ms" -> (compileMs1 - compileMs0)) ++
      (if (traced) Map("traced_pass" -> Main.TracedPass) else Map.empty)

    val out = new JMap[String, Any]()
    out.put("workload", wl.name)
    out.put("setup_s", setupS)
    out.put("measured_s", measuredS)
    out.put("passes", pass)
    out.put("peak_storage_bytes", peak)
    out.put("cores", cpus)
    out.put("jvm", System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))
    out.put("spark", spark.version)
    val confOut = new JMap[String, Any]()
    conf.foreach { case (k, v) => confOut.put(k, v) }
    out.put("conf", confOut)
    val factsOut = new JMap[String, Any]()
    facts.foreach { case (k, v) => factsOut.put(k, v) }
    out.put("facts", factsOut)
    out.put("ops", rec.opsJava)
    out.put("spans", rec.spansJava)
    new ObjectMapper().writeValue(new File(args("out")), out)
    spark.stop()
  }

  val TracedPass = 2

  def readJson(path: String): JMap[String, Any] =
    new ObjectMapper().readValue(new File(path), classOf[JMap[String, Any]])
}

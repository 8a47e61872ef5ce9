package graft

/** Runs a graft main in a fresh JVM on the test classpath — for specs
  * whose subject is a whole process (session build, exit code), which
  * getOrCreate in the suite JVM would silently reuse or skip. */
object ForkedJvm {
  // the module opens the build gives every forked Spark JVM
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** (exit code, interleaved stdout + stderr) of `mainClass args`. */
  def run(mainClass: String, args: Seq[String] = Nil,
          env: Seq[(String, String)] = Nil): (Int, String) = {
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp",
      sys.props("java.class.path"), mainClass) ++ args
    val out = new StringBuilder
    val logger = scala.sys.process.ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') },
      l => out.synchronized { out.append(l).append('\n') })
    val code = scala.sys.process.Process(cmd, None, env: _*)
      .run(logger).exitValue()
    (code, out.synchronized(out.toString))
  }
}

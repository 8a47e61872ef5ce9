package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode

import scala.collection.mutable
import scala.util.control.NonFatal

/** Single-query probe under the bench's session configuration
  * ([[graft.Session]]), with `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` session
  * overrides for A/Bs and `SPARK_GRAFT_SF_DIR` for the data.
  *
  * Usage: runMain graft.tools.Probe <time|jobs|plans> <q1,q2,…> [reps]
  *
  *   time  — `reps` (default 3) timed runs per query in one session,
  *     isolated from bench-order effects (codegen cache, GC debt of
  *     earlier queries): `PROFILE <name> <t…> min=<t>`.
  *   jobs  — one untimed warm-up, then `reps` (default 1) runs with a
  *     SparkListener: per run, jobs / stages / tasks and Σ task time vs
  *     wall (the scheduler-overhead share), then the top-40 stages by
  *     task time — the no-UI equivalent of the Stages tab.
  *   plans — the formatted physical plan of each query.
  *
  * Every run materializes the query's real output with
  * `queryExecution.toRdd.count()`, as `graft.Bench` does.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <time|jobs|plans> <q1,q2,...> [reps]"
    require(args.length >= 2 &&
      Set("time", "jobs", "plans").contains(args(0)), usage)
    val mode = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt
      else if (mode == "time") 3 else 1
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    val spark = graft.Session.local(graft.Session.envExtra)
    def unpersistAll(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    def timed(run: => Unit): Double = {
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }

    mode match {
      case "time" =>
        for ((name, fn) <- fns) {
          val times = (1 to reps).map { _ =>
            val dt = timed(fn(spark, d).queryExecution.toRdd.count())
            unpersistAll()
            dt
          }
          println(f"PROFILE $name%-24s " +
            times.map(t => f"$t%6.2f").mkString(" ") +
            f"  min=${times.min}%6.2f")
        }

      case "jobs" =>
        final case class St(var tasks: Int = 0, var taskMs: Long = 0L,
                            var subMs: Long = 0L, var doneMs: Long = 0L,
                            var name: String = "")
        val stages = mutable.LinkedHashMap.empty[Int, St]
        var jobs = 0
        val listener = new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit =
            synchronized { jobs += 1 }
          override def onStageSubmitted(s: SparkListenerStageSubmitted)
              : Unit = synchronized {
            val st = stages.getOrElseUpdate(s.stageInfo.stageId, St())
            st.subMs = System.currentTimeMillis()
            st.name = s.stageInfo.name.takeWhile(_ != '\n')
          }
          override def onStageCompleted(s: SparkListenerStageCompleted)
              : Unit = synchronized {
            val st = stages.getOrElseUpdate(s.stageInfo.stageId, St())
            st.doneMs = System.currentTimeMillis()
            st.tasks = s.stageInfo.numTasks
          }
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
            synchronized {
              val st = stages.getOrElseUpdate(t.stageId, St())
              if (t.taskInfo != null) st.taskMs += t.taskInfo.duration
            }
        }
        for ((name, fn) <- fns) {
          try fn(spark, d).queryExecution.toRdd.count()
          catch { case NonFatal(e) => println(s"$name warmup failed: $e") }
          unpersistAll()
          for (r <- 1 to reps) {
            listener.synchronized { stages.clear(); jobs = 0 }
            spark.sparkContext.addSparkListener(listener)
            val wall = timed(fn(spark, d).queryExecution.toRdd.count())
            unpersistAll()
            Thread.sleep(200) // let straggler listener events drain
            spark.sparkContext.removeSparkListener(listener)
            listener.synchronized {
              val nTasks = stages.values.map(_.tasks).sum
              val taskS = stages.values.map(_.taskMs).sum / 1e3
              println(f"JOBS $name%-28s rep$r wall=$wall%6.2f " +
                f"jobs=$jobs%3d stages=${stages.size}%3d " +
                f"tasks=$nTasks%5d taskTime=$taskS%7.2f s")
              for ((id, st) <- stages.toSeq.sortBy(-_._2.taskMs).take(40))
                println(f"  stage=$id%4d tasks=${st.tasks}%4d " +
                  f"taskMs=${st.taskMs}%7d " +
                  f"wallMs=${st.doneMs - st.subMs}%6d " +
                  s" ${st.name.take(90)}")
            }
          }
        }

      case "plans" =>
        for ((name, fn) <- fns) {
          println(s"===== $name =====")
          try println(fn(spark, d).queryExecution.explainString(FormattedMode))
          catch { case NonFatal(e) => println(s"failed: ${e.getMessage}") }
        }
    }
    spark.stop()
  }
}

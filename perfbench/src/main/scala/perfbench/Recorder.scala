package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** Spark's counters for one operation. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, waitMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var cuts, cutBytes = 0L
  var compiles = 0L
  var compileMs = 0.0

  def toJava: JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("jobs", jobs); m.put("stages", stages); m.put("tasks", tasks)
    m.put("task_ms", taskMs); m.put("gc_ms", gcMs); m.put("wait_ms", waitMs)
    m.put("shuffle_read", shuffleRead); m.put("shuffle_write", shuffleWrite)
    m.put("spill", spill); m.put("cuts", cuts); m.put("cut_bytes", cutBytes)
    m.put("compiles", compiles); m.put("compile_ms", compileMs)
    m
  }
}

/** One call into the engine, timed from outside. */
final case class Op(id: String, name: String, module: String, pass: Int,
                    startNs: Long, endNs: Long, ok: Boolean, error: String,
                    counters: Counters, facts: Map[String, Any])

/** A traced interval: name, start, end, parent span and operation id. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: String)

/** Assigns Spark's counters to whichever operation is running, and keeps
  * the operation records and (when tracing) the spans of a run in memory.
  *
  * Jobs carry the operation id as a local property, so jobs started from
  * helper threads of the same call are still assigned to it; block
  * updates arrive without properties and go to the current operation. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  @volatile private var current = "setup"
  private val counters = mutable.HashMap.empty[String, Counters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val stored = mutable.HashMap.empty[RDDBlockId, Long]
  private val rddsSeen = mutable.HashSet.empty[Int]
  private var storedBytes = 0L
  private var peakBytes = 0L
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val spanStack = mutable.Stack.empty[Int]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger
  /** Whether spans are recorded and traced-only layers run. */
  @volatile var tracing = false

  sc.addSparkListener(this)

  def now: Long = System.nanoTime() - t0

  private def of(op: String): Counters =
    counters.getOrElseUpdate(op, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Recorder.OpProperty))).getOrElse(current)
    of(op).jobs += 1
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      of(stageOp.getOrElse(e.stageInfo.stageId, current)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageOp.getOrElse(e.stageId, current))
    c.tasks += 1
    val m = e.taskMetrics
    if (e.taskInfo != null) {
      c.taskMs += e.taskInfo.duration
      if (m != null) {
        // scheduler delay as the Spark UI derives it, plus deserialisation
        val run = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime
        val delay = math.max(0L, e.taskInfo.duration - run -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
            e.taskInfo.gettingResultTime else 0L))
        c.waitMs += delay + m.executorDeserializeTime
      }
    }
    if (m != null) {
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId =>
          val info = e.blockUpdatedInfo
          val size = info.memSize + info.diskSize
          storedBytes -= stored.remove(b).getOrElse(0L)
          if (info.storageLevel.isValid && size > 0) {
            stored(b) = size
            storedBytes += size
            val c = of(current)
            if (rddsSeen.add(b.rddId)) c.cuts += 1
            c.cutBytes += size
          }
          peakBytes = math.max(peakBytes, storedBytes)
        case _ =>
      }
    }

  /** Peak bytes held by cached and checkpointed blocks since the last
    * reset. */
  def peakStorageBytes: Long = synchronized(peakBytes)
  def resetPeak(): Unit = synchronized { peakBytes = storedBytes }

  private def compileStats: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Classes compiled so far and their estimated compile time (ms). */
  def compileTotals: (Long, Double) = {
    val (n, mean) = compileStats
    (n, n * mean)
  }

  /** Runs `body` as one operation. A throw or a `check` fact holding an
    * error message marks it failed; the error text is kept. Returns the
    * body's value when the operation succeeded.
    *
    * `exclusive` operations run one at a time: the listener bus is
    * drained at both ends so every counter lands on them, and they are
    * traced. Non-exclusive ones (the concurrent warm-up) only record
    * their outcome. */
  def op[T](name: String, module: String, pass: Int,
            exclusive: Boolean = true)(
      body: => (T, Map[String, Any])): Option[T] = {
    val id = s"p$pass:$name:${nextId.incrementAndGet()}"
    if (exclusive) { ListenerBus.drain(sc); current = id }
    sc.setLocalProperty(Recorder.OpProperty, id)
    val (n0, ms0) = compileTotals
    val start = now
    val sid = if (tracing && exclusive) openSpan(name, id, start) else -1
    var value: Option[T] = None
    var facts = Map.empty[String, Any]
    var error: String = null
    try {
      val (v, f) = body
      value = Some(v); facts = f - "check"
      f.get("check").foreach(msg => error = msg.toString)
    } catch {
      case NonFatal(e) =>
        error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    val end = now
    if (sid >= 0) closeSpan(sid, end)
    sc.setLocalProperty(Recorder.OpProperty, null)
    val c = if (exclusive) {
      ListenerBus.drain(sc)
      current = "harness"
      val (n1, ms1) = compileTotals
      val c = synchronized(of(id))
      c.compiles = n1 - n0
      // the codegen source keeps a sampled histogram: its mean times the
      // number of compiles estimates the compile time of this call
      c.compileMs = math.max(0.0, ms1 - ms0)
      c
    } else new Counters
    ops.synchronized {
      ops += Op(id, name, module, pass, start, end, error == null, error,
        c, facts)
    }
    if (error != null) None else value
  }

  /** A traced sub-interval of the running operation; free when tracing
    * is off. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val sid = openSpan(name, current, now)
      try body finally closeSpan(sid, now)
    }

  private def openSpan(name: String, op: String, start: Long): Int = {
    val parent = spanStack.headOption.getOrElse(-1)
    val sid = spans.size
    spans += Span(sid, name, start, -1L, parent, op)
    spanStack.push(sid)
    sid
  }

  private def closeSpan(sid: Int, end: Long): Unit = {
    spans(sid) = spans(sid).copy(endNs = end)
    while (spanStack.nonEmpty && spanStack.pop() != sid) {}
  }

  def opsJava: JList[Any] = {
    val l = new JList[Any]()
    ops.foreach { o =>
      val m = new JMap[String, Any]()
      m.put("id", o.id); m.put("name", o.name); m.put("module", o.module)
      m.put("pass", o.pass); m.put("start_ns", o.startNs)
      m.put("end_ns", o.endNs); m.put("ok", o.ok); m.put("error", o.error)
      m.put("counters", o.counters.toJava)
      val f = new JMap[String, Any]()
      o.facts.foreach { case (k, v) => f.put(k, v) }
      m.put("facts", f)
      l.add(m)
    }
    l
  }

  def spansJava: JList[Any] = {
    val l = new JList[Any]()
    spans.foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("start_ns", s.startNs)
      m.put("end_ns", s.endNs); m.put("parent", s.parent); m.put("op", s.op)
      l.add(m)
    }
    l
  }
}

object Recorder {
  val OpProperty = "perfbench.op"
}

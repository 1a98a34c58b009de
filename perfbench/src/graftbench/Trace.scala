package graftbench

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** In-memory tracing for the benchmark's traced runs: spans around the
  * benchmark's calls into the program (name, start, end, parent, op id)
  * plus the Spark job, stage, task and SQL-execution events of a listener
  * registered only while a traced op runs. Times are epoch milliseconds
  * on one clock with the scheduler's event times. Everything is dumped as
  * plain maps when the run ends; the analysis lives in the runner. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private var curOp: Int = 0
  private var tracing = false
  private val listener = new Listener
  def active: Boolean = tracing

  /** Run `body` as op `id`, tracing it when `traced`; returns its value. */
  def op[T](id: Int, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      sc.addSparkListener(listener)
      curOp = id
      tracing = true
      try span("op")(body)
      finally {
        tracing = false
        GraftBenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    }

  /** A span around `body` when an op is being traced; jobs submitted
    * inside carry the innermost span's id as a local property. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption
      stack.push(id)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack.pop()
        sc.setLocalProperty(Tracer.SpanKey, parent.map(_.toString).orNull)
        spans += Map("id" -> id, "name" -> name, "parent" -> parent.getOrElse(-1),
          "op" -> curOp, "start" -> start, "end" -> end)
      }
    }

  def dump: Map[String, Any] = Map("spans" -> spans.toList) ++ listener.dump
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** The program frames of a call site, so a job or SQL execution can be
    * attributed to the layer that issued it. */
  def programFrames(details: String): String =
    Option(details).getOrElse("").split("\n").map(_.trim)
      .filter(l => l.startsWith("graft.") || l.startsWith("at graft."))
      .mkString("\n")
}

private final class Listener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[Int, Array[Long]]()
  private val execs = mutable.LinkedHashMap[Long, mutable.Map[String, Any]]()
  // per stage: tasks, cpu ns, gc ms, spill bytes, shuffle write, shuffle
  // read, input bytes, output bytes, task run ms
  private val fields = Seq("tasks", "cpu_ns", "gc_ms", "spill_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
    "output_bytes", "run_ms")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs(e.jobId) = mutable.Map[String, Any](
      "id" -> e.jobId, "start" -> e.time,
      "span" -> p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1),
      "exec" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
      "stages" -> e.stageIds.toList,
      "site" -> e.stageInfos.headOption.map(s => Tracer.programFrames(s.details)).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new Array[Long](fields.size))
      a(0) += 1
      a(1) += m.executorCpuTime
      a(2) += m.jvmGCTime
      a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(4) += m.shuffleWriteMetrics.bytesWritten
      a(5) += m.shuffleReadMetrics.totalBytesRead
      a(6) += m.inputMetrics.bytesRead
      a(7) += m.outputMetrics.bytesWritten
      a(8) += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = mutable.Map[String, Any]("id" -> s.executionId,
          "start" -> s.time, "site" -> Tracer.programFrames(s.details))
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_("end") = s.time)
      case _ =>
    }
  }

  def dump: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.map { case (id, a) =>
        id.toString -> fields.zip(a).toMap }.toMap,
      "execs" -> execs.values.map(_.toMap).toList)
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters fed by a SparkListener and a
  * QueryExecutionListener, both registered from outside the program. */
final class Meter extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  def snapshot: Map[String, Double] = synchronized { c.toMap }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      add("exec_run_s", m.executorRunTime / 1e3)
      add("exec_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime) / 1e3)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    add("queries", 1)
    val phases = qe.tracker.phases
    add("plan_s", Seq(QueryPlanningTracker.ANALYSIS,
      QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(phases.get).map(_.durationMs).sum / 1e3)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = add("queries", 1)
}

/** One timed interval at a layer boundary. Spans of one batch share
  * `batch`; `parent` is -1 for a batch's root. `counts` are the Meter
  * deltas over the span. */
final case class Span(id: Int, name: String, parent: Int, batch: Int,
                      startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Disabled, it only runs the body; enabled, it drains the
  * listener bus at each boundary so the Meter deltas belong to the span. */
final class Tracer(spark: SparkSession, meter: Meter, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var open: List[Int] = Nil
  private var nextId = 0
  var batch = 0

  private def drain(): Unit = PerfbenchBridge.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val before = meter.snapshot
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        drain()
        val t1 = System.nanoTime()
        open = open.tail
        val after = meter.snapshot
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        spans += Span(id, name, parent, batch, t0, t1, delta)
      }
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""batch":${s.batch},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counts":{$counts}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for the traced run: a SparkListener for executions,
  * jobs, stages and tasks, plus a QueryExecutionListener that counts the
  * Exchanges of each action's final (post-AQE) plan. Everything is kept in
  * memory, tagged with the pass that was active when the event arrived
  * (the driver drains the bus before it moves to the next pass), and
  * rendered once at the end of the run. Arithmetic over these records
  * (gap union, skew, module attribution) lives in `perfbench/metrics.py`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  /** Active pass id; -1 between passes (digests, cleanup). */
  @volatile var pass: Int = -1

  private final class Exec(val id: Long, val root: Long, val pass: Int,
                           val start: Long, val details: String) {
    var end: Long = -1L
  }
  private final class StageAcc(val pass: Int) {
    var tasks = 0
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, gcMs, cpuNs, shuffleRead, shuffleWrite, spill, inBytes,
        inRecords, outBytes = 0L
    var execId: Long = -1L
    var done = false
  }

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Int)]
  private val actions = mutable.ArrayBuffer.empty[(Int, String, Int, Long)]

  private def stage(id: Int, attempt: Int): StageAcc = synchronized {
    stages.getOrElseUpdate((id, attempt), new StageAcc(pass))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execs(e.executionId) = new Exec(e.executionId,
        e.rootExecutionId.getOrElse(e.executionId), pass, e.time, e.details)
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(e.executionId).foreach(_.end = e.time)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(stageExec(_) = execId)
    jobs += ((pass, execId, e.stageIds.size))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.done = true
      s.execId = stageExec.getOrElse(e.stageInfo.stageId, -1L)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    actions += ((pass, funcName, Tracer.exchanges(qe.executedPlan), durationNs))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = synchronized {
    actions += ((pass, funcName, Tracer.exchanges(qe.executedPlan), -1L))
  }

  /** All records as JSON-ready maps; `spans` are the driver-side spans,
    * to which each execution is attached as a child of the innermost
    * span open when it started. */
  def render(spans: Seq[Span]): Map[String, Any] = synchronized {
    def parentOf(t: Long): Option[Span] = spans
      .filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption
    val execSpans = execs.values.filter(_.pass >= 0).map { x =>
      Span(s"exec:${x.id}", x.start, math.max(x.end, x.start),
        parentOf(x.start).map(_.name), x.pass)
    }
    Map(
      "executions" -> execs.values.map(x => Map(
        "id" -> x.id, "root" -> x.root, "pass" -> x.pass, "start_ms" -> x.start,
        "end_ms" -> x.end, "details" -> x.details)).toSeq,
      "stages" -> stages.toSeq.filter(_._2.done).map { case ((id, att), s) =>
        Map("id" -> id, "attempt" -> att, "pass" -> s.pass,
          "exec" -> s.execId, "tasks" -> s.tasks,
          "durations_ms" -> s.durations.toSeq, "run_ms" -> s.runMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "shuffle_read_bytes" -> s.shuffleRead,
          "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
          "input_bytes" -> s.inBytes, "input_records" -> s.inRecords,
          "output_bytes" -> s.outBytes)
      },
      "jobs" -> jobs.map { case (p, e, n) =>
        Map("pass" -> p, "exec" -> e, "stages" -> n) }.toSeq,
      "actions" -> actions.map { case (p, f, x, d) =>
        Map("pass" -> p, "func" -> f, "exchanges" -> x, "duration_ns" -> d)
      }.toSeq,
      "spans" -> (spans ++ execSpans).map(_.toMap))
  }
}

/** One timed interval; epoch milliseconds. `parent` names another span. */
final case class Span(name: String, start: Long, end: Long,
                      parent: Option[String], pass: Int) {
  def toMap: Map[String, Any] = Map("name" -> name, "start_ms" -> start,
    "end_ms" -> end, "parent" -> parent, "pass" -> pass)
}

object Tracer {
  /** Shuffle and broadcast Exchanges in the final plan, subqueries
    * included; a reused exchange is not counted again. */
  def exchanges(p: SparkPlan): Int = {
    val self = p match {
      case _: Exchange => 1
      case _ => 0
    }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children ++ other.subqueries
    }
    self + kids.map(exchanges).sum
  }
}

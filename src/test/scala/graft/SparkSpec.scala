package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the driver actions (SQL executions) it starts,
    * in order, as (funcName, is a write). The listener bus is drained on
    * both sides, so earlier tests' events stay out and none of body's are
    * missed. */
  def actionsDuring[T](body: => T): (T, Seq[(String, Boolean)]) = {
    import org.apache.spark.graftaccess.Bus
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    def record(funcName: String, qe: QueryExecution): Unit =
      actions.add(funcName -> qe.analyzed.exists {
        case _: DataWritingCommand => true
        case _ => false
      })
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = record(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = record(funcName, qe)
    }
    Bus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val result = try {
      val r = body
      Bus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (result, actions.asScala.toSeq)
  }

  /** `body`'s result and the number of classes Spark's codegen compiled
    * while it ran. The codegen cache is JVM-wide, so a class generated
    * before `body` and still cached costs no compile. */
  def compilesDuring[T](body: => T): (T, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    val result = body
    (result, compiles - before)
  }
}

package jirabench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and layer counters for the traced run.
  *
  * Spans are recorded around each call the harness makes into a layer:
  * name, start and end (ns since the tracer started), parent span and the
  * id of the operation they belong to. They stay in memory and are written
  * out once, at the end of the run.
  *
  * Spark's own counters (jobs, stages, tasks, task CPU, GC, shuffle bytes,
  * Catalyst phases, parquet writes) come from a SparkListener and a
  * QueryExecutionListener. Their events arrive asynchronously, so the
  * harness drains the listener bus whenever it switches [[bucket]]: every
  * event is then counted in the bucket that was current when it was made.
  * With tracing off nothing is registered and every call is a pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var opId = 0

  /** Counter totals per bucket, e.g. `("action", "exec.tasks")`. */
  private val counts = new java.util.concurrent.ConcurrentHashMap[(String, String), Double]()
  @volatile var bucket: String = "none"

  private def add(k: String, v: Double): Unit =
    counts.merge((bucket, k), v, (a: Double, b: Double) => a + b)

  /** Switch the bucket that listener events count against. */
  def switchTo(b: String): Unit = if (enabled) {
    org.apache.spark.jirabench.Bus.drain(spark.sparkContext)
    bucket = b
  }

  /** Totals of one bucket since the last [[reset]]. */
  def totals(b: String): Map[String, Double] = {
    if (enabled) org.apache.spark.jirabench.Bus.drain(spark.sparkContext)
    val m = Map.newBuilder[String, Double]
    counts.forEach((k, v) => if (k._1 == b) m += k._2 -> v)
    m.result()
  }

  def reset(): Unit = counts.clear()

  /** Start a new operation: spans opened until the next call share its id. */
  def newOp(): Int = { opId += 1; opId }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, opId, name, t0 - origin, t1 - origin)
      }
    }

  def writeSpans(path: String): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"catalyst.${phase}_ms", s.durationMs.toDouble) }
      val plan = Option(qe.commandExecuted).getOrElse(qe.analyzed)
      if (plan.find(_.nodeName == "InsertIntoHadoopFsRelationCommand").isDefined)
        add("sources.parquet_write_s", durationNs / 1e9)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
  }

  def stop(): Unit = if (enabled) {
    org.apache.spark.jirabench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(PlanListener)
    spark.sparkContext.removeSparkListener(JobListener)
  }
}

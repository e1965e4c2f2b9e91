package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder, built only from Spark's public listener
  * seams: task metrics (`SparkListenerTaskEnd`), SQL executions
  * (`SparkListenerSQLExecutionStart/End`, named by the library function
  * on their call site, or by the sink table their plan reads or writes),
  * per-action planning phases
  * (`QueryExecution.tracker` via a `QueryExecutionListener`) and the
  * codegen compile histogram (`CodegenMetrics`).
  *
  * Everything stays in memory until [[snapshot]]: spans are tagged
  * name / start / end / parent, where the parent is the micro-batch id
  * (from the batch description streaming sets on its jobs) or the label
  * of the enclosing [[span]] call. */
final class Tracer private (spark: SparkSession) {

  final case class Span(name: String, startMs: Long, endMs: Long, parent: String)

  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Map[Long, (String, Long, String)]()
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobsByParent = mutable.Map[String, Int]().withDefaultValue(0)
  @volatile private var current: String = ""

  private def add(k: String, v: Double): Unit = counters(k) += v

  private val BatchRe = "batch = (\\d+)".r.unanchored
  private val FrameRe = "graft\\.([a-z]+)\\.([A-Za-z]+)\\$\\.([A-Za-z]+)".r.unanchored

  /** `module.function` of the first library frame in a call site. */
  private def owner(details: String): String = details match {
    case FrameRe(pkg, obj, fn) => s"$pkg.$obj.$fn"
    case _ => details.linesIterator.find(_.contains("graft.")).map(_.trim.take(80))
      .getOrElse("other")
  }

  /** Which sink table an execution touches, from the paths in its
    * physical plan. A micro-batch's executions all carry the stream's
    * own call site, so inside `casSinkTo` the plan is what tells a
    * status-table execution (`StatusStore`) from a jobs-table one
    * (`EmailJobSink`). */
  private def sinkTable(plan: String): Option[String] =
    if (plan == null) None
    else if (plan.contains("/status/") || plan.contains("/status]")) Some("sink.status")
    else if (plan.contains("/jobs/") || plan.contains("/jobs]") || plan.contains("/jobs,"))
      Some("sink.jobs")
    else None

  private def parentOf(description: String): String = Option(description) match {
    case Some(BatchRe(b)) => s"batch-$b"
    case _ => current
  }

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      add("tasks", 1)
      if (m != null) {
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val d = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      jobsByParent(parentOf(d)) += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        open(s.executionId) = (sinkTable(s.physicalPlanDescription)
            .getOrElse(owner(s.details)), s.time, parentOf(s.description))
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        open.remove(s.executionId).foreach { case (n, t0, p) =>
          spans += Span("exec:" + n, t0, s.time, p)
        }
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        qe.tracker.phases.foreach { case (phase, s) => add("phase_" + phase + "_ms", s.durationMs) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
  private var codegen0 = codegen

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `f` as a span named `name`; spans and SQL executions opened
    * inside take it as their parent. */
  def span[A](name: String, parent: String = "")(f: => A): A = {
    val prev = current
    current = name
    val t0 = System.currentTimeMillis()
    try f finally {
      drain()
      lock.synchronized(spans += Span(name, t0, System.currentTimeMillis(), parent))
      current = prev
    }
  }

  /** Events reach listeners asynchronously; wait for the bus to empty. */
  def drain(): Unit = Tracer.drain(spark)

  def snapshot(): Map[String, Any] = {
    drain()
    val (c1, mean) = codegen
    lock.synchronized {
      Map(
        "counters" -> counters.toMap,
        "jobs_by_parent" -> jobsByParent.toMap,
        "codegen_classes" -> (c1 - codegen0._1),
        "codegen_compile_ms" -> (c1 - codegen0._1) * mean,
        "spans" -> spans.toSeq.map(s => Map(
          "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "parent" -> s.parent)))
    }
  }

  def reset(): Unit = lock.synchronized {
    spans.clear(); counters.clear(); jobsByParent.clear()
    codegen0 = codegen
  }

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = new Tracer(spark)

  /** Listener events arrive asynchronously; waits until the bus has
    * delivered everything posted so far. */
  def drain(spark: SparkSession): Unit =
    try {
      val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
}

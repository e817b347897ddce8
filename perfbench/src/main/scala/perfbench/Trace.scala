package perfbench

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory trace of one benchmark process: spans the benchmark opens
  * around its calls into the library, plus the Spark jobs, stages and
  * query-planning phases those calls caused. Nothing is written until
  * [[toJson]] at the end of the run; the arithmetic over the raw records
  * (self time, driver gap, per-layer medians) happens in `measure.py`.
  *
  * Jobs are tied to spans through a SparkContext local property that
  * [[span]] sets on the calling thread: Spark copies local properties into
  * every job it submits, including jobs from threads the library starts
  * inside the call. Planning phases carry only wall-clock times and are
  * tied to spans by time in `measure.py`. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var runId = ""

  private val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  private val stages = mutable.ArrayBuffer[Map[String, Any]]()
  private val phases = mutable.ArrayBuffer[Map[String, Any]]()
  private val stageSpan = mutable.Map[Int, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty))).orNull
      e.stageIds.foreach(id => if (span != null) stageSpan(id) = span)
      jobs += Map("job" -> e.jobId, "span" -> span, "start_ms" -> e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += Map(
          "stage" -> i.stageId, "span" -> stageSpan.get(i.stageId).orNull,
          "start_ms" -> i.submissionTime.getOrElse(0L),
          "end_ms" -> i.completionTime.getOrElse(0L),
          "tasks" -> i.numTasks,
          "executor_cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
          "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
          "shuffle_write_bytes" ->
            (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "shuffle_records" ->
            (if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten))
      }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        phases += Map("phase" -> phase, "start_ms" -> s.startTimeMs,
          "end_ms" -> s.endTimeMs)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }

  /** Record while `f` runs, under run id `id`: the listeners are attached
    * only for traced units, so untraced units in the same process pay
    * nothing for them. */
  def recording[T](id: String)(f: => T): T = {
    runId = id
    sc.addSparkListener(listener)
    spark.listenerManager.register(planning)
    try f
    finally {
      ListenerBridge.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(planning)
    }
  }

  /** Time `f` as a span named `name`, nested in the enclosing span. The
    * listener bus is drained on both sides, so every event of the call is
    * recorded before the next span opens. */
  def span[T](name: String)(f: => T): T = {
    ListenerBridge.waitUntilEmpty(sc)
    val parent = stack.headOption
    val s = new Span(s"s${spans.size}", name, parent.map(_.id).orNull, runId)
    spans += s
    stack.push(s)
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, s.id)
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      s.durNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanProperty, prev)
      stack.pop()
      ListenerBridge.waitUntilEmpty(sc)
    }
  }

  /** Attach counts to the most recent span named `name`. */
  def annotate(name: String, counts: Map[String, Any]): Unit =
    spans.reverseIterator.find(_.name == name).foreach(_.counts ++= counts)

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "s" -> s.durNs / 1e9) ++ s.counts).toSeq,
      "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
      "phases" -> phases.toSeq)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final class Span(val id: String, val name: String, val parent: String,
                   val run: String) {
    var startMs = 0L
    var endMs = 0L
    var durNs = 0L
    val counts = mutable.Map[String, Any]()
  }

  /** Spans around calls both the traced and the untraced arm make. */
  implicit final class OptionalTrace(val t: Option[Trace]) extends AnyVal {
    def span[T](name: String)(f: => T): T = t match {
      case Some(tr) => tr.span(name)(f)
      case None => f
    }
  }
}

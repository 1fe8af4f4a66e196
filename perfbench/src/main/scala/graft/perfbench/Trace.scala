package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a call into a layer, timed from the benchmark's side.
  * Times are seconds since the harness started.
  */
final case class Span(id: Long, name: String, parent: Long, run: String,
    start: Double, end: Double)

/** Spark counters summed over the jobs that started while a span was
  * the innermost open one.
  */
final class Counters {
  var jobs, stages, cpuNs, gcMs, shuffleWrite, spill, peakMem, outputBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem); outputBytes += o.outputBytes
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "task_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakMem,
    "output_bytes" -> outputBytes)
}

/** Attributes Spark jobs to spans. The open span's id travels as a
  * SparkContext local property, which every job started from that
  * thread carries — including the micro-batch thread of a streaming
  * query, which inherits the properties of the thread that started it.
  */
final class JobListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  val bySpan: mutable.Map[Long, Counters] = mutable.Map.empty

  private def acc(span: Long) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    acc(span).jobs += 1
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = acc(stageSpan.getOrElse(e.stageId, 0L))
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Progress of every streaming query, keyed by the query's run id. */
final class ProgressListener extends StreamingQueryListener {
  val byRun: mutable.Map[String, mutable.ArrayBuffer[Map[String, Any]]] =
    mutable.Map.empty

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      byRun.getOrElseUpdate(p.runId.toString, mutable.ArrayBuffer.empty) += Map(
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "add_batch_s" -> ms("addBatch"), "trigger_s" -> ms("triggerExecution"))
    }
}

/** Spans kept in memory and written out once, at exit. With tracing
  * off, [[apply]] only runs its body.
  */
final class Tracer(val on: Boolean, val run: String, t0: Long) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val open = mutable.Stack.empty[Long]
  private var nextId = 0L
  private var sc: SparkContext = _

  def now: Double = (System.nanoTime() - t0) / 1e9

  /** Point span attribution at a new SparkContext (one per setup round). */
  def attach(context: SparkContext): Unit = {
    sc = context
    if (on) mark()
  }

  private def mark(): Unit =
    if (sc != null && !sc.isStopped)
      sc.setLocalProperty(Tracer.Prop, open.headOption.map(_.toString).orNull)

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0L)
      val start = now
      open.push(id)
      mark()
      try body
      finally {
        open.pop()
        mark()
        spans += Span(id, name, parent, run, start, now)
      }
    }
}

object Tracer {
  val Prop = "perfbench.span"
}

package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer attribution for the traced run: a SparkListener that keeps
  * one record per job (interval, task count, executor CPU, shuffle and
  * I/O volumes), and spans the harness opens around each layer call.
  * Jobs are matched to spans afterwards by start time (one client thread
  * opens spans, so they never overlap). When tracing is off no listener
  * is registered and a span is only the call itself. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = new JobRec(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); r <- jobs.get(j)) {
        r.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          r.inputRecords += m.inputMetrics.recordsRead
          r.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  if (on) sc.addSparkListener(listener)

  /** Run `body` as one layer span named `name` (recorded also when the
    * body throws, so later annotations still land on the right span). */
  def span[T](name: String)(body: => T): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val seconds = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      if (on) synchronized { spans += Span(name, startMs, endMs, seconds, Nil) }
    }
  }

  /** Attach counts to the span closed last (computed outside its timed
    * region, from the layer's materialized output). */
  def annotate(attrs: (String, Any)*): Unit = if (on) synchronized {
    val last = spans.last
    spans(spans.size - 1) = last.copy(attrs = last.attrs ++ attrs)
  }

  /** Wait until the listener bus has delivered every started job's end
    * (task ends precede their job's end on the bus). */
  def drain(timeoutMs: Long = 10000): Unit = if (on) {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = synchronized { jobs.values.exists(_.endMs < 0) }
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def json: Seq[(String, Any)] = synchronized {
    Seq(
      "jobs" -> jobs.values.toSeq.map { r =>
        Seq[(String, Any)]("id" -> r.id, "start_ms" -> r.startMs, "end_ms" -> r.endMs,
          "tasks" -> r.tasks, "cpu_s" -> r.cpuNs / 1e9,
          "shuffle_bytes" -> r.shuffleBytes,
          "input_records" -> r.inputRecords, "output_bytes" -> r.outputBytes)
      },
      "spans" -> spans.toSeq.map { s =>
        Seq[(String, Any)]("name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "s" -> s.seconds) ++ s.attrs
      })
  }
}

object Tracer {

  final class JobRec(val id: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
  }

  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double,
                        attrs: Seq[(String, Any)])
}

package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's call into `layer.name` during operation `op`. Spans
  * of one operation share `op`; `seq` tells calls apart. */
final case class Span(op: Int, layer: String, name: String, seq: Int,
                      startMs: Double, endMs: Double) {
  def tag: String = s"$op|$layer|$name|$seq"
  def ms: Double = endMs - startMs
}

/** Task totals of one stage, keyed by the span tag its job ran under. */
final class StageRec(var tag: String, val submitMs: Long) {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(var tag: String, val startMs: Long) {
  var endMs: Long = -1L
}

/** Tracing for the per-layer run. Spans are recorded around the
  * benchmark's own calls into `graft.*`; each span also sets a Spark
  * local property, so the SparkListener can attribute every job, stage
  * and task to the span (and therefore the layer and operation) that
  * caused it. A QueryExecutionListener records Catalyst's planning phases.
  * Everything stays in memory until [[stop]], which drains the
  * listener bus so the totals are complete. With tracing off, [[span]]
  * is a plain call. */
final class Tracer(s: SparkSession) {
  import Tracer.TagKey

  private var on = false
  private var op = -1
  private var seq = 0
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** (start, duration) in milliseconds of every Catalyst planning phase
    * seen while the listeners were registered. */
  val planPhases = mutable.ArrayBuffer.empty[(Double, Double)]

  def enabled: Boolean = on

  /** Turns spans on or off between operations while the listeners stay
    * registered; work of untraced operations carries no span tag. */
  def enable(b: Boolean): Unit = {
    on = b
    if (!b) s.sparkContext.setLocalProperty(TagKey, null)
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable to listener event times. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def beginOp(i: Int): Unit = {
    op = i
    if (on) s.sparkContext.setLocalProperty(TagKey, s"$i|bench|op|0")
  }

  def endOp(): Unit = if (on) s.sparkContext.setLocalProperty(TagKey, null)

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      seq += 1
      val sp0 = Span(op, layer, name, seq, nowMs, 0.0)
      val sc = s.sparkContext
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, sp0.tag)
      try f
      finally {
        spans += sp0.copy(endMs = nowMs)
        sc.setLocalProperty(TagKey, prev)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
      jobs(e.jobId) = new JobRec(tag, e.time)
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
      val rec = stages.getOrElseUpdate(e.stageInfo.stageId,
        new StageRec(tag, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      if (rec.tag == null) rec.tag = tag
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val rec = stages.getOrElseUpdate(e.stageId, new StageRec(null, e.taskInfo.launchTime))
      rec.tasks += 1
      rec.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.inBytes += m.inputMetrics.bytesRead
        rec.inRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
      planPhases ++= qe.tracker.phases.values.map(p => (p.startTimeMs.toDouble, p.durationMs.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  def start(): Unit = {
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
    on = true
  }

  /** Stops recording and waits until every event of the traced phase
    * has been delivered. */
  def stop(): Unit = {
    on = false
    s.sparkContext.setLocalProperty(TagKey, null)
    BusDrain.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(listener)
    s.listenerManager.unregister(qeListener)
  }

  /** Fills in the tag of stages and jobs that ran on threads the engine
    * started itself (which do not inherit local properties): such work
    * belongs to the operation whose interval contains its start time. */
  def resolveTags(opAt: Double => Option[Int]): Unit = synchronized {
    jobs.values.filter(_.tag == null).foreach { j =>
      j.tag = opAt(j.startMs.toDouble).map(o => s"$o|unknown|-|0").orNull
    }
    stages.foreach { case (id, st) =>
      if (st.tag == null)
        st.tag = stageJob.get(id).flatMap(jobs.get).map(_.tag)
          .orElse(opAt(st.submitMs.toDouble).map(o => s"$o|unknown|-|0")).orNull
    }
  }
}

object Tracer {
  val TagKey = "perfbench.span"

  /** (op, layer) of a span tag; None for work outside any operation. */
  def opLayer(tag: String): Option[(Int, String)] =
    Option(tag).map(_.split('|')).collect { case a if a.length >= 2 => (a(0).toInt, a(1)) }

  /** Total length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      if (v.length % 2 == 1) v(v.length / 2) else (v(v.length / 2 - 1) + v(v.length / 2)) / 2
    }
}

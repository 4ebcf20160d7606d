package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._

/** One timed call at a layer boundary. `parent` indexes `Recorder.spans`
  * (-1 for an op's root span) and `op` the op the call belongs to.
  */
final case class Span(name: String, start: Double, end: Double, parent: Int, op: Int)

/** One closed-loop operation (a night, a request or a query). */
final case class OpRec(id: Int, kind: String, start: Double, end: Double,
    ok: Boolean, error: String)

/** In-memory record of a run: ops always, spans and per-op counters only
  * when tracing. Times are seconds since the recorder was made; `epochMs`
  * maps them onto the wall clock the Spark listener reports in.
  */
final class Recorder(val tracing: Boolean) {
  private val origin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis().toDouble

  def now(): Double = (System.nanoTime() - origin) / 1e9
  def epochMs(t: Double): Double = epochOrigin + t * 1000.0
  def fromEpochMs(ms: Double): Double = (ms - epochOrigin) / 1000.0

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[OpRec]()
  val counters = mutable.LinkedHashMap[Int, mutable.LinkedHashMap[String, Double]]()
  private var stack: List[Int] = Nil
  private var currentOp = -1

  /** Time `body` as a child of the innermost open span (tracing only). */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val idx = spans.size
      spans += Span(name, now(), Double.NaN, stack.headOption.getOrElse(-1), currentOp)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = now())
      }
    }

  /** Run one op. A throw marks the op failed; it never escapes. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val id = ops.size
    currentOp = id
    val t0 = now()
    val r = try Right(span(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = now()
    currentOp = -1
    ops += OpRec(id, kind, t0, t1, r.isRight,
      r.left.toOption.map(e => String.valueOf(e).take(300)).getOrElse(""))
    r.toOption
  }

  /** The op in progress, or -1 between ops. */
  def current: Int = currentOp

  def count(op: Int, name: String, v: Double): Unit =
    if (tracing && op >= 0) {
      val m = counters.getOrElseUpdate(op, mutable.LinkedHashMap())
      m(name) = m.getOrElse(name, 0.0) + v
    }
}

final case class TaskRec(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    input: Long, output: Long)

/** Collects job, stage and task events; [[window]] sums them over an op. */
final class EngineListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  /** Engine counters of the work started in [a, b] (epoch ms), and the
    * [launch, finish] interval of each task among it.
    */
  def window(a: Double, b: Double): (Seq[(String, Double)], Seq[(Double, Double)]) = {
    import scala.jdk.CollectionConverters._
    def in(t: Double) = t >= a && t <= b
    val ts = tasks.asScala.filter(t => in(t.launch.toDouble)).toSeq
    val mb = 1e6
    (Seq(
      "spark.jobs" -> jobs.asScala.count(t => in(t.toDouble)).toDouble,
      "spark.stages" -> stages.asScala.count(t => in(t.toDouble)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.input_mb" -> ts.map(_.input).sum / mb,
      "spark.output_mb" -> ts.map(_.output).sum / mb),
      ts.map(t => (t.launch.toDouble, t.finish.toDouble)))
  }
}

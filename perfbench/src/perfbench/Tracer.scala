package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder for the traced run. A span wraps one call into a module
  * of the program; while it is open, jobs launched from the calling
  * thread carry the job group `perfbench-span-<id>`. Jobs launched from
  * threads the call spawned (stream executions set their own job group)
  * are tied back through the inherited local property [[SpanProp]].
  * Everything is kept in memory and written out once, at the end of the
  * run; all arithmetic on it happens in `stats.py`.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L

  /** Epoch nanoseconds on the monotonic clock, comparable with the
    * listener's millisecond job times.
    */
  def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      t0: Long, var t1: Long, gc0: Long, var gc1: Long)

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  final case class Job(id: Int, span: Int, group: String, t0Ms: Long, var t1Ms: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  // Task counters summed per span, keyed through the stage that ran the
  // task (a job also lists the stages it skipped, so jobs cannot carry
  // them): stages, tasks, run ms, cpu ns, shuffle read, shuffle write,
  // spill, task gc ms, input records.
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val spanSums = new ConcurrentHashMap[Int, AtomicLongArray]()
  private val Counters = Seq("stages", "tasks", "run_ms", "cpu_ns", "shuffle_read",
    "shuffle_write", "spill", "task_gc_ms", "input_records")
  private def sums(span: Int) = spanSums.computeIfAbsent(span, _ => new AtomicLongArray(Counters.size))
  final case class Progress(runId: String, batch: Long, durMs: Long,
      inputRows: Long, stateRows: Long)
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def spanOf(p: java.util.Properties): Int = {
    val group = groupOf(p)
    if (group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toInt
    else Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, spanOf(e.properties), groupOf(e.properties), e.time, -1L))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, span)
      sums(span).addAndGet(0, 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1Ms = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = sums(stageSpan.getOrDefault(e.stageId, -1))
        a.addAndGet(1, 1)
        a.addAndGet(2, m.executorRunTime)
        a.addAndGet(3, m.executorCpuTime)
        a.addAndGet(4, m.shuffleReadMetrics.totalBytesRead)
        a.addAndGet(5, m.shuffleWriteMetrics.bytesWritten)
        a.addAndGet(6, m.memoryBytesSpilled + m.diskBytesSpilled)
        a.addAndGet(7, m.jvmGCTime)
        a.addAndGet(8, m.inputMetrics.recordsRead)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.runId.toString, p.batchId,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  def span[T](name: String, pass: Int)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), pass,
      now(), -1L, Harness.gcMs(), -1L)
    spans += s
    stack = s :: stack
    enter(s.id)
    try body
    finally {
      s.t1 = now()
      s.gc1 = Harness.gcMs()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => enter(p.id)
        case None =>
          sc.clearJobGroup()
          sc.setLocalProperty(SpanProp, null)
      }
    }
  }

  private def enter(id: Int): Unit = {
    sc.setJobGroup(s"$GroupPrefix$id", s"perfbench span $id", interruptOnCancel = false)
    sc.setLocalProperty(SpanProp, id.toString)
  }

  /** Wait for queued listener events, detach, and render the trace. */
  def finish(runId: String): Json.Raw = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    val ms = 1000000L
    val spanJs = spans.map { s =>
      val a = Option(spanSums.get(s.id))
      Json.obj(Seq[(String, Any)]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "run" -> runId, "start_ns" -> s.t0, "end_ns" -> s.t1,
        "gc_ms" -> (s.gc1 - s.gc0)) ++
        Counters.indices.map(i => Counters(i) -> a.fold(0L)(_.get(i))): _*)
    }
    val jobJs = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "group" -> j.group,
        "start_ns" -> j.t0Ms * ms, "end_ns" -> (if (j.t1Ms < 0) j.t0Ms else j.t1Ms) * ms)
    }
    val progJs = progress.asScala.toSeq.map { p =>
      Json.obj("run" -> p.runId, "batch" -> p.batch, "dur_ms" -> p.durMs,
        "input_rows" -> p.inputRows, "state_rows" -> p.stateRows)
    }
    // a stream's runId is the job group of its micro-batch jobs
    val streamSpan = jobs.values.asScala.filter(j => j.span >= 0 && !j.group.startsWith(GroupPrefix))
      .map(j => j.group -> j.span).toMap
    Json.obj("spans" -> Json.arr(spanJs), "jobs" -> Json.arr(jobJs),
      "progress" -> Json.arr(progJs),
      "stream_span" -> Json.obj(streamSpan.toSeq.map { case (k, v) => k -> (v: Any) }: _*))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  val SpanProp = "perfbench.span"
}

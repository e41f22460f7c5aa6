package perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbenchbridge.StageBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are wall-clock milliseconds (the clock the
  * Spark listener bus stamps its events with) plus a nanosecond duration
  * for the harness's own spans. */
final case class Span(id: Int, parent: Int, name: String, traceId: String,
                      startMs: Long, endMs: Long, durNs: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = durNs / 1e9
}

/** A stage as the listener saw it, kept per op for layer attribution;
  * `name` is its call site. */
final case class StageRec(name: String, submitMs: Long, endMs: Long, taskS: Double,
                          taskDurS: Seq[Double])

/** A job as the listener saw it; `resultStage` is its call site. */
final case class JobRec(startMs: Long, endMs: Long, resultStage: String, mapStageJob: Boolean)

/** Everything the listeners saw between two op boundaries. */
final class OpStats {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  var tasks = 0L
  var tasksFailed = 0L
  var taskS, taskCpuS, gcS, schedWaitS = 0.0
  var shuffleReadB, shuffleWriteB, spillB = 0L
  var collectRowsMax = 0L
}

/** SparkListener + QueryExecutionListener that accumulate into the
  * current op's [[OpStats]]. Events arrive on the listener-bus thread, so
  * [[Tracer]] drains the bus before it swaps the accumulator. */
final class OpListener(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val current = new AtomicReference(new OpStats)
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, String, Boolean)]
  private val stageSubmit = scala.collection.concurrent.TrieMap.empty[Int, Long]
  private val stageTasks = scala.collection.concurrent.TrieMap.empty[Int, ArrayBuffer[Double]]

  def swap(): OpStats = current.getAndSet(new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the job's own final stage is its highest id; a map-stage job (an
    // AQE query stage) ends in a shuffle map stage instead of a result stage
    val last = e.stageInfos.maxBy(_.stageId)
    jobStart.put(e.jobId, (e.time, last.name, StageBridge.isShuffleMapStage(last)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, name, mapJob) =>
      val s = current.get()
      s.synchronized(s.jobs += JobRec(t0, e.time, name, mapJob))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    stageTasks.put(e.stageInfo.stageId, ArrayBuffer.empty)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = current.get()
    val info = e.taskInfo
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (info.failed || info.killed) s.tasksFailed += 1
      stageSubmit.get(e.stageId).foreach(t => s.schedWaitS += ((info.launchTime - t) max 0L) / 1e3)
      if (m != null) {
        s.taskS += m.executorRunTime / 1e3
        s.taskCpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTasks.get(e.stageId).foreach(_ += m.executorRunTime / 1e3)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val durs = stageTasks.remove(i.stageId).map(_.toSeq).getOrElse(Seq.empty)
    val rec = StageRec(i.name, stageSubmit.remove(i.stageId).getOrElse(0L),
      i.completionTime.getOrElse(System.currentTimeMillis()), durs.sum, durs)
    val s = current.get()
    s.synchronized(s.stages += rec)
  }

  private val collectFuncs = Set("collect", "collectAsList", "head", "take", "first",
    "isEmpty", "toLocalIterator", "count")

  /** Rows a completed plan delivered to the driver: topmost
    * numOutputRows, capped by a root limit, through AQE wrappers. */
  private def deliveredRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => deliveredRows(a.executedPlan)
    case c: CollectLimitExec => math.min(c.limit.toLong, deliveredRows(c.child))
    case t: TakeOrderedAndProjectExec => math.min(t.limit.toLong, deliveredRows(t.child))
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(p.children.map(deliveredRows).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (collectFuncs.contains(funcName)) {
      val rows = deliveredRows(qe.executedPlan)
      val s = current.get()
      s.synchronized(s.collectRowsMax = s.collectRowsMax max rows)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Span recorder. A disabled tracer runs bodies bare: no listener, no
  * bus drains, no spans, so untraced ops pay nothing for it. */
final class Tracer(spark: SparkSession) {
  private val listener = new OpListener(spark)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var traceId = ""
  @volatile var enabled = false

  def allSpans: Seq[Span] = spans.toSeq

  private def drain(): Unit =
    if (!ListenerBridge.flushListenerBus(spark.sparkContext, 60000))
      throw new IllegalStateException("listener bus did not drain within 60 s")

  /** Runs one op. When `traced`, the listeners are attached around it and
    * its span tree plus the listener's [[OpStats]] are returned. */
  def op[T](id: String, traced: Boolean)(body: => T): (T, Option[(Span, OpStats)]) = {
    if (!traced) (body, None)
    else {
      drain() // events of earlier, untraced work must not reach the listener
      listener.swap()
      listener.attach()
      enabled = true
      traceId = id
      try {
        val (v, root) = spanned("op", Map.empty)(body)
        drain()
        val stats = listener.swap()
        addJobSpans(root, stats)
        (v, Some((root, stats)))
      } finally {
        enabled = false
        listener.detach()
      }
    }
  }

  /** A child span of the current one (a no-op when tracing is off). */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body else spanned(name, attrs)(body)._1

  private def spanned[T](name: String, attrs: Map[String, Any])(body: => T): (T, Span) = {
    val id = spans.length
    spans += null
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
    def close(extra: Map[String, Any]): Span = {
      val s = Span(id, parent, name, traceId, ms, System.currentTimeMillis(),
        System.nanoTime() - ns, attrs ++ extra)
      spans(id) = s
      s
    }
    try {
      val v = body
      (v, close(Map.empty))
    } catch {
      case t: Throwable => close(Map("error" -> t.toString)); throw t
    } finally stack = stack.tail
  }

  /** Every job becomes a `spark.job` span under the innermost harness span
    * that contains its start, so each layer's self time excludes the jobs
    * it waited for. */
  private def addJobSpans(root: Span, stats: OpStats): Unit = {
    val mine = spans.filter(s => s != null && s.traceId == traceId)
    stats.jobs.sortBy(_.startMs).foreach { j =>
      val parent = mine.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.getOrElse(root)
      spans += Span(spans.length, parent.id, "spark.job", traceId, j.startMs, j.endMs,
        (j.endMs - j.startMs) * 1000000L, Map("call_site" -> j.resultStage))
    }
  }
}

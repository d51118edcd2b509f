package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional for the benchmark's own spans), the clock Spark's
  * listener events use. */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Per-span counters taken from task and query events. */
final class Counters {
  var tasks, inputRecords, inputBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
  var spillBytes, peakExecBytes = 0L
  var busyMs, waitMs, scanBusyMs, fetchWaitMs, skewMs = 0.0
  var stages, exchanges, exchangePartitions = 0L
}

/** The traced run's recorder: a SparkListener for jobs, stages, tasks
  * and the final (post-AQE) plans of SQL executions.
  * Each Spark job is parented to the benchmark span that was current on
  * the thread that submitted it, through a local property; streaming
  * jobs are parented to their micro-batch through the query and batch
  * ids Spark itself sets. Spans and counters stay in memory until the
  * run ends. */
final class Tracer(spark: SparkSession) {
  val SpanKey = "perfbench.span"
  private val QueryIdKey = "sql.streaming.queryId"
  private val BatchIdKey = "streaming.sql.batchId"
  private val ExecIdKey = "spark.sql.execution.id"

  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val jobParent = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val execParent = new ConcurrentHashMap[Long, String]()

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def countersOf(span: String): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private def parentOf(props: java.util.Properties): String =
    if (props == null) "unattributed"
    else {
      val q = props.getProperty(QueryIdKey)
      val b = props.getProperty(BatchIdKey)
      if (q != null && b != null) s"batch:$q:$b"
      else Option(props.getProperty(SpanKey)).getOrElse("unattributed")
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = parentOf(e.properties)
      jobParent.put(e.jobId, p)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      if (e.properties != null)
        Option(e.properties.getProperty(ExecIdKey)).foreach(x => execParent.putIfAbsent(x.toLong, p))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val p = jobParent.getOrDefault(e.jobId, "unattributed")
      val t0 = Option(jobStart.remove(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
      spans.add(Span(s"sparkjob:${e.jobId}", p, "spark_job", s"job ${e.jobId}", t0, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job = stageJob.getOrDefault(si.stageId, -1)
      val p = jobParent.getOrDefault(job, "unattributed")
      val c = countersOf(p)
      val durs = Option(stageTaskMs.remove(si.stageId)).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      c.synchronized {
        c.stages += 1
        if (durs.nonEmpty) c.skewMs += durs.last - durs(durs.size / 2)
      }
      for (s <- si.submissionTime; f <- si.completionTime)
        spans.add(Span(s"stage:${si.stageId}.${si.attemptNumber()}", s"sparkjob:$job", "stage",
          si.name, s.toDouble, f.toDouble))
    }
    // only executions that ran jobs count: a command's outer execution
    // wraps the same plan its inner execution ran
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if execParent.containsKey(end.executionId) =>
        PerfbenchSql.queryExecution(end).foreach { qe =>
          val (n, parts) = Tracer.exchanges(qe.executedPlan)
          val c = countersOf(execParent.get(end.executionId))
          c.synchronized { c.exchanges += n; c.exchangePartitions += parts }
        }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m == null || ti == null) return
      val job = stageJob.getOrDefault(e.stageId, -1)
      val c = countersOf(jobParent.getOrDefault(job, "unattributed"))
      val gettingResult = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      val schedDelay = math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]).synchronized {
        stageTaskMs.get(e.stageId).append(ti.duration)
      }
      c.synchronized {
        c.tasks += 1
        c.busyMs += m.executorRunTime
        c.waitMs += schedDelay + m.executorDeserializeTime
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.recordsRead > 0) c.scanBusyMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      }
    }
  }

  private var on = false
  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }
  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  /** Wait until every queued event reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Run `body` as a span of `kind` under `parent`, with Spark jobs it
    * submits from this thread parented to it. */
  def span[T](id: String, parent: String, kind: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val t0 = nowMs()
    try body
    finally {
      spans.add(Span(id, parent, kind, name, t0, nowMs()))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def add(s: Span): Unit = spans.add(s)
}

object Tracer {

  /** Shuffle exchanges in an executed plan and their partition counts
    * as the reader saw them (after AQE coalescing). Reused exchanges
    * count once, where they were built. */
  def exchanges(plan: SparkPlan): (Long, Long) = {
    var n, parts = 0L
    def exchangeChild(p: SparkPlan): Option[SparkPlan] = p match {
      case e: ShuffleExchangeExec => Some(e.child)
      case _: ReusedExchangeExec => None
      case other => Some(other)
    }
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case r: AQEShuffleReadExec => r.child match {
          case s: ShuffleQueryStageExec =>
            if (!s.plan.isInstanceOf[ReusedExchangeExec]) { n += 1; parts += r.partitionSpecs.size }
            exchangeChild(s.plan).foreach(walk)
          case other => walk(other)
        }
        case s: ShuffleQueryStageExec =>
          if (!s.plan.isInstanceOf[ReusedExchangeExec]) { n += 1; parts += s.shuffle.numPartitions }
          exchangeChild(s.plan).foreach(walk)
        case b: BroadcastQueryStageExec => b.plan.children.foreach(walk)
        case q: QueryStageExec => walk(q.plan)
        case e: ShuffleExchangeExec => n += 1; parts += e.numPartitions; walk(e.child)
        case _: ReusedExchangeExec => ()
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (n, parts)
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer of the library.
  * Times are wall-clock milliseconds, the clock Spark stamps its job
  * events with, so job intervals and spans line up.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def wall: Double = (end - start) / 1e3
}

/** Spark work attributed to one span (jobs run while the span was the
  * innermost open one on the client thread, through a local property that
  * AQE stage jobs and stream threads inherit).
  */
final class SpanWork {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start, end) ms
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rddBlocksets = mutable.Set.empty[Int]
  // task run times per stage: the skew of the worst stage
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // SQL-metric counts read off executed plans
  var pairRows = 0L
  var topkShuffleRecords = 0L
  // Structured Streaming progress durations, ms
  val streamDur = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** The span recorder plus the listeners that attribute Spark work to spans.
  * Everything stays in memory until the run ends. With tracing off the
  * recorder only keeps the block accounting that the end-to-end
  * `peak_block_mb` needs.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val PropKey = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 1
  private var opId = 0
  @volatile private var current = 0 // innermost open span, read by async callbacks
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private def workOf(span: Int): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  /** Whether the current operation is traced: the traced run alternates
    * traced and untraced operations to measure tracing overhead.
    */
  var on: Boolean = traced

  // ---- block accounting (always on) ----------------------------------
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var totalBytes = 0L
  @volatile private var rddBytes = 0L
  @volatile var peakBytes = 0L
  @volatile var peakRddBytes = 0L
  /** Highest count of resident persisted/checkpointed RDDs seen at a span end. */
  var residentMax = 0

  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  private val listener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = blockUpdate(e.blockUpdatedInfo)

    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      val p = Option(e.properties).flatMap(pp => Option(pp.getProperty(PropKey)))
      p.foreach { s =>
        val id = s.toInt
        jobSpan.put(e.jobId, id)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
      val id = jobSpan.remove(e.jobId)
      val t0 = jobStart.remove(e.jobId)
      if (id != null && t0 != null) {
        val w = workOf(id)
        w.synchronized { w.jobs += ((t0.longValue, e.time)) }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
      val id = stageSpan.get(e.stageId)
      if (id != null && e.taskInfo != null) {
        val w = workOf(id)
        val m = e.taskMetrics
        val i = e.taskInfo
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.cpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            val total = i.finishTime - i.launchTime
            w.schedDelayMs += math.max(0L, total - m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime - i.gettingResultTime)
            w.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
          }
        }
      }
    }
  }

  private def blockUpdate(info: org.apache.spark.storage.BlockUpdatedInfo): Unit = synchronized {
    val key = info.blockManagerId.executorId + "/" + info.blockId.name
    val now = info.memSize + info.diskSize
    val before = Option(blockBytes.get(key)).map(_.longValue).getOrElse(0L)
    if (now == 0) blockBytes.remove(key) else blockBytes.put(key, now)
    totalBytes += now - before
    peakBytes = math.max(peakBytes, totalBytes)
    if (info.blockId.isRDD) {
      rddBytes += now - before
      peakRddBytes = math.max(peakRddBytes, rddBytes)
      if (traced && now > 0 && current != 0) {
        val w = workOf(current)
        w.synchronized { w.rddBlocksets += info.blockId.asRDDId.get.rddId }
      }
    }
  }

  // SQL metrics off each executed plan: the output rows of the pair joins
  // that feed a partial top-k, and the rows that top-k sends through its
  // exchange.
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = if (traced && current != 0) {
      var pairs = 0L
      var shuffled = 0L
      Tracer.walk(qe.executedPlan) {
        case s: ShuffleExchangeExec =>
          val below = Tracer.stage(s.child)
          if (below.exists(Tracer.isPartialTopK)) {
            shuffled += s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
            pairs += below.filter(p => p.nodeName == "BroadcastNestedLoopJoin" || p.nodeName == "CartesianProduct")
              .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
          }
        case _ =>
      }
      if (pairs > 0 || shuffled > 0) {
        val w = workOf(current)
        w.synchronized { w.pairRows += pairs; w.topkShuffleRecords += shuffled }
      }
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (traced && current != 0) {
        val w = workOf(current)
        w.synchronized {
          e.progress.durationMs.asScala.foreach { case (k, v) => w.streamDur(k) += v.longValue }
        }
      }
  }

  sc.addSparkListener(listener)
  if (traced) {
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  /** Start a new operation: spans opened until the next call share its id. */
  def newOp(): Unit = opId += 1

  /** Time `body` as a span named `name` when the current operation is
    * traced; otherwise just run it.
    */
  def span[T](name: String)(body: => T): T =
    if (!traced || !on) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) 0 else stack.top._1
      val prevProp = sc.getLocalProperty(PropKey)
      stack.push((id, name, System.currentTimeMillis()))
      sc.setLocalProperty(PropKey, id.toString)
      current = id
      try body
      finally {
        val end = System.currentTimeMillis()
        drain() // events of this span's jobs are attributed before it closes
        val (_, _, start) = stack.pop()
        spans += Span(id, name, parent, opId, start, end)
        residentMax = math.max(residentMax, Main.resident(spark))
        sc.setLocalProperty(PropKey, prevProp)
        current = if (stack.isEmpty) 0 else stack.top._1
      }
    }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    if (traced) {
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** The recorded spans as JSON lines, each with the Spark work attributed to it. */
  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      val w = Option(work.get(s.id))
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"id": ${s.id}, "name": "${esc(s.name)}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ms": ${s.start}, "end_ms": ${s.end}, "self_s": ${selfTime(s)}, """ +
        s""""jobs": ${w.map(_.jobs.size).getOrElse(0)}, """ +
        s""""tasks": ${w.map(_.tasks).getOrElse(0L)}, "pair_rows": ${w.map(_.pairRows).getOrElse(0L)}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  // ---- aggregation -----------------------------------------------------

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Self time: span wall minus the part of it its child spans cover. */
  def selfTime(s: Span): Double = s.wall - Tracer.unionMs(children(s).map(c => (c.start, c.end)), s.start, s.end) / 1e3

  /** The scheduler/executor split of the work under a set of spans. */
  def sparkSplit(ss: Seq[Span]): Map[String, Double] = {
    val all = ss.flatMap(subtree)
    val ws = all.flatMap(s => Option(work.get(s.id)))
    val wall = ss.map(_.wall).sum
    val inJob = ss.map { s =>
      val jobs = subtree(s).flatMap(c => Option(work.get(c.id))).flatMap(_.jobs)
      Tracer.unionMs(jobs, s.start, s.end) / 1e3
    }.sum
    val skews = ws.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med > 0) sorted.last / med else 1.0
    }
    Map(
      "jobs" -> ws.map(_.jobs.size).sum.toDouble,
      "tasks" -> ws.map(_.tasks).sum.toDouble,
      "in_job_s" -> inJob,
      "driver_outside_job_s" -> math.max(0.0, wall - inJob),
      "executor_cpu_s" -> ws.map(_.cpuNs).sum / 1e9,
      "scheduler_delay_s" -> ws.map(_.schedDelayMs).sum / 1e3,
      "shuffle_bytes" -> ws.map(_.shuffleBytes).sum.toDouble,
      "spill_bytes" -> ws.map(_.spillBytes).sum.toDouble,
      "gc_s" -> ws.map(_.gcMs).sum / 1e3,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
  }

  def pairRows(ss: Seq[Span]): Long = ss.flatMap(subtree).flatMap(s => Option(work.get(s.id))).map(_.pairRows).sum
  def topkShuffleRecords(ss: Seq[Span]): Long =
    ss.flatMap(subtree).flatMap(s => Option(work.get(s.id))).map(_.topkShuffleRecords).sum
  def rddBlocksets(ss: Seq[Span]): Int =
    ss.flatMap(subtree).flatMap(s => Option(work.get(s.id))).flatMap(_.rddBlocksets).distinct.size
  def streamMs(ss: Seq[Span], key: String): Long =
    ss.flatMap(subtree).flatMap(s => Option(work.get(s.id))).map(_.streamDur(key)).sum
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]: concurrent AQE
    * jobs overlap, so a plain sum of job times can exceed the wall.
    */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Visit every physical node, through AQE wrappers, query stages,
    * command results and subqueries.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }
    kids.foreach(walk(_)(f))
  }

  /** The nodes of one stage: `p` and its descendants down to the next exchange. */
  def stage(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: ShuffleExchangeExec | _: ReusedExchangeExec => Seq.empty
    case q: QueryStageExec => Seq.empty
    case a: AdaptiveSparkPlanExec => stage(a.executedPlan)
    case other => other +: other.children.flatMap(stage)
  }

  def isPartialTopK(p: SparkPlan): Boolean =
    p.nodeName.contains("Aggregate") && p.simpleString(200).contains("partial_topk_agg")
}

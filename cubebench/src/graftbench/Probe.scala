package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span: a timed interval of one layer inside one op. Times are
  * epoch µs; the spans file writes them relative to the run's start. */
final case class Span(id: Int, var parent: Int, op: String, name: String,
                      layer: String, start: Long, end: Long)

/** Spans and per-layer counters of one run. Disabled, every method is a
  * pass-through: the untraced runs time the program without listeners.
  *
  * Spark's own work is observed through its public listener APIs
  * (`SparkListener`, `QueryExecutionListener`, `StreamingQueryListener`).
  * Listener events arrive asynchronously; after each op [[Trace.op]] runs
  * a one-task barrier job and waits until the listener has seen it, so
  * every event of the op is processed (and attributed to it) before the
  * next op starts.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val wall0Us = System.currentTimeMillis() * 1000L
  private def nowUs: Long = wall0Us + (System.nanoTime() - nano0) / 1000L
  private def msToUs(epochMs: Long): Long = epochMs * 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var open: List[Int] = Nil // harness-thread span stack
  private var opSpans = mutable.ArrayBuffer.empty[Span] // listener spans of the current op

  /** Op the listener attributes events to; "" = none. */
  @volatile private var currentOp = ""
  @volatile private var barrierJobsSeen = 0
  private var barrierJobsRun = 0
  private val stoppedQueries = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var ops = 0

  /** Add `v` to a per-op counter (reported as total ÷ ops). */
  def add(name: String, v: Double): Unit =
    if (enabled && currentOp.nonEmpty) synchronized { totals(name) = totals.getOrElse(name, 0.0) + v }

  /** Record one sample of a per-call metric (reported as the median). */
  def sample(name: String, v: Double): Unit =
    if (enabled && currentOp.nonEmpty)
      synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }

  /** [[sample]] outside any op (for checks made after an op returns). */
  def sampleAlways(name: String, v: Double): Unit =
    if (enabled) synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }

  private def record(s: Span): Unit = synchronized { opSpans += s }

  /** Run one measured op as a root span; all Spark work inside carries
    * the op id as its job group. */
  def op[T](opId: String, kind: String)(body: => T): T = {
    if (!enabled) return body
    sc.setJobGroup(opId, kind, interruptOnCancel = false)
    currentOp = opId
    val id = newId()
    val t0 = nowUs
    open = id :: open
    try body
    finally {
      open = open.tail
      val t1 = nowUs
      barrier()
      synchronized {
        spans += Span(id, 0, opId, kind, "harness", t0, t1)
        resolveParents(opId)
        ops += 1
      }
      currentOp = ""
      sc.clearJobGroup()
    }
  }

  /** Run work that belongs to no op (a check after an op returns): its
    * Spark events are drained before the next op starts, so no op is
    * charged with them. */
  def outsideOp[T](body: => T): T =
    if (!enabled) body
    else try body finally { barrier(); sc.clearJobGroup() }

  /** A child span around one call into a program layer; the layer is the
    * name's first dotted component. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val parent = open.headOption.getOrElse(0)
    val t0 = nowUs
    open = id :: open
    try body
    finally {
      open = open.tail
      val t1 = nowUs
      synchronized { spans += Span(id, parent, currentOp, name, name.takeWhile(_ != '.'), t0, t1) }
    }
  }

  /** Time a call; with tracing on it is also a span and a sample. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    sample(name + "_ms", ms)
    (r, ms)
  }

  private def newId(): Int = synchronized { nextId += 1; nextId }

  private def barrier(): Unit = {
    val target = barrierJobsRun + 1
    sc.setJobGroup(Trace.BarrierGroup, "barrier", interruptOnCancel = false)
    sc.parallelize(Seq(0), 1).foreach(_ => ())
    barrierJobsRun = target
    val deadline = System.nanoTime() + 30000000000L
    while (barrierJobsSeen < target && System.nanoTime() < deadline) Thread.sleep(1)
  }

  /** Wait until the streaming listener has seen `id` terminate (stream
    * events travel on their own listener queue, outside the barrier). */
  def awaitStreamEvents(id: java.util.UUID): Unit =
    if (enabled) {
      val deadline = System.nanoTime() + 10000000000L
      while (!stoppedQueries.contains(id) && System.nanoTime() < deadline) Thread.sleep(1)
    }

  /** Parent each listener span of the op: a stage under its job, a job
    * under its SQL query, and the rest under the innermost harness span
    * open at its start. */
  private def resolveParents(opId: String): Unit = {
    val harness = spans.filter(s => s.op == opId && s.layer != "spark")
    def innermost(t: Long): Int =
      harness.filter(h => h.start <= t && t <= h.end)
        .sortBy(h => h.end - h.start).headOption.map(_.id).getOrElse(0)
    opSpans.foreach(s => if (s.parent == 0) s.parent = innermost(s.start))
    spans ++= opSpans
    opSpans = mutable.ArrayBuffer.empty
  }

  // ------------------------------------------------------------ listeners

  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long, Long)] // job → (span id, start, sql exec)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlStart = mutable.HashMap.empty[Long, (Int, Long)] // exec → (span id, start)
  private val barrierJobs = mutable.HashSet.empty[Int]
  private val barrierStages = mutable.HashSet.empty[Int]

  private def isBarrier(props: java.util.Properties): Boolean =
    props != null && props.getProperty("spark.jobGroup.id") == Trace.BarrierGroup

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (isBarrier(e.properties)) {
        barrierJobs += e.jobId; barrierStages ++= e.stageIds; return
      }
      if (currentOp.isEmpty) return
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobSpan(e.jobId) = (newId(), msToUs(e.time), exec)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      if (barrierJobs.remove(e.jobId)) barrierJobsSeen += 1
      else jobSpan.remove(e.jobId).filter(_ => currentOp.nonEmpty).foreach {
        case (id, start, exec) =>
          val parent = sqlStart.get(exec).map(_._1).getOrElse(0)
          record(Span(id, parent, currentOp, "spark.job", "spark", start, msToUs(e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val si = e.stageInfo
      if (barrierStages.remove(si.stageId) || currentOp.isEmpty) return
      add("spark.stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime) {
        val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(0)
        record(Span(newId(), parent, currentOp, "spark.stage", "spark", msToUs(s), msToUs(c)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (barrierStages.contains(e.stageId) || currentOp.isEmpty) return
      add("spark.tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add("spark.exec_run_ms", m.executorRunTime.toDouble)
        add("spark.exec_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.gc_ms", m.jvmGCTime.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running, serializing or fetching the result
        val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime
        add("spark.sched_delay_ms", math.max(0L, delay).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      if (currentOp.isEmpty) return
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlStart(s.executionId) = (newId(), msToUs(s.time))
        case x: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(x.executionId).foreach { case (id, start) =>
            record(Span(id, 0, currentOp, "spark.query", "spark", start, msToUs(x.time)))
          }
        case _ =>
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        if (currentOp.isEmpty) return
        val phases = qe.tracker.phases
        add("spark.plan_ms", Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs.toDouble).sum)
        add("spark.queries", 1)
        Trace.scans(qe.executedPlan).foreach { case (parts, rows, _) =>
          add("sources.scan_partitions", parts.toDouble)
          add("sources.scan_rows", rows.toDouble)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        if (currentOp.isEmpty || p.numInputRows == 0) return
        sample("streaming.batch_ms", p.batchDuration.toDouble)
        Option(p.durationMs.get("addBatch")).foreach(v => sample("streaming.add_batch_ms", v.doubleValue))
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
        record(Span(newId(), 0, currentOp, "streaming.batch", "streaming",
          msToUs(end - p.batchDuration), msToUs(end)))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      stoppedQueries.add(e.id)
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // -------------------------------------------------------------- report

  def opCount: Int = ops

  /** Per-layer metrics: counters as per-op means, samples as medians. */
  def metrics: Map[String, Double] = synchronized {
    val n = math.max(ops, 1)
    totals.map { case (k, v) => k -> v / n }.toMap ++
      samples.collect { case (k, xs) if xs.nonEmpty => k -> Stats.median(xs.toSeq) }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Self time (ms per op) of each layer: span duration minus the part of
    * it its children cover. */
  def selfTimeMs: Map[String, Double] = synchronized {
    val byParent = spans.groupBy(_.parent)
    val n = math.max(ops, 1)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.end - s.start - Trace.covered(s, byParent.getOrElse(s.id, Nil).toSeq))
        .sum / 1000.0 / n
    }.toMap
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_us":${s.start - wall0Us},"end_us":${s.end - wall0Us}}""")
    } finally w.close()
  }
}

object Trace {
  val BarrierGroup = "bench-barrier"

  /** Length of the union of `children` clipped to `s`. */
  def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Every scan of an executed plan, through adaptive wrappers and
    * subqueries: (input partitions, output rows, pyramid level or None). */
  def scans(plan: SparkPlan): Seq[(Int, Long, Option[Int])] = {
    val out = mutable.ArrayBuffer.empty[(Int, Long, Option[Int])]
    val LevelDir = ".*/L(\\d+)/?$".r
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BatchScanExec =>
        out += ((b.inputPartitions.size, rows(b), None))
      case f: FileSourceScanExec =>
        val level = f.relation.location.rootPaths.map(_.toString).collectFirst {
          case LevelDir(l) => l.toInt
        }
        out += ((f.inputRDD.getNumPartitions, rows(f), level))
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Persistent RDDs plus cached-table entries alive right now. */
  def cachedNow(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size +
      (if (spark.sharedState.cacheManager.isEmpty) 0 else 1)
}

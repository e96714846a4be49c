package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run of one workload in this JVM:
  *
  *   graftbench.Main --workload serve --seed 1 --seconds 10 --trace 0
  *                   --data <dir> --out <result.json> [--spans <spans.jsonl>]
  *
  * Sets up the workload's inputs several times (the median is `setup_s`),
  * warms up on a separately seeded op stream, then runs the measured op
  * stream in a closed loop for `--seconds`. Every op's result is checked
  * after its timing ends. `work_per_s` is the median over the window's
  * cycles of each cycle's work over the summed latency of its ops, so one
  * slow cycle does not move it and the checks count toward no metric.
  * With `--trace 1` the first half of the window runs untraced and the
  * second half traced (listeners and spans on); the per-layer metrics come
  * from the traced half and the difference of the two halves' median
  * latency is the tracing overhead. The result is one JSON document.
  */
object Main {
  val SetupReps = 3

  final case class Sample(kind: String, key: String, ms: Double, work: Double, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    require(Workload.names.contains(workload), s"unknown workload '$workload'")

    val load0 = loadAvg()
    val t0 = System.nanoTime()
    val spark = session(data)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val host = hostBlock(spark) ++ Map("load_1m_start" -> load0, "session_s" -> sessionS)
    val w = Workload(workload, Ctx(spark, seed, s"$data/work"))
    val failures = mutable.ArrayBuffer.empty[String]

    // ---- set-up, several times; the last one is kept and checked
    val setups = (0 until SetupReps).map { rep =>
      val s0 = System.nanoTime()
      val check = w.setup(s"$data/setup-$rep")
      ((System.nanoTime() - s0) / 1e9, check)
    }
    val setupTimes = setups.map(_._1)
    (0 until SetupReps - 1).foreach(rep => Workload.deleteTree(s"$data/setup-$rep"))
    try setups.last._2()
    catch { case e: Throwable => failures += s"set-up: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }

    // ---- warm-up on its own seeded stream: whole cycles, at least two.
    // Op latencies keep falling for 20–30 s of ops as the JIT compiles the
    // planner and the Zarr paths; a shorter warm-up leaves that slope in
    // the window, and its steepness follows the host's load.
    val off = new Trace(spark, enabled = false)
    val warm = w.ops(new Rng(seed ^ 0x3A3A3A3AL))
    val warmEnd = System.nanoTime() + (seconds * 1.25 * 1e9).toLong
    var warmOps = 0
    var warmCycles = 0
    var warmCycleDone = false
    while (System.nanoTime() < warmEnd || warmCycles < 2 || !warmCycleDone) {
      val op = warm.next()
      runOp(spark, op, off).error.foreach(e => failures += s"warm-up ${op.kind}: $e")
      warmCycleDone = op.endsCycle
      if (warmCycleDone) warmCycles += 1
      warmOps += 1
    }

    // ---- measure: a window lasts `secs`, ends on a cycle boundary and
    // holds at least two samples of every latency kind and two cycles, so
    // no latency and no cycle rate is a single sample
    val stream = w.ops(new Rng(seed))
    def window(trace: Trace, secs: Double): (Seq[Sample], Double, Seq[Double]) = {
      val out = mutable.ArrayBuffer.empty[Sample]
      val cycleRates = mutable.ArrayBuffer.empty[Double]
      val m0 = System.nanoTime()
      val end = m0 + (secs * 1e9).toLong
      var (cycleMs, cycleWork, cycleDone) = (0.0, 0.0, true)
      def twoOfEach = w.latencyKinds.forall(k => out.count(_.kind == k) >= 2) && cycleRates.length >= 2
      while (System.nanoTime() < end || !cycleDone || !twoOfEach) {
        val op = stream.next()
        val s = runOp(spark, op, trace)
        out += s
        cycleMs += s.ms
        if (s.error.isEmpty) cycleWork += s.work
        cycleDone = op.endsCycle
        if (cycleDone) {
          cycleRates += cycleWork / (cycleMs / 1e3)
          cycleMs = 0.0; cycleWork = 0.0
        }
      }
      (out.toSeq, (System.nanoTime() - m0) / 1e9, cycleRates.toSeq)
    }
    // the traced run splits the window: untraced half, then traced half
    val (plain, plainS, cycleRates) = window(off, if (traced) seconds / 2 else seconds)
    val traceOn = if (traced) Some(new Trace(spark, enabled = true)) else None
    val (tracedSamples, tracedS, _) = traceOn.map(window(_, seconds / 2)).getOrElse((Nil, 0.0, Nil))
    traceOn.foreach(_.close())
    val measured = plain ++ tracedSamples
    measured.flatMap(s => s.error.map(e => s"${s.kind} ${s.key}: $e")).foreach(failures += _)

    // ---- end-to-end metrics over the untraced window
    def latencies(ss: Seq[Sample]) = ss.filter(s => s.error.isEmpty && w.latencyKinds(s.kind))
    val lat = latencies(plain).map(_.ms)
    val failed = measured.count(_.error.nonEmpty)
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> Stats.median(setupTimes),
      "latency_ms" -> Stats.kindLatency(latencies(plain).map(s => s.kind -> s.ms)),
      "latency_p50_ms" -> (if (lat.nonEmpty) Stats.median(lat) else Double.NaN),
      "latency_p90_ms" -> (if (lat.nonEmpty) Stats.percentile(lat, 0.9) else Double.NaN),
      "work_per_s" -> Stats.median(cycleRates),
      "stored_bytes_per_item" -> w.storedBytesPerItem,
      "ops_failed_frac" -> failed.toDouble / math.max(1, measured.length),
      "jvm.peak_rss_mb" -> peakRssMb())
    val info = mutable.LinkedHashMap[String, Any](
      "work_unit" -> w.workUnit,
      "ops" -> plain.length,
      "latency_samples" -> lat.length,
      "samples_above_p90" -> (if (lat.nonEmpty) Stats.samplesAbove(lat, 0.9) else 0),
      "repeat_share" -> Stats.repeatShare(plain.map(s => s.kind + "/" + s.key)),
      "window_s" -> plainS,
      "cycles" -> cycleRates.length,
      "warmup_ops" -> warmOps,
      "warmup_cycles" -> warmCycles,
      "setup_s_each" -> setupTimes,
      "ops_by_kind" -> plain.groupBy(_.kind).map { case (k, ss) => k -> ss.length },
      "p50_ms_by_kind" -> plain.filter(_.error.isEmpty).groupBy(_.kind)
        .map { case (k, ss) => k -> Stats.median(ss.map(_.ms)) }) ++ w.info
    val samples = plain.map(s => Seq(s.kind, s.ms))

    val layers = mutable.LinkedHashMap.empty[String, Any]
    traceOn.foreach { tr =>
      layers ++= tr.metrics
      layers("spark.cal_ms") = host("spark.cal_ms")
      layers("jvm.peak_rss_mb") = e2e("jvm.peak_rss_mb")
      for (scan <- tr.metrics.get("sources.scan_rows"); out <- tr.metrics.get("sources.result_rows"))
        layers("sources.scan_rows_per_result_row") = scan / math.max(out, 1.0)
      tr.selfTimeMs.foreach { case (layer, ms) => layers(s"self.${layer}_ms") = ms }
      val (plainMs, tracedMs) = (Stats.kindLatency(latencies(plain).map(s => s.kind -> s.ms)),
        Stats.kindLatency(latencies(tracedSamples).map(s => s.kind -> s.ms)))
      layers("trace.overhead_ms") = tracedMs - plainMs
      layers("trace.overhead_pct") = 100.0 * (tracedMs / plainMs - 1)
      layers("trace.ops") = tr.opCount
      layers("trace.spans") = tr.allSpans.length
      args.get("spans").foreach(tr.writeSpans)
      info("traced_window_s") = tracedS
    }

    spark.stop()
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "host" -> (host ++ Map("load_1m_end" -> loadAvg())),
      "attempted" -> measured.length, "failed" -> failed,
      "failures" -> failures.take(20).toSeq,
      "correct" -> failures.isEmpty,
      "e2e" -> e2e, "info" -> info, "layers" -> layers, "samples" -> samples)
    val pw = new java.io.PrintWriter(args("out"), "UTF-8")
    try pw.println(Json(result)) finally pw.close()
  }

  /** Run one op, then check its result untimed; an exception or a failed
    * check is an error, and so is a cached table or persisted RDD the op
    * leaves behind. */
  def runOp(spark: SparkSession, op: Op, trace: Trace): Sample = {
    def describe(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    val rchar0 = if (trace.enabled) readChars() else 0L
    val t0 = System.nanoTime()
    val done: Either[String, Done] = try Right(trace.op(s"${op.kind}:${op.key}", op.kind)(op.run(trace)))
      catch { case e: Throwable => Left(describe(e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (trace.enabled) trace.sampleAlways("sources.read_bytes", (readChars() - rchar0).toDouble)
    val err: Option[String] = done match {
      case Left(e) => Some(e)
      case Right(d) => try { trace.outsideOp(d.check()); None } catch { case e: Throwable => Some(describe(e)) }
    }
    val work = done.fold(_ => 0.0, _.work)
    val cached = Trace.cachedNow(spark)
    if (trace.enabled) trace.sampleAlways("spark.cached_after_op", cached)
    if (cached > 0) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    }
    Sample(op.kind, op.key, ms, work,
      err.orElse(if (cached > 0) Some(s"$cached cached tables or RDDs left behind") else None))
  }

  /** The program's own session settings (GraftSession), pinned to this
    * host's cores, with every directory inside the run's data dir. */
  def session(data: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = graft.GraftSession.builder(cpus)
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", s"$data/warehouse")
      .config("spark.local.dir", s"$data/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$data/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(s"$data/rdd-checkpoints")
    s
  }

  def hostBlock(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    def emptyStage(): Double = {
      val t0 = System.nanoTime()
      sc.parallelize(0 until n, n).foreach(_ => ())
      (System.nanoTime() - t0) / 1e6
    }
    (0 until 3).foreach(_ => emptyStage())
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
      "spark.cal_ms" -> Stats.median((0 until 7).map(_ => emptyStage())))
  }

  private def procField(file: String, key: String): Option[Long] = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.split("\\s+")(1).toLong)
    finally src.close()
  }
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:").map(_ / 1024.0).getOrElse(Double.NaN)
  def readChars(): Long = procField("/proc/self/io", "rchar:").getOrElse(0L)
  def loadAvg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

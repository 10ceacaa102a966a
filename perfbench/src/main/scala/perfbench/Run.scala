package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

final case class OpRecord(kind: String, cycle: Int, tStartMs: Double,
                          wallMs: Double, traced: Boolean, ok: Boolean)

final case class CycleRecord(index: Int, traced: Boolean, wallS: Double,
                             cpuS: Double, complete: Boolean)

/** One benchmark run: the session, the op log, the tracer and the
  * per-layer accumulator, shared by the workloads. Ops run closed loop
  * on this one thread. */
final class Run(val spark: SparkSession, val seed: Long, val traceRun: Boolean,
                val scratch: String, val t0Ns: Long) {
  val tracer = new Tracer(spark)
  val layer = new LayerMetrics
  val ops = ArrayBuffer.empty[OpRecord]
  val cycles = ArrayBuffer.empty[CycleRecord]
  val errors = ArrayBuffer.empty[String]
  val setupS = mutable.LinkedHashMap.empty[String, Double]
  var firstOpNs: Long = -1L
  private var cycle = -1
  /** The last traced op's spans, for workload-specific per-layer counts. */
  var lastTrace: Option[OpTrace] = None

  def traced: Boolean = tracer.on

  /** Times one op. `check` validates the result after the clock stops;
    * a thrown exception or a failed check marks the op failed. */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val start = System.nanoTime()
    if (firstOpNs < 0) firstOpNs = start
    tracer.beginOp(kind, start)
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val end = System.nanoTime()
    lastTrace = tracer.endOp(end)
    lastTrace.foreach(layer.addOp)
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    err.foreach(m => errors += s"$kind (cycle $cycle): $m")
    ops += OpRecord(kind, cycle, (start - t0Ns) / 1e6, (end - start) / 1e6, tracer.on, err.isEmpty)
    res.toOption
  }

  /** Times a setup phase under `name`. */
  def setup[T](name: String)(body: => T): T = {
    val s = System.nanoTime()
    try body finally setupS(name) = setupS.getOrElse(name, 0.0) + (System.nanoTime() - s) / 1e9
  }

  /** Runs whole cycles until `seconds` have passed (at least one). In a
    * traced run, cycles alternate untraced and traced, at least three of
    * them: the first cycle is cold, so the tracing overhead is the gap
    * between the traced cycle and the warm untraced ones. */
  def runCycles(seconds: Double)(body: Int => Unit): Unit = {
    val least = if (traceRun) 3 else 1
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val start = System.nanoTime()
    var i = 0
    while (i < least || (System.nanoTime() - start) / 1e9 < seconds) {
      cycle = i
      val traceThis = traceRun && i % 2 == 1
      if (traceThis) tracer.attach()
      val before = ops.size
      val cpu0 = cpu.getProcessCpuTime
      try body(i) finally if (traceThis) tracer.detach()
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      if (traceThis) layer.tracedCycles += 1
      val mine = ops.drop(before)
      cycles += CycleRecord(i, traceThis, mine.map(_.wallMs).sum / 1e3, cpuS, mine.forall(_.ok))
      i += 1
    }
    cycle = -1
  }

  // ---- layer calls, each under its span ----

  /** Builds, plans and executes a read: construct (`layer`), plan
    * (catalyst) and execute (exec) spans. Returns the frame and its rows. */
  def query(layerName: String)(build: => DataFrame): (DataFrame, Array[org.apache.spark.sql.Row]) = {
    val df = tracer.span(layerName, "construct")(build)
    tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec", "execute")(df.collect())
    (df, rows)
  }

  /** Planned partitions and rows produced by the kvtable scans of an
    * executed frame (the connector's scan nodes only). */
  def scanCounts(df: DataFrame): (Long, Long) = {
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") => b
    }
    (scans.map(_.inputPartitions.size.toLong).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }
}

/** Per-layer sums over the traced cycles of a run. */
final class LayerMetrics {
  val sums = mutable.LinkedHashMap.empty[String, Double]
  private val skews = ArrayBuffer.empty[Double]
  private val batchMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var tracedCycles = 0
  var maxSelfErr = 0.0

  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  def addOp(t: OpTrace): Unit = {
    Trace.Layers.foreach(l => add(s"self.${l}_s", t.selfNs.getOrElse(l, 0L) / 1e9))
    val wall = t.root.dur.toDouble
    if (wall > 0) maxSelfErr = math.max(maxSelfErr, math.abs(t.selfNs.values.sum - wall) / wall)
    t.spans.filter(s => s.name == "construct" && s.layer == "graft.queries").foreach { c =>
      add("construct_s", c.dur / 1e9)
      add("construct_jobs", t.jobs.count(j => t.isUnder(j, c)).toDouble)
    }
    add("plan_s", t.spans.filter(_.name == "plan").map(_.dur).sum / 1e9)
    add("exec_s", Trace.unionNs(t.jobs.map(j => (j.start, j.end))) / 1e9)
    add("jobs", t.jobs.size.toDouble)
    add("stages", t.stages.size.toDouble)
    add("task_s", t.stageSum("task_ms") / 1e3)
    add("shuffle_write_bytes", t.stageSum("shuffle_write_bytes"))
    add("shuffle_read_bytes", t.stageSum("shuffle_read_bytes"))
    add("spill_bytes", t.stageSum("spill_bytes"))
    skews ++= t.stages.flatMap(_.attrs.get("skew"))
    t.batches.foreach { b =>
      add("stream.batches", 1)
      def put(k: String, v: Double): Unit = batchMs.getOrElseUpdate(k, ArrayBuffer.empty) += v
      def d(k: String) = b.attrs.getOrElse(k, 0.0)
      put("trigger", d("triggerExecution"))
      put("plan", d("queryPlanning"))
      put("add_batch", d("addBatch"))
      put("commit", d("walCommit") + d("commitOffsets"))
    }
  }

  /** The per-layer report: sums per traced cycle, ratios of sums,
    * medians and maxima of micro-batch phases. Every name is present on
    * every workload; a layer a workload does not reach reads 0. */
  def report(setupS: collection.Map[String, Double], overheadPct: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, tracedCycles).toDouble
    def per(k: String) = sums.getOrElse(k, 0.0) / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def bm(k: String) = batchMs.getOrElse(k, ArrayBuffer.empty[Double]).toSeq
    val self = Trace.Layers.map(l => (s"self.${l}_s", per(s"self.${l}_s"), "s"))
    self ++ Seq(
      ("setup.session_s", setupS.getOrElse("session", 0.0), "s"),
      ("setup.data_s", setupS.getOrElse("data", 0.0), "s"),
      ("construct_s", per("construct_s"), "s"),
      ("construct_jobs", per("construct_jobs"), "count"),
      ("plan_s", per("plan_s"), "s"),
      ("scan.row_groups_total", per("scan.row_groups_total"), "count"),
      ("scan.row_groups_planned", per("scan.row_groups_planned"), "count"),
      ("scan.rows_read", per("scan.rows_read"), "rows"),
      ("scan.rows_returned", per("scan.rows_returned"), "rows"),
      ("scan.rows_read_per_row_returned", ratio(per("scan.rows_read"), per("scan.rows_returned")), "ratio"),
      ("scan.task_s", per("scan.task_s"), "s"),
      ("scan.rows_per_core_s", ratio(per("scan.rows_read"), per("scan.task_s")), "rows/s"),
      ("exec_s", per("exec_s"), "s"),
      ("jobs", per("jobs"), "count"),
      ("stages", per("stages"), "count"),
      ("task_s", per("task_s"), "s"),
      ("shuffle_write_bytes", per("shuffle_write_bytes"), "B"),
      ("shuffle_read_bytes", per("shuffle_read_bytes"), "B"),
      ("spill_bytes", per("spill_bytes"), "B"),
      ("stage_skew", med(skews.toSeq), "ratio"),
      ("write.job_s", per("write.job_s"), "s"),
      ("write.commit_s", per("write.commit_s"), "s"),
      ("write.files_added", per("write.files_added"), "count"),
      ("write.bytes_written", per("write.bytes_written"), "B"),
      ("write.bytes_per_live_byte", ratio(per("write.bytes_written"), per("live_bytes")), "ratio"),
      ("compact.minor_s", per("compact.minor_s"), "s"),
      ("compact.major_s", per("compact.major_s"), "s"),
      ("compact.bytes_rewritten_per_live_byte", ratio(per("compact.bytes_rewritten"), per("live_bytes")), "ratio"),
      ("compact.files_before", per("compact.files_before"), "count"),
      ("compact.files_after", per("compact.files_after"), "count"),
      ("stream.batches", per("stream.batches"), "count"),
      ("stream.trigger_ms_p50", med(bm("trigger")), "ms"),
      ("stream.trigger_ms_max", bm("trigger").maxOption.getOrElse(0.0), "ms"),
      ("stream.plan_ms_p50", med(bm("plan")), "ms"),
      ("stream.plan_ms_max", bm("plan").maxOption.getOrElse(0.0), "ms"),
      ("stream.add_batch_ms_p50", med(bm("add_batch")), "ms"),
      ("stream.add_batch_ms_max", bm("add_batch").maxOption.getOrElse(0.0), "ms"),
      ("stream.commit_ms_p50", med(bm("commit")), "ms"),
      ("stream.commit_ms_max", bm("commit").maxOption.getOrElse(0.0), "ms"),
      ("trace.overhead_pct", overheadPct, "%"),
      ("trace.self_sum_err_pct", maxSelfErr * 100, "%"),
      ("trace.cycles", tracedCycles.toDouble, "count"),
    )
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of a fixed percentile ladder that leaves at least ten
    * samples above it: (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    val p = ladder.find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}

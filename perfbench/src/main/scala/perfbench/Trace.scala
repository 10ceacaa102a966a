package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are nanoseconds on the `System.nanoTime`
  * timeline. `layer` is the module the interval is spent in; `depth`
  * orders nesting for self-time attribution. */
final class Span(val id: Int, val parent: Int, val op: Int, val layer: String,
                 val name: String, var start: Long, var end: Long, val depth: Int) {
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def dur: Long = math.max(0L, end - start)
  def contains(t: Long): Boolean = start <= t && t <= end
}

/** Per-op result of tracing: self time per layer, plus the Spark-side
  * counts the listener saw while the op ran. */
final class OpTrace(val root: Span, val spans: Seq[Span],
                    val selfNs: Map[String, Long]) {
  def jobs: Seq[Span] = spans.filter(_.name == "job")
  def stages: Seq[Span] = spans.filter(_.name == "stage")
  def batches: Seq[Span] = spans.filter(_.name == "batch")
  def stageSum(attr: String): Double = stages.map(_.attrs.getOrElse(attr, 0.0)).sum

  /** Nanoseconds of `outer` covered by the jobs under it. */
  def jobNsWithin(outer: Span): Long =
    Trace.unionNs(jobs.filter(j => isUnder(j, outer)).map(j => (j.start, j.end)))

  def isUnder(s: Span, outer: Span): Boolean = {
    val byId = spans.map(x => x.id -> x).toMap + (root.id -> root)
    var p = s.parent
    while (p >= 0 && p != outer.id) p = byId.get(p).map(_.parent).getOrElse(-1)
    p == outer.id
  }
}

object Trace {
  /** Layers a span can be attributed to, in report order. */
  val Layers: Seq[String] = Seq("bench", "graft.queries", "graft.kv",
    "graft.connector.write", "graft.streaming", "catalyst", "exec")

  /** Stated tolerance: per op, the layer self times must add up to the
    * op's wall time within this share (attribution is exact by
    * construction; the check guards the attribution code). */
  val SelfSumTolerance = 0.01

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time by layer: every instant of the root's interval goes to the
    * deepest span active at that instant, so the layer totals add up to
    * the root's duration. */
  def selfTimes(root: Span, spans: Seq[Span]): Map[String, Long] = {
    val all = (root +: spans).filter(_.dur > 0)
    val cuts = all.flatMap(s => Seq(s.start, s.end)).distinct.sorted
      .filter(t => t >= root.start && t <= root.end)
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = a + (b - a) / 2
        val owner = all.filter(s => s.start <= mid && mid < s.end)
          .maxBy(s => (s.depth, s.id))
        acc(owner.layer) += b - a
      case _ => ()
    }
    acc.toMap
  }
}

/** Collects spans for traced ops. Bench-side spans come from [[span]];
  * job, stage and micro-batch spans come from listeners that are
  * attached only while a traced cycle runs. All spans stay in memory
  * until [[writeFile]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + nanoOffset

  val all = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Span]
  private var opSpans = ArrayBuffer.empty[Span]
  private var opIndex = 0
  var on = false

  private final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }
  private final class StageRec(val id: Int) {
    var submitMs = 0L; var doneMs = 0L; var tasks = 0
    val taskMs = ArrayBuffer.empty[Long]
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
  }
  private final class BatchRec(val startMs: Long, val durations: Map[String, Long], val rows: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val batches = ArrayBuffer.empty[BatchRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      val m = e.taskMetrics
      st.tasks += 1
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.shuffleW += m.shuffleWriteMetrics.bytesWritten
        st.shuffleR += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
      st.submitMs = i.submissionTime.getOrElse(0L)
      st.doneMs = i.completionTime.getOrElse(st.submitMs)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("triggerExecution"))
        batches += new BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows)
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = {
    org.apache.spark.perfbenchbridge.Flush(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    drain()
    on = false
  }

  private def drain(): Unit = synchronized { jobs.clear(); stages.clear(); batches.clear() }

  private def newSpan(parent: Int, layer: String, name: String, start: Long,
                      end: Long, depth: Int): Span = {
    val s = new Span(nextId, parent, opIndex, layer, name, start, end, depth)
    nextId += 1
    s
  }

  /** Times `body` as a span of `layer` when tracing is on. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on || stack.isEmpty) body
    else {
      val parent = stack.head
      val s = newSpan(parent.id, layer, name, System.nanoTime(), 0L, parent.depth + 1)
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail; opSpans += s }
    }

  /** Opens an op's root span; the caller times the op with the same
    * clock reading. */
  def beginOp(kind: String, startNs: Long): Unit =
    if (on) {
      opIndex += 1
      opSpans = ArrayBuffer.empty
      stack = List(newSpan(-1, "bench", kind, startNs, 0L, 0))
    }

  /** Closes the op's root span, pulls the listener events in, builds
    * their spans under the bench spans that contain them and returns
    * the op's self times. */
  def endOp(endNs: Long): Option[OpTrace] =
    if (!on || stack.isEmpty) None
    else {
      val root = stack.last
      root.end = endNs
      stack = Nil
      org.apache.spark.perfbenchbridge.Flush(sc)
      val ext = ArrayBuffer.empty[Span]
      // listener times have millisecond resolution: clamp into the op
      def deepestAt(t: Long, among: Seq[Span]): Span = {
        val at = math.min(math.max(t, root.start), root.end)
        (root +: among).filter(_.contains(at)).maxBy(s => (s.depth, s.id))
      }
      def clipped(s: Span, p: Span): Span = {
        s.start = math.min(math.max(s.start, p.start), p.end)
        s.end = math.max(math.min(s.end, p.end), s.start)
        s
      }
      synchronized {
        val bench = opSpans.toSeq
        batches.foreach { b =>
          val st = msToNs(b.startMs)
          val p = deepestAt(st, bench)
          val s = clipped(newSpan(p.id, "graft.streaming", "batch", st,
            st + b.durations("triggerExecution") * 1000000L, p.depth + 1), p)
          b.durations.foreach { case (k, v) => s.attrs(k) = v.toDouble }
          s.attrs("rows") = b.rows.toDouble
          ext += s
        }
        val stageParent = mutable.Map.empty[Int, Span]
        jobs.values.foreach { j =>
          val st = msToNs(j.startMs)
          val p = deepestAt(st, bench ++ ext)
          val s = clipped(newSpan(p.id, "exec", "job", st, msToNs(j.endMs), p.depth + 1), p)
          s.attrs("job_id") = j.id.toDouble
          ext += s
          j.stageIds.foreach(id => stageParent.getOrElseUpdate(id, s))
        }
        stages.values.filter(_.submitMs > 0).foreach { r =>
          stageParent.get(r.id).foreach { p =>
            val s = clipped(newSpan(p.id, "exec", "stage", msToNs(r.submitMs),
              msToNs(r.doneMs), p.depth + 1), p)
            s.attrs("stage_id") = r.id.toDouble
            s.attrs("tasks") = r.tasks.toDouble
            s.attrs("task_ms") = r.taskMs.sum.toDouble
            s.attrs("shuffle_write_bytes") = r.shuffleW.toDouble
            s.attrs("shuffle_read_bytes") = r.shuffleR.toDouble
            s.attrs("spill_bytes") = r.spill.toDouble
            val sorted = r.taskMs.sorted
            if (sorted.size >= 2 && sorted(sorted.size / 2) > 0)
              s.attrs("skew") = sorted.last.toDouble / sorted(sorted.size / 2)
            ext += s
          }
        }
        jobs.clear(); stages.clear(); batches.clear()
      }
      val spans = opSpans.toSeq ++ ext
      all += root
      all ++= spans
      Some(new OpTrace(root, spans, Trace.selfTimes(root, spans)))
    }

  /** Writes every span as one JSON object per line; times in ms since
    * `t0Ns`. */
  def writeFile(path: String, t0Ns: Long): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},"start_ms":${Json.num((s.start - t0Ns) / 1e6)},"end_ms":${Json.num((s.end - t0Ns) / 1e6)},"attrs":$attrs}"""
      sb += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

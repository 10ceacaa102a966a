package perfbench

import java.nio.file.{Files, Paths}

/** A workload: seeded set-up, one cycle of its fixed op mix, checks
  * that need the whole run, and its own named metrics. */
trait Workload {
  def setup(): Unit
  def cycle(i: Int): Unit
  def finish(): Unit = ()
  def detail(): Seq[(String, Double, String)]
}

/** Runs one workload in this JVM and writes its result record.
  *
  * Usage: perfbench.Main --workload kv|queries --seed N
  *   --seconds S --trace 0|1 --scratch DIR --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceRun = opt("trace") == "1"
    val scratch = opt("scratch")
    val nproc = Runtime.getRuntime.availableProcessors
    // process start on the nanoTime timeline
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0Ns = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L

    val s0 = System.nanoTime()
    val spark = Session.build(nproc, scratch)
    val run = new Run(spark, seed, traceRun, scratch, t0Ns)
    run.setupS("session") = (System.nanoTime() - s0) / 1e9
    val w: Workload = workload match {
      case "kv" => new Kv(run)
      case "queries" => new Queries(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.setup("data")(w.setup())
    run.runCycles(seconds)(w.cycle)
    w.finish()

    val timed = run.cycles.filterNot(_.traced).toSeq
    val opMs = run.ops.filterNot(_.traced).map(_.wallMs).toSeq
    val e2e = Seq(
      ("setup_s", (run.firstOpNs - t0Ns) / 1e9, "s"),
      ("cycle_s", Stats.median(timed.map(_.wallS)), "s"),
      ("cycle_cpu_s", Stats.median(timed.map(_.cpuS)), "s"),
      ("op_p50_ms", Stats.median(opMs), "ms"))
    val perLayer = if (!traceRun) Seq.empty else {
      val u = timed.filter(_.index > 0).map(_.wallS)
      val t = run.cycles.filter(_.traced).map(_.wallS)
      val overhead = if (u.isEmpty || t.isEmpty) 0.0
        else (Stats.median(t.toSeq) / Stats.median(u.toSeq) - 1) * 100
      if (run.layer.maxSelfErr > Trace.SelfSumTolerance)
        run.errors += f"trace: layer self times miss an op's wall time by ${run.layer.maxSelfErr * 100}%.2f%% (tolerance ${Trace.SelfSumTolerance * 100}%.0f%%)"
      run.tracer.writeFile(s"$scratch/trace.jsonl", t0Ns)
      run.layer.report(run.setupS, overhead)
    }

    def metricMap(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "nproc" -> nproc.toString,
      "trace" -> (if (traceRun) "1" else "0"),
      "correct" -> run.errors.isEmpty.toString,
      "attempted" -> run.ops.size.toString,
      "failed" -> run.ops.count(!_.ok).toString,
      "errors" -> Json.arr(run.errors.toSeq.map(Json.str)),
      "end_to_end" -> metricMap(e2e),
      "per_layer" -> metricMap(perLayer),
      "detail" -> metricMap(w.detail()),
      "setup" -> Json.obj(run.setupS.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "cycles" -> Json.arr(run.cycles.toSeq.map(c => Json.obj(Seq(
        "index" -> c.index.toString, "traced" -> c.traced.toString,
        "wall_s" -> Json.num(c.wallS), "cpu_s" -> Json.num(c.cpuS), "ok" -> c.complete.toString)))),
      "ops" -> Json.arr(run.ops.toSeq.map(o => Json.obj(Seq(
        "kind" -> Json.str(o.kind), "cycle" -> o.cycle.toString,
        "t_start_ms" -> Json.num(o.tStartMs), "wall_ms" -> Json.num(o.wallMs),
        "traced" -> o.traced.toString, "ok" -> o.ok.toString)))),
    ))
    Files.writeString(Paths.get(opt("out")), record)
    spark.stop()
  }
}

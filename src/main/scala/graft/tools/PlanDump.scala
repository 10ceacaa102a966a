package graft.tools

/** Dev utility: print the executed physical plan of named queries at a
  * given sf dir — the quick feedback loop behind PLANS.md audits and
  * PlanGuardSpec pins. Usage: PlanDump [-x] <sfDir> <name> [<name> ...]
  * Without -x the plan is printed unexecuted. -x executes the query
  * first, so the printed plan is the FINAL adaptive plan — the only
  * place AQE runtime effects like ReusedExchange / skew-join splits are
  * visible. */
object PlanDump {
  def main(args0: Array[String]): Unit = {
    val execute = args0.headOption.contains("-x")
    val args = if (execute) args0.tail else args0
    val dir = args.head
    val spark = graft.Session.builder("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { n =>
      println(s"===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      if (execute) df.collect()
      println(df.queryExecution.executedPlan.treeString)
    }
    spark.stop()
  }
}

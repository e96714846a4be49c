package graft.tools

/** Dump query plans for the optimization-round evidence files.
  *
  * Usage: runMain graft.tools.PlanDump <tag> <query>[,<query>...]
  *
  * For each named SparkEntry query, writes
  * `$SPARK_GRAFT_PLANS_DIR/<query>_<tag>.txt` (default `plans/r21`)
  * containing `.explain("formatted")` of the
  * result DataFrame plus the EXECUTED plan after one action (so AQE's final
  * shape — ReusedExchange, AQEShuffleRead coalescing, broadcast decisions —
  * is visible, not just the static estimate), and a one-line node census.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> <q1,q2,...>")
    val tag = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.get()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r21"))
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name => graft.Cuts.withCuts { c =>
      // queries that collect their result inside a Cuts scope return a
      // LocalTableScan — dump the REAL plan from the factored
      // pre-boundary form instead, inside this scope
      val df = name match {
        case "q_curation" => graft.ops.PipelinePack.curationPlan(c, spark, d)
        case "q_simhash_hamming" =>
          graft.ops.PipelinePack.simhashHammingPlan(c, spark, d)
        case _ => graft.SparkEntry.queries(name)(spark, d)
      }
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.count() // drive to completion so AQE finalizes every stage
      val executed = df.queryExecution.executedPlan.toString
      // word-anchored so 'Exchange' does not also count the substring
      // inside 'BroadcastExchange'/'ReusedExchange' lines (r20 ADVICE)
      val census = "\\b(ReusedExchange|AQEShuffleRead|Exchange|SortMergeJoin|" +
        "BroadcastHashJoin|ShuffledHashJoin|CartesianProduct|WindowExec)\\b"
      val counts = census.r.findAllIn(executed).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      val body =
        s"""== $name ($tag) sf=$d ==
           |node census (executed): $counts
           |
           |---- explain("formatted") ----
           |$formatted
           |---- executed plan (post-AQE) ----
           |$executed
           |""".stripMargin
      java.nio.file.Files.write(dir.resolve(s"${name}_$tag.txt"),
        body.getBytes("UTF-8"))
      println(s"[plandump] wrote $dir/${name}_$tag.txt census=$counts")
    } }
    spark.stop()
  }
}

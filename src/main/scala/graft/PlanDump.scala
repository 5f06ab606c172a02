package graft

/** Dev tool: write `.explain("formatted")` output for declared queries to
  * one file per query, under the SAME session config and prepared (bucketed)
  * table layout the bench runs with — so plan evidence matches what Bench
  * times. Usage: runMain graft.PlanDump <sfDir> <outDir> [qprefix,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/r08"
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val suffix = if (args.length > 3) args(3) else "before"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (!sys.env.contains("SPARK_GRAFT_NO_BUCKET")) SparkEntry.prepare(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // SPARK_GRAFT_PLAN_EXEC=1 additionally EXECUTES each query (noop
    // sink) and appends the final adaptive plan — the only way to show
    // AQE-runtime rewrites (SmallResultSortRule, SMJ→SHJ) in a file.
    val exec = sys.env.contains("SPARK_GRAFT_PLAN_EXEC")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.exists(name.startsWith))) {
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val full = if (exec) {
            df.collect()
            plan + "\n\n== Executed (final adaptive) plan ==\n" +
              df.queryExecution.executedPlan.toString
          } else plan
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            full.getBytes("UTF-8"))
          System.err.println(s"[plandump] wrote $name")
          Pin.releaseAll(spark)
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}

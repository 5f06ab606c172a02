package graft

import org.apache.spark.sql.functions._

/** Dev probe (not a correctness gate): edge build and trajectory timings
  * for q157 at an arbitrary SF dir. Run manually:
  *   sbt "testOnly graft.KCorePerfProbe" -DSPARK_GRAFT_PROBE=/root/testdata/sf0.1
  */
class KCorePerfProbe extends SparkSpec {
  test("phase timings") {
    val dir = sys.props.getOrElse("SPARK_GRAFT_PROBE",
      sys.env.getOrElse("SPARK_GRAFT_PROBE", ""))
    assume(dir.nonEmpty)
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      info(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    val ev = graft.catalog.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("hr"))
      .distinct()
    val e2 = ev.withColumnRenamed("user_id", "user_b")
    val edges = ev.join(e2, Seq("event_type", "hr"))
      .filter(col("user_id") < col("user_b"))
      .select(col("user_id").as("a"), col("user_b").as("b"))
      .distinct()
    time("edges.count")(println(edges.count()))
    for (rep <- 1 to 2)
      time(s"trajectory rep $rep")(
        graft.operators.KCore.trajectory(edges, 3, 4).collect().foreach(println))
  }
}

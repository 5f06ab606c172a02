package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only scratch: stage-time breakdown for one query. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qnames = (if (args.length > 1) args(1) else "q60_curation_fast").split(",").toSeq
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // synchronized: listener-bus delivery is async, so clear() below can
    // race late prepare-stage events into the measured query's breakdown
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Int)]
    // per-stage task-metric sums: (runMs, cpuMs, deserMs, gcMs, resultSerMs)
    val taskAgg = scala.collection.mutable.Map.empty[Int, Array[Long]]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = (for {s <- i.submissionTime; e <- i.completionTime} yield e - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((i.stageId, i.name.takeWhile(_ != '\n').take(90), ms, i.numTasks))
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) taskAgg.synchronized {
          val a = taskAgg.getOrElseUpdate(te.stageId, new Array[Long](5))
          a(0) += m.executorRunTime
          a(1) += m.executorCpuTime / 1000000L
          a(2) += m.executorDeserializeTime
          a(3) += m.jvmGCTime
          a(4) += m.resultSerializationTime
        }
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.prepare(spark, sfDir)
    val repsN = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.toInt).getOrElse(1)
    qnames.foreach { qname =>
      (1 to repsN).foreach { rep =>
        Thread.sleep(500) // drain the listener bus before clearing
        stages.synchronized(stages.clear())
        taskAgg.synchronized(taskAgg.clear())
        val t0 = System.nanoTime()
        SparkEntry.queries(qname)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        val snap = stages.synchronized(stages.toList)
        val tm = taskAgg.synchronized(taskAgg.toMap)
        println(f"== $qname rep $rep wall $wall%.2f s, ${snap.size} stages ==")
        snap.sortBy(-_._3).take(15).foreach { case (id, name, ms, n) =>
          val a = tm.getOrElse(id, new Array[Long](5))
          println(f"stage $id%4d  $ms%6d ms  $n%4d tasks  run=${a(0)}%5d cpu=${a(1)}%5d deser=${a(2)}%4d gc=${a(3)}%4d  $name")
        }
        println(f"sum of stage times: ${snap.map(_._3).sum} ms")
        if (!sys.env.contains("SPARK_GRAFT_PROBE_NOCLEAN")) Pin.releaseAll(spark)
      }
    }
    spark.stop()
  }
}

package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only job profiler: run one declared query end to end (after the
  * Bench-identical warm + one untimed warmup rep) and print every Spark
  * job the steady-state rep launches — start offset, duration, task
  * count, and the call site — so a slow query's seconds decompose into
  * the sequential driver actions that spend them (guide §1: measure
  * first; §7.3: "nothing running" gaps are driver-side work, visible
  * here as inter-job gaps).
  *
  * `runMain graft.Profile <queryName> [sfDir] [reps]` */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    // dev-only conf overrides for A/B runs: SPARK_GRAFT_CONF="k=v;k=v"
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i) -> kv.substring(i + 1)
      }
    val spark = LocalSpark.builder(
      LocalSpark.settings(LocalSpark.CacheTables +: overrides)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.warm(spark, sfDir)

    final case class Job(id: Int, desc: String, start: Long,
      var end: Long = -1L, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = js.stageInfos.map(_.name).mkString(" | ").take(150)
        val j = Job(js.jobId, d, js.time,
          tasks = js.stageInfos.map(_.numTasks).sum)
        jobs.put(js.jobId, j); order.add(j)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId); if (j != null) j.end = je.time
      }
      // completed stages with real runtimes: a job's numbers above
      // aggregate its stages; this names the slow one
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val dur = (for {s <- i.submissionTime; e <- i.completionTime}
          yield (e - s) / 1e3).getOrElse(-1.0)
        stages.add(f"  stage ${i.stageId}%4d  dur=$dur%6.2f  " +
          f"t=${i.numTasks}%4d  ${i.name.take(110)}")
      }
    })

    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      jobs.clear(); order.clear(); stages.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      if (r == reps && sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
        // same shape as df.count(), but keeps the QueryExecution so the
        // FINAL adaptive plan (isFinalPlan=true) can be printed
        val cnt = df.groupBy().count()
        cnt.collect()
        println(cnt.queryExecution.executedPlan.toString)
      } else df.count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      println(f"===== $name rep $r: $total%.2f s, ${order.size} jobs =====")
      if (r == reps) {
        val base = order.peek() match { case null => 0L; case j => j.start }
        var prevEnd = base
        order.forEach { j =>
          val gap = (j.start - prevEnd) / 1e3
          val dur = (j.end - j.start) / 1e3
          println(f"  job ${j.id}%4d  +${(j.start - base) / 1e3}%7.2f s  " +
            f"gap=${gap}%6.2f  dur=${dur}%6.2f  t=${j.tasks}%4d  " +
            j.desc)
          prevEnd = math.max(prevEnd, j.end)
        }
        if (sys.env.contains("SPARK_GRAFT_STAGES"))
          stages.forEach(s => println(s))
      }
    }
    spark.stop()
  }
}

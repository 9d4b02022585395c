package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run inside one JVM: set up the workload, run its seeded
  * operation log as a closed loop with one client, then
  * (untimed) write every operation's answer and the store checks for the
  * Python side to verify.
  *
  * `java perfbench.Harness <config.json>` — the config names the
  * workload, the data directory, the operation log, the per-operation
  * deadline and the output directory. */
object Harness {
  val mapper = new ObjectMapper()

  final case class Config(workload: String, data: String, work: String,
      opLog: String, out: String, deadline: Double,
      trace: Boolean, cores: Int, extra: Map[String, Any])

  /** The outcome of one timed operation. `rows` is the collected answer
    * of a read, written out after the loop. */
  final case class OpResult(i: Int, kind: String, name: String,
      durS: Double, startMs: Long, endMs: Long,
      status: String, error: String,
      rows: Option[(Array[Row], org.apache.spark.sql.types.StructType)])

  def readConfig(path: String): Config = {
    val m = mapper.readValue(new File(path), classOf[java.util.Map[String, Any]])
      .asScala.toMap
    def s(k: String) = m(k).toString
    Config(s("workload"), s("data"), s("work"), s("op_log"), s("out"),
      s("deadline").toDouble, s("trace").toBoolean, s("cores").toInt, m)
  }

  def readOps(path: String): Seq[Map[String, Any]] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { l =>
      mapper.readValue(l, classOf[java.util.Map[String, Any]]).asScala.toMap
    }.toSeq

  def session(cfg: Config): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.cacheTables", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.graft.scratchDir", s"${cfg.work}/scratch")
      .config("spark.sql.catalogImplementation", "in-memory")
    Workloads.sessionConf(cfg.workload).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "--dump") Workloads.dump(args(1)) else bench(readConfig(args(0)))

  def bench(cfg: Config): Unit = {
    val ops = readOps(cfg.opLog)
    new File(cfg.out).mkdirs()
    val trace = if (cfg.trace) Some(new Trace()) else None

    // set-up: everything before the first timed operation
    val t0 = System.nanoTime()
    val spark = session(cfg)
    val wl = Workloads(cfg, spark)
    wl.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    trace.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val fsBefore = FsStats.snapshot()
    wl.beforeLoop()

    // the closed loop: one client, next operation when the last returns
    val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val gcBefore = JvmStats.snapshot()("gc_s")
    val loopStart = System.nanoTime()
    for (op <- ops) {
      val r = runOne(spark, wl, op, cfg.deadline, trace)
      System.err.println(f"perfbench op ${r.i} ${r.name} ${r.durS}%.3f s ${r.status}")
      results += r
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val fsAfter = FsStats.snapshot()
    val gcAfter = JvmStats.snapshot()("gc_s")
    val storeStats = wl.cacheStats() ++ wl.afterLoop()

    // untimed: answers and checks for the verifier
    def save(rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
        name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${cfg.out}/$name")
    results.foreach(r => r.rows.foreach { case (rows, schema) =>
      save(rows, schema, s"op_${r.i}") })
    wl.warmAnswers.foreach { case (n, (rows, schema)) => save(rows, schema, s"warm_$n") }
    val byIndex = ops.map(o => o("i").toString.toInt -> o).toMap
    val checks = wl.finalChecks(cfg.out,
      results.filter(_.status == "ok").map(r => byIndex(r.i)).toSeq)
    trace.foreach(_.drain())

    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("setup_s", setupS)
    res.put("loop_s", loopS)
    res.put("ops", results.map { r =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("i", r.i); m.put("kind", r.kind); m.put("name", r.name)
      m.put("dur_s", r.durS); m.put("start_ms", r.startMs); m.put("end_ms", r.endMs)
      m.put("status", r.status); m.put("error", r.error)
      m
    }.asJava)
    res.put("fs", FsStats.diff(fsBefore, fsAfter).asJava)
    res.put("store", storeStats.asJava)
    res.put("checks", checks.asJava)
    val jvm = JvmStats.snapshot()
    res.put("jvm", (jvm + ("loop_gc_s" -> (gcAfter - gcBefore))).asJava)
    trace.foreach(t => res.put("trace", t.summary()))
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(s"${cfg.out}/result.json"), res)
    spark.stop()
  }

  /** Run one operation on its own thread under its own job group. At the
    * deadline the group is cancelled and the thread interrupted, and the
    * loop waits until both the thread and the group's jobs have ended, so
    * an abandoned operation never overlaps the next one. */
  def runOne(spark: SparkSession, wl: Workloads, op: Map[String, Any],
      deadline: Double, trace: Option[Trace]): OpResult = {
    val i = op("i").toString.toInt
    val group = s"op-$i"
    val out = new AtomicReference[Either[Throwable, Option[(Array[Row],
      org.apache.spark.sql.types.StructType)]]]()
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      try out.set(Right(wl.run(op, trace.map(_.forOp(i)))))
      catch { case t: Throwable => out.set(Left(t)) }
      finally spark.sparkContext.clearJobGroup()
    }, group)
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    worker.start()
    worker.join((deadline * 1000).toLong)
    val durS = (System.nanoTime() - t0) / 1e9
    val timedOut = worker.isAlive
    if (timedOut) {
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
      while (worker.isAlive) {
        spark.sparkContext.cancelJobGroup(group)
        worker.join(200)
      }
      awaitGroupIdle(spark, group)
    }
    val endMs = System.currentTimeMillis()
    val kind = op("kind").toString
    val name = op.getOrElse("name", kind).toString
    if (timedOut)
      OpResult(i, kind, name, durS, t0Ms, endMs, "deadline",
        f"still running at the $deadline%.1f s deadline", None)
    else out.get() match {
      case Right(rows) => OpResult(i, kind, name, durS, t0Ms, endMs, "ok", "", rows)
      case Left(t) => OpResult(i, kind, name, durS, t0Ms, endMs, "error",
        s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}",
        None)
    }
  }

  private def awaitGroupIdle(spark: SparkSession, group: String): Unit = {
    val st = spark.sparkContext.statusTracker
    def running = st.getJobIdsForGroup(group).exists { id =>
      st.getJobInfo(id).exists(j =>
        j.status() == org.apache.spark.JobExecutionStatus.RUNNING)
    }
    while (running) Thread.sleep(50)
  }

  def writeJson(path: String, v: Any): Unit = {
    val w = new PrintWriter(path)
    try w.write(mapper.writeValueAsString(v)) finally w.close()
  }
}

/** Hadoop `file`-scheme statistics: what the engine asked of the local
  * filesystem (executors run in this JVM, so their reads and writes are
  * counted too). */
object FsStats {
  def snapshot(): Map[String, Long] = {
    val s = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map(
      "bytes_read" -> s.map(_.getBytesRead).sum,
      "bytes_written" -> s.map(_.getBytesWritten).sum)
  }

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

object JvmStats {
  def snapshot(): Map[String, Double] = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // the process's peak resident set (Linux; 0 where /proc is absent)
    val hwmKb = scala.util.Try(scala.io.Source.fromFile("/proc/self/status")
      .getLines().find(_.startsWith("VmHWM:")).get
      .replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
    Map("gc_s" -> gc, "heap_peak_mb" -> heapPeak, "rss_peak_mb" -> hwmKb / 1024)
  }
}

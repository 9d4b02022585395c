package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** The traced run's recorder. Spans (operation → sql.analyze / ops.call →
  * plan.optimize → plan.physical → action) are taken around the calls
  * into each layer; jobs, stages and tasks come from a listener and are
  * tied to their operation through the job group the loop sets. All of
  * it stays in memory and is written out once, when the run ends. */
final class Trace {
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  final case class Span(op: Int, name: String, startMs: Double, endMs: Double)
  private val spans = new ConcurrentLinkedQueue[Span]()

  final class OpTrace(op: Int) {
    def span[T](name: String)(body: => T): T = {
      val s = nowMs
      try body finally spans.add(Span(op, name, s, nowMs))
    }
  }
  def forOp(op: Int): OpTrace = new OpTrace(op)

  private def opOf(group: String): Int =
    if (group != null && group.startsWith("op-")) group.drop(3).toInt else -1

  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int,
    java.util.LinkedHashMap[String, Any]]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int,
    java.util.LinkedHashMap[String, Any]]()

  private def stageRec(id: Int): java.util.LinkedHashMap[String, Any] =
    stages.computeIfAbsent(id, _ => {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", id); m.put("op", stageOp.getOrDefault(id, -1))
      Seq("tasks", "failed_tasks").foreach(m.put(_, 0L))
      Seq("run_s", "cpu_s", "gc_s", "overhead_s", "input_b", "shuffle_read_b",
        "shuffle_write_b", "spill_b", "peak_mem_b").foreach(m.put(_, 0.0))
      m
    })

  private def add(m: java.util.LinkedHashMap[String, Any], k: String,
      v: Double): Unit = m.put(k, m.get(k).asInstanceOf[Double] + v)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull)
      e.stageIds.foreach(s => stageOp.put(s, op))
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", e.jobId); m.put("op", op); m.put("start_ms", e.time)
      m.put("stages", e.stageIds.size)
      m.put("tasks", e.stageInfos.map(_.numTasks).sum)
      jobs.put(e.jobId, m)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.put("end_ms", e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = stageRec(i.stageId)
      synchronized {
        i.submissionTime.foreach(m.put("start_ms", _))
        i.completionTime.foreach(m.put("end_ms", _))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = stageRec(e.stageId)
      val tm = e.taskMetrics
      synchronized {
        m.put("tasks", m.get("tasks").asInstanceOf[Long] + 1)
        if (e.reason != Success)
          m.put("failed_tasks", m.get("failed_tasks").asInstanceOf[Long] + 1)
        if (tm != null) {
          add(m, "run_s", tm.executorRunTime / 1e3)
          add(m, "cpu_s", tm.executorCpuTime / 1e9)
          add(m, "gc_s", tm.jvmGCTime / 1e3)
          add(m, "overhead_s",
            math.max(0L, e.taskInfo.duration - tm.executorRunTime) / 1e3)
          add(m, "input_b", tm.inputMetrics.bytesRead.toDouble)
          add(m, "shuffle_read_b", (tm.shuffleReadMetrics.remoteBytesRead +
            tm.shuffleReadMetrics.localBytesRead).toDouble)
          add(m, "shuffle_write_b", tm.shuffleWriteMetrics.bytesWritten.toDouble)
          add(m, "spill_b", (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble)
          m.put("peak_mem_b", math.max(m.get("peak_mem_b").asInstanceOf[Double],
            tm.peakExecutionMemory.toDouble))
        }
      }
    }
  }

  /** Wait until the listener bus has delivered every event. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.values.asScala.exists(!_.containsKey("end_ms")) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Everything recorded, for the run's spans file. Operation spans come
    * from the loop's own timings, on the same wall clock. */
  def summary(): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("spans", spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      Map("op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs).asJava
    }.asJava)
    m.put("jobs", jobs.values.asScala.toSeq.sortBy(_.get("id").asInstanceOf[Int]).asJava)
    m.put("stages", stages.values.asScala.toSeq.sortBy(_.get("id").asInstanceOf[Int]).asJava)
    m
  }
}

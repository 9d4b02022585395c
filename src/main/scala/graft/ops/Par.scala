package graft.ops

/** Run independent driver ACTIONS concurrently (guide §2.6: Spark
  * happily runs several jobs at once inside one application — actions
  * are only sequential because the driver calls them sequentially).
  * The stored-index mutations each land 2-3 independent tables
  * (postings/df/stats, codes/tomb) before their commit marker; running
  * the writes back-to-back left the tail of each job's last tasks
  * holding the whole session idle. All tasks are joined before return
  * — the caller's marker-last commit discipline is unchanged — and the
  * first failure rethrows its ORIGINAL exception, so require()
  * messages and idempotence behavior survive the pool.
  *
  * A failure leaves no sibling write behind: every task's jobs carry a
  * per-call job tag (next to the job group the pool threads inherit, so
  * a caller's group cancel still reaches them), and on the first
  * failure the tagged jobs are cancelled, the pool is interrupted and
  * drained, and the call waits until no tagged task is still running
  * before it rethrows. A retry that clears the generation can then
  * never race an orphaned write landing inside it. */
private[graft] object Par {
  def all(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
    tasks.foreach(t => done.submit(() => { sc.addJobTag(tag); t() }))
    try tasks.foreach { _ =>
      try done.take().get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw (if (e.getCause != null) e.getCause else e)
      }
    } catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue,
          java.util.concurrent.TimeUnit.NANOSECONDS)
        // again: a sibling interrupted between submitting a job and
        // waiting on it left that job running; no thread is left to
        // submit another. A cancelled job's tasks stop at their next
        // kill check: wait them out, so no task still writes once the
        // caller sees `e`
        sc.cancelJobsWithTag(tag)
        val st = sc.statusTracker
        def running = st.getJobIdsForTag(tag).exists(j =>
          st.getJobInfo(j).exists(_.stageIds.exists(s =>
            st.getStageInfo(s).exists(_.numActiveTasks > 0))))
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (running && System.nanoTime() < deadline) Thread.sleep(20)
        throw e
    } finally pool.shutdown()
  }
}

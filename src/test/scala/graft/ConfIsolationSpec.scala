package graft

import graft.ops.Streaming

/** A query never changes the shared session's `spark.graft.*` settings
  * while it runs: another job on the same session, on another thread,
  * would otherwise see them. q134 clones its sink and runs a
  * keepEpochs-2 delete on every call, so it takes its settings as an
  * argument. */
class ConfIsolationSpec extends SparkSpecBase {

  private def graftConf: Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.graft."))

  test("q134 leaves the session's spark.graft.* conf untouched while it runs") {
    val before = graftConf
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val run = new Thread(() =>
      try Streaming.q134TimeTravel(spark, sf).collect()
      catch { case t: Throwable => failure.set(t) })
    run.start()
    val seen = scala.collection.mutable.LinkedHashSet.empty[Map[String, String]]
    while (run.isAlive) {
      val now = graftConf
      if (now != before) seen += now
      Thread.sleep(1)
    }
    run.join()
    Option(failure.get).foreach(throw _)
    assert(seen.isEmpty,
      s"the session conf changed mid-query: before $before, seen " +
        seen.mkString(", "))
    assert(graftConf === before)
  }
}

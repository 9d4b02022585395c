package graft

/** Bench's effective session settings, pinned key for key: every bench
  * total since r19 ran with exactly these, so a change here would make
  * the next round's numbers incomparable with the recorded ones. */
class SessionSettingsSpec extends SparkSpecBase {

  test("Bench builds its session with exactly the recorded settings") {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val settings = Bench.sessionSettings
    assert(settings.map(_._1).distinct.size == settings.size,
      s"a key is set twice: ${settings.map(_._1)}")
    assert(settings.toMap === Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.graft.cacheTables" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "1000",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "4096"),
      "spark.ui.enabled" -> "false"))
  }
}

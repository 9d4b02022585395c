package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession settings every main (Bench, Verify, Profile,
  * Plans) and the test suite build from, so they cannot drift apart.
  * Callers add only what differs (`extra`), e.g. [[CacheTables]].
  *
  *  - `cores` (env `SPARK_GRAFT_CPUS`, default: every processor) sets
  *    both the local master and the shuffle partition count;
  *  - the session time zone is UTC;
  *  - the stored text/vector indexes are `gen=`/`b=` directory trees of
  *    100-200 leaves; above Spark's default listing threshold (32)
  *    they are listed by a DISTRIBUTED job — 32 task launches to stat
  *    ~200 local dirs, 0.2-0.8 s of pure overhead per index read (q153
  *    profile). Driver-side listing handles thousands of dirs in ms on
  *    any filesystem with sane metadata latency; a deployment on a slow
  *    object store can lower it via env `SPARK_GRAFT_LIST_THRESHOLD`. */
object LocalSpark {
  /** The table cache Bench, Verify and Profile run with (see [[Tables]]). */
  val CacheTables: (String, String) = "spark.graft.cacheTables" -> "true"

  def defaultCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** The shared settings followed by `extra` (a later entry wins on a
    * repeated key). */
  def settings(extra: Seq[(String, String)] = Nil,
      cores: String = defaultCores): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
      sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "4096"),
    "spark.ui.enabled" -> "false") ++ extra

  def builder(settings: Seq[(String, String)]): SparkSession.Builder =
    settings.foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }
}

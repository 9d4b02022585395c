package graft.ops

import org.apache.spark.sql.SparkSession

/** Every setting of the epoch sink's lifecycle ops, its compaction
  * layout and its auto-indexing, read from the session ONCE per call.
  *
  * Each public lifecycle entry point ([[Streaming.compactSink]],
  * [[Streaming.deleteWhere]], [[Streaming.upsertBatch]], …) takes an
  * optional trailing `conf`; without one it parses the session here and
  * threads that single value through every helper. One op therefore
  * sees one setting from its first file write to its commit marker: a
  * `SET` landing mid-op cannot make the marker's `bloom_cols=` disagree
  * with the files it commits. A caller that needs different settings
  * for one call passes `SinkConf.of(spark).copy(...)` instead of
  * setting and restoring the shared session conf, which concurrent jobs
  * in the same session would see.
  *
  * Fields (session key, default):
  *  - `keepEpochs` (`spark.graft.sink.keepEpochs`, 1): snapshot
  *    retention depth, the number of newest committed epochs kept on
  *    disk. 1 retires an op's source epoch as soon as the new one
  *    commits; K > 1 keeps K−1 older epochs as time-travel snapshots
  *    whose untouched days are shared by reference through a durable
  *    merge plan, materialized only when an epoch falls below the
  *    horizon (see [[Streaming.readSink]]'s `atEpoch`).
  *  - `changeFiles` (`spark.graft.sink.changeFiles`, false): mutations
  *    record their churn in the epoch's CDC change manifest.
  *  - `checkMode` (`spark.graft.sink.checkMode`, `refuse`): what a
  *    CHECK violation does — abort the op, or `quarantine` the rows.
  *  - `targetFileBytes` (`spark.graft.compact.targetFileBytes`,
  *    128 MiB): the sized writers' bytes per file; the lexical and
  *    vector index writers use it too.
  *  - `clusterBy` / `zorderBy` (`spark.graft.compact.clusterBy` /
  *    `.zorderBy`, none): columns every epoch rewrite ranges on after
  *    the day key; z-order needs at least two.
  *  - `compactLockStaleMs` / `writerLockStaleMs`
  *    (`spark.graft.compact.lockStaleMs` / `spark.graft.writer.lockStaleMs`,
  *    1 h): age after which a crashed holder's compactor lock or writer
  *    lease is stolen.
  *  - `statsAutoIndex` / `bloomAutoIndex`
  *    (`spark.graft.stats.autoIndexColumns` /
  *    `spark.graft.bloom.autoIndexColumns`, none): columns every
  *    epoch-minting op re-indexes before it returns; bloom columns also
  *    get native parquet blooms in every epoch write.
  *  - `maintainStatsColumns` / `maintainBloomColumn`
  *    (`spark.graft.maintain.statsColumns` /
  *    `spark.graft.maintain.bloomColumn`, none): what
  *    [[Streaming.maintainSink]] re-indexes when the current epoch
  *    lacks a manifest.
  *  - `cdcUseChangeFiles` (`spark.graft.cdc.useChangeFiles`, true):
  *    [[SnapshotDiff.readSinkChanges]] may serve from change manifests;
  *    false forces the snapshot join.
  *
  * Column lists are comma-separated; entries are trimmed and empty ones
  * dropped. */
final case class SinkConf(
    keepEpochs: Int,
    changeFiles: Boolean,
    checkMode: String,
    targetFileBytes: Long,
    clusterBy: Seq[String],
    zorderBy: Seq[String],
    compactLockStaleMs: Long,
    writerLockStaleMs: Long,
    statsAutoIndex: Seq[String],
    bloomAutoIndex: Seq[String],
    maintainStatsColumns: Seq[String],
    maintainBloomColumn: Option[String],
    cdcUseChangeFiles: Boolean) {
  require(keepEpochs >= 1,
    s"spark.graft.sink.keepEpochs must be >= 1, got $keepEpochs")
  require(checkMode == "refuse" || checkMode == "quarantine",
    s"spark.graft.sink.checkMode must be 'refuse' or 'quarantine', " +
      s"got '$checkMode'")

  /** Sized-writer count for `inputBytes` of input: enough range
    * partitions that each writes about [[targetFileBytes]], never fewer
    * than `floor`, capped at 32768. */
  def writers(inputBytes: Long, floor: Long): Int =
    math.min(32768L, math.max(floor,
      (inputBytes + targetFileBytes - 1) / targetFileBytes)).toInt
}

object SinkConf {
  private val HourMs = 60L * 60 * 1000

  /** The session's current settings; the only parser of these keys. */
  def of(spark: SparkSession): SinkConf = {
    def get(key: String): Option[String] = spark.conf.getOption(key)
    def cols(key: String): Seq[String] =
      get(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    SinkConf(
      keepEpochs = get("spark.graft.sink.keepEpochs").fold(1)(_.toInt),
      changeFiles = get("spark.graft.sink.changeFiles").exists(_.toBoolean),
      checkMode = get("spark.graft.sink.checkMode").getOrElse("refuse"),
      targetFileBytes =
        get("spark.graft.compact.targetFileBytes").fold(128L << 20)(_.toLong),
      clusterBy = cols("spark.graft.compact.clusterBy"),
      zorderBy = cols("spark.graft.compact.zorderBy"),
      compactLockStaleMs =
        get("spark.graft.compact.lockStaleMs").fold(HourMs)(_.toLong),
      writerLockStaleMs =
        get("spark.graft.writer.lockStaleMs").fold(HourMs)(_.toLong),
      statsAutoIndex = cols("spark.graft.stats.autoIndexColumns"),
      bloomAutoIndex = cols("spark.graft.bloom.autoIndexColumns"),
      maintainStatsColumns = cols("spark.graft.maintain.statsColumns"),
      maintainBloomColumn =
        get("spark.graft.maintain.bloomColumn").map(_.trim).filter(_.nonEmpty),
      cdcUseChangeFiles =
        get("spark.graft.cdc.useChangeFiles").forall(_.toBoolean))
  }
}

package graft.ops

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Session-scoped SHARED, IMMUTABLE on-disk artifacts — the build-once
  * discipline [[graft.SessionCache]] applies to in-memory frames,
  * extended to stored structures (sinks, stored indexes).
  *
  * Why: the lifecycle proof queries (q134–q155) each used to ingest,
  * compact, and index a PRIVATE copy of the same input tables, so the
  * declared-query bench was dominated by redundant scratch builds (the
  * r14 verdict's #3: "share one immutable session-scoped base lifecycle
  * where semantics allow"). Queries that only READ a base artifact
  * (searches, pruned reads) share it directly; queries that MUTATE
  * (delete / upsert / compact provers) take a [[cloneTo]] file-copy of
  * the shared base into their private scratch and mutate the clone —
  * a local-fs copy of the artifact's bytes, orders of magnitude
  * cheaper than re-running the tokenize/encode/shuffle pipeline that
  * built it.
  *
  * Immutability contract: consumers never write into a shared
  * artifact, with ONE carve-out — idempotent, deterministic,
  * metadata-only index manifests (zone-map stats, bloom filters) that
  * overwrite to identical content regardless of which query writes
  * first, so results are independent of query execution order. Results
  * must be identical whether a query runs in isolation or after any
  * other — that is what keeps the per-query oracle hashes meaningful.
  *
  * Build-once is per (session, input dir, artifact name) via
  * [[graft.SessionCache.getOrBuild]]; the path embeds the session
  * token, so a fresh JVM can never adopt a previous run's partial
  * tree, and the pre-build delete clears same-session reruns. */
private[graft] object SharedArtifacts {

  private val built = TrieMap.empty[(String, String), (SparkSession, String)]

  /** The path of shared artifact `name` derived from input `dir`,
    * building it exactly once per session via `build(path)`. The
    * returned tree is IMMUTABLE to callers — mutate a [[cloneTo]]
    * copy instead. */
  def once(spark: SparkSession, dir: String, name: String)
      (build: String => Unit): String =
    graft.SessionCache.getOrBuild(built, spark, s"artifact:$name:$dir") {
      val path = scratchPath(spark, dir, "graft_shared", name)
      CommitLog.fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
      build(path)
      path
    }

  /** `<root>/<area>/<name>_<md5(dir)>_<session token>`: the one scratch
    * path scheme of the session's shared artifacts and per-query
    * scratch trees. `root` is `spark.graft.scratchDir` (the JVM tmpdir
    * when unset); md5(dir) keys the input dir collision-free, and the
    * session token keeps two sessions (or JVMs) apart. */
  def scratchPath(spark: SparkSession, dir: String, area: String,
      name: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val root = spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    new java.io.File(new java.io.File(root, area),
      s"${name}_${key}_${graft.SessionCache.sessionToken(spark)}")
      .getAbsolutePath
  }

  /** Clone shared artifact `src` into the caller's PRIVATE scratch
    * path `dst` (cleared first), so lifecycle mutations never touch
    * the shared base. On a local filesystem the DATA files HARD-LINK
    * instead of copying (r17 — the full byte copy was the dominant
    * first-rep cost of every mutating lifecycle prover: q155's clone
    * alone ran ~14 s at sf0.1): link-sharing is safe because no sink
    * or stored-index mutation ever patches a data file's CONTENT in
    * place — epochs/generations write fresh files and retire whole
    * directories by rename/delete, both of which only touch directory
    * entries, never the shared inode. The exception is the small
    * `_`/`.`-prefixed METADATA names (commit markers, locks, merge
    * plans), which ARE rewritten in place (create-overwrite truncates
    * the inode and would corrupt the base through a link) — those
    * copy byte-for-byte; they are a rounding error of the artifact.
    * Falls back to the plain recursive copy per file (cross-device
    * links) or wholesale (non-local filesystems). Returns `dst`. */
  def cloneTo(spark: SparkSession, src: String, dst: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val df = dp.getFileSystem(conf)
    df.delete(dp, true)
    df.mkdirs(dp.getParent)
    linkOrCopyTree(conf, sp, dp)
    dst
  }

  /** The clone's link-or-copy primitive, reusable on its own (e.g.
    * [[graft.ops.Streaming.restoreSink]] reconstructing a retained
    * epoch's day directories): hard-link `src`'s tree into `dst` when
    * both sides are local (same immutability argument as [[cloneTo]] —
    * data files are never patched in place, `_`/`.` metadata names
    * copy), else fall back to a byte copy. `dst` must not exist. */
  private[ops] def linkOrCopyTree(conf: org.apache.hadoop.conf.Configuration,
      sp: org.apache.hadoop.fs.Path, dp: org.apache.hadoop.fs.Path): Unit = {
    val sf = sp.getFileSystem(conf)
    val df = dp.getFileSystem(conf)
    def local(fs: org.apache.hadoop.fs.FileSystem): Boolean = fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem => true
      case _: org.apache.hadoop.fs.RawLocalFileSystem => true
      case _ => false
    }
    val srcFile = new java.io.File(
      org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(sp)
        .toString)
    if (local(sf) && local(df) && srcFile.exists())
      linkTree(srcFile, new java.io.File(
        org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(dp)
          .toString))
    else require(
      org.apache.hadoop.fs.FileUtil.copy(sf, sp, df, dp, false, conf),
      s"could not clone $sp -> $dp")
  }

  /** Recursive local clone: directories recreate, mutable-in-place
    * metadata names (`_`/`.` prefixes) copy, everything else
    * hard-links (falling back to a copy where the link fails — e.g. a
    * scratch split across devices). */
  private def linkTree(s: java.io.File, d: java.io.File): Unit =
    if (s.isDirectory) {
      require(d.mkdirs() || d.isDirectory, s"could not create $d")
      // listFiles() returns NULL (not empty) on an I/O or permission
      // failure - fail with the path, not a bare NPE
      val children = s.listFiles()
      require(children != null, s"could not list $s while cloning")
      children.foreach(c => linkTree(c, new java.io.File(d, c.getName)))
    } else {
      val n = s.getName
      def copy(): Unit = java.nio.file.Files.copy(s.toPath, d.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      if (!Streaming.isDataName(n)) copy()
      else try java.nio.file.Files.createLink(d.toPath, s.toPath)
      catch { case _: Exception => copy() }
    }
}

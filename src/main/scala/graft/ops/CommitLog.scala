package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The small-file commit protocol every stored structure shares: the
  * epoch sink (`_EPOCH_COMMIT`, `_MERGE_PLAN`, `_PENDING_ALTER`,
  * `_CHECKS`), the lexical index (`_GEN_COMMIT_N`), the vector index
  * (`_GEN_COMMIT_N` over the `_INDEX_COMMIT` base) and the views
  * (`_VIEW_COMMIT_N`). Each owner writes its data first, then installs
  * one marker here (temp + rename, so a marker is never torn), then
  * retires what the marker superseded. Owners keep the MEANING of their
  * marker lines; this module owns the bytes: where a marker lives, how
  * it is installed, how it is read, and which generations it commits.
  *
  * Reads are STRICT: a missing, unreadable or undecodable marker
  * throws. A marker installed by rename is never legitimately torn, so
  * a failed read is an infrastructure fault the caller must see; the
  * monitoring-only callers that may shrug it off wrap the read in
  * [[lenient]] at the call site. */
private[graft] object CommitLog {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Install `content` as `dir/name`: write `.name.tmp`, then rename it
    * into place. Hadoop reports a failed rename as `false`, never an
    * exception, so that fails here with the caller's `failure` message,
    * before anything downstream trusts the marker. `atomicReplace` is
    * for a marker that may already exist (`_CHECKS`): replacing it must
    * never leave NO marker on disk, so on a local filesystem the swap is
    * one atomic move; elsewhere it is delete + rename, whose window the
    * caller's lock covers (the tmp file survives a crash there as
    * evidence). */
  def write(f: FileSystem, dir: Path, name: String, content: String,
      failure: => String, atomicReplace: Boolean = false): Unit = {
    val tmp = new Path(dir, s".$name.tmp")
    val marker = new Path(dir, name)
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val local = f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (atomicReplace && local) {
      def nio(p: Path) = java.nio.file.Path.of(
        Path.getPathWithoutSchemeAndAuthority(p).toString)
      java.nio.file.Files.move(nio(tmp), nio(marker),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // the move bypasses Hadoop, so the tmp's checksum sidecar stays
      // behind; the marker never had one, and nothing else sweeps it
      f match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          java.nio.file.Files.deleteIfExists(nio(c.getChecksumFile(tmp)))
        case _ => ()
      }
    } else {
      if (atomicReplace) f.delete(marker, false)
      require(f.rename(tmp, marker), failure)
    }
  }

  private def source[T](f: FileSystem, p: Path)(
      body: scala.io.BufferedSource => T): T = {
    val in = f.open(p)
    try body(scala.io.Source.fromInputStream(in, "UTF-8")) finally in.close()
  }

  /** The whole content of `p` (lock and lease tokens compare it byte
    * for byte). */
  def read(f: FileSystem, p: Path): String = source(f, p)(_.mkString)

  /** The lines of `p`. */
  def readLines(f: FileSystem, p: Path): List[String] =
    source(f, p)(_.getLines().toList)

  /** `key=value` lines as a map, split at the first `=`; lines without
    * one are skipped and the first line of a repeated key wins. */
  def keyValues(lines: Seq[String]): Map[String, String] =
    lines.foldLeft(Map.empty[String, String]) { (m, l) =>
      val i = l.indexOf('=')
      if (i < 0 || m.contains(l.substring(0, i))) m
      else m + (l.substring(0, i) -> l.substring(i + 1))
    }

  /** A read whose failure means "unknown", never "wrong": None on any
    * exception. Only for records nothing correctness-bearing keys on. */
  def lenient[T](body: => Option[T]): Option[T] =
    try body catch { case _: Exception => None }

  /** One generation's commit marker: its id and `key=value` lines. */
  final case class Gen(id: Long, meta: Map[String, String]) {
    /** The generations this marker supersedes (a compaction's or a
      * refresh's `replaces=` list). */
    def replaces: Seq[Long] = meta.get("replaces").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).map(_.toLong)
  }

  /** Every `<prefix>N` marker under `root`, read once. */
  final case class Generations(f: FileSystem, root: Path, prefix: String,
      all: Seq[Gen]) {
    private lazy val replaced = all.flatMap(_.replaces).toSet

    /** The generations a reader serves: markers minus those a later
      * marker's `replaces=` superseded. The replacing marker is the
      * flip, so the crash window before [[retire]] double-counts
      * nothing. */
    lazy val committed: Seq[Long] = all.map(_.id).filterNot(replaced)

    def meta(id: Long): Map[String, String] =
      all.find(_.id == id).map(_.meta).getOrElse(Map.empty)

    /** The id the next commit mints. A torn write reuses its id (it
      * left no marker), so the minting caller clears that id's data
      * first. */
    def nextId: Long = if (all.isEmpty) 0L else all.map(_.id).max + 1

    /** Max `key=` value over committed markers: the sync lineage
      * (`cursor`, `epoch`). Max, not latest: a delete generation
      * carries no lineage and must not reset the position. */
    private def lineage(key: String): Option[Long] =
      committed.flatMap(meta(_).get(key)).map(_.toLong).maxOption

    /** The indexer's recorded position over its source sink:
      * (cursor, epoch), −1/−1 before the first sync. */
    def syncState: (Long, Long) =
      (lineage("cursor").getOrElse(-1L), lineage("epoch").getOrElse(-1L))

    /** The lineage a compaction carries into its own marker, so folding
      * generations never forgets the indexer's position. */
    def carriedLineage: Seq[String] =
      Seq("cursor", "epoch").flatMap(k => lineage(k).map(v => s"$k=$v"))

    /** Drop every superseded generation: its data dirs first, its marker
      * last. Idempotent; a crash mid-way only defers garbage to the next
      * call, because a marker outlives its data and stays superseded. */
    def retire(dataDirs: Long => Seq[Path]): Unit =
      replaced.toSeq.sorted.foreach { g =>
        dataDirs(g).foreach(f.delete(_, true))
        f.delete(new Path(root, s"$prefix$g"), false)
      }

    /** Mint generation [[nextId]] — the one mutation path of every
      * generation family: clear that id's `dataDirs` (a torn write left
      * data but no marker, and its id comes round again — without the
      * sweep the new marker would adopt, say, an orphan tombstone), run
      * `writes` (each given the id) concurrently through [[Par.all]],
      * install `<prefix><id>` holding `lines` LAST, and, when `lines`
      * carry `replaces=`, [[retire]] what the new marker superseded.
      * `failure` words the refusal of a failed install. Returns the id. */
    def mint(dataDirs: Long => Seq[Path], lines: Seq[String],
        failure: Long => String)(writes: (Long => Unit)*): Long = {
      val gen = nextId
      dataDirs(gen).foreach(f.delete(_, true))
      Par.all(writes.map(w => () => w(gen)): _*)
      write(f, root, s"$prefix$gen", lines.mkString("\n"), failure(gen))
      val marker = Gen(gen, keyValues(lines))
      if (marker.meta.contains("replaces"))
        copy(all = all :+ marker).retire(dataDirs)
      gen
    }
  }

  /** Does `root` hold any `gen=` data dir? A tombstone root a
    * compaction sweep emptied holds none, and `spark.read.parquet`
    * refuses to infer a schema for it. */
  def hasGenDirs(f: FileSystem, root: Path): Boolean =
    f.exists(root) && f.listStatus(root).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("gen="))

  /** The generation markers under `root`. `base`, when given, names a
    * marker that stands for generation 0 (the vector index's
    * `_INDEX_COMMIT`, which certifies its trained artifacts and is never
    * retired). Leftover `.<marker>.tmp` files never match `prefix`. */
  def generations(f: FileSystem, root: Path, prefix: String,
      base: Option[String] = None): Generations = {
    val names =
      if (!f.exists(root)) Seq.empty
      else f.listStatus(root).toSeq.map(_.getPath.getName)
    def gen(id: Long, name: String) =
      Gen(id, keyValues(readLines(f, new Path(root, name))))
    val baseGen = base.filter(names.contains).map(gen(0L, _))
    Generations(f, root, prefix, (baseGen.toSeq ++ names
      .filter(_.startsWith(prefix))
      .map(n => gen(n.stripPrefix(prefix).toLong, n))).sortBy(_.id))
  }
}

package graft

import org.apache.spark.sql.functions._

/** `Par.all`'s failure path: one failing write must not leave its
  * siblings running. A sibling that outlives the call can land files
  * inside a generation a retry has already cleared (a torn
  * generation), so the call cancels the siblings and returns only once
  * none of them can still write. */
class ParSpec extends SparkSpecBase {

  private def files(dir: java.io.File): Seq[String] =
    if (!dir.exists) Seq.empty
    else if (dir.isFile) Seq(dir.getPath)
    else dir.listFiles().toSeq.flatMap(files)

  test("a failed Par.all write cancels its siblings and leaves no file behind") {
    val session = spark // the writes below run on pool threads
    val root = java.nio.file.Files.createTempDirectory("par_orphans").toFile
    // each sibling writes one slow partition (~3 s): still running when
    // the planted failure surfaces ~0.3 s in
    val slow = udf((x: Long) => { Thread.sleep(100); x })
    val boom = udf((x: Long) => {
      Thread.sleep(300)
      if (x >= 0) throw new IllegalStateException("planted write failure")
      x
    })
    val siblings = (1 to 2).map(i => new java.io.File(root, s"sibling$i"))
    val writes: Seq[() => Unit] =
      (() => session.range(0, 1, 1, 1).select(boom(col("id")).as("id"))
        .write.parquet(new java.io.File(root, "failing").getPath)) +:
        siblings.map(d => () => session.range(0, 30, 1, 1)
          .select(slow(col("id")).as("id")).write.parquet(d.getPath))
    val e = intercept[Exception](graft.ops.Par.all(writes: _*))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c => String.valueOf(c.getMessage)
      .contains("planted write failure")), e)
    val atReturn = siblings.flatMap(files).toSet
    // past the point where an uncancelled sibling would have committed
    Thread.sleep(5000)
    val appeared = siblings.flatMap(files).filterNot(atReturn)
    assert(appeared.isEmpty,
      s"sibling writes landed files after Par.all returned: $appeared")
    assert(!siblings.exists(d => new java.io.File(d, "_SUCCESS").exists),
      "a sibling write committed after its peer failed")
  }
}

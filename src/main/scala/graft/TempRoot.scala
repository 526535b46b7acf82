package graft

/** The engine's one temp root: a temp dir per JVM that one shutdown hook
  * deletes recursively. Staged corpora (TextOps' t33–t43 inputs,
  * x32/x34/x35's streams) and the stream harness's sink dirs live under
  * it — ONE root per JVM (ADVICE r4's temp-dir discipline: a bench session
  * runs each query 4×; fresh dirs per call would leak a corpus copy each
  * run).
  */
object TempRoot {
  private lazy val root: java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft-tmp").toFile
    sys.addShutdownHook(rm(d))
    d
  }

  /** Recursive delete: `File.deleteOnExit` only removes empty directories,
    * which would leak every part file. */
  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  /** Per-(corpus dir, tag) staging path under the root: keying by the input
    * dir keeps a still-held lazy reader valid when another scale factor is
    * staged in the same JVM — a shared overwrite-mode dir would silently
    * swap what it reads (ADVICE r12). */
  def stageDir(dir: String, tag: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    new java.io.File(root, s"$tag-$key").getAbsolutePath
  }

  /** The one sink dir of stream `name`, reused across runs; `clear` empties
    * it first. A frame previously read from it is invalidated by the reuse,
    * so callers fully consume each result before re-running the name. */
  def sinkDir(name: String, clear: Boolean): java.io.File = {
    val d = new java.io.File(root, s"stream-sink-$name")
    if (clear) rm(d)
    d.mkdirs()
    d
  }
}

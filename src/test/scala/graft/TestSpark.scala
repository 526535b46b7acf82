package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the engine's
  * own [[GraftSession]] conf (extensions included) on 4 cores, plus a
  * throwaway warehouse dir; and the specs' temp files and job counter. */
object TestSpark {
  /** Every spec's temp files and dirs live under one root per test JVM,
    * which a shutdown hook deletes recursively (symlinks are deleted, not
    * followed). */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-test")
    sys.addShutdownHook(Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    }))
    root
  }

  /** A new empty directory, deleted when the test JVM exits. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  /** A new empty file, deleted when the test JVM exits. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tempRoot, prefix, suffix)

  lazy val spark: SparkSession = GraftSession.start(GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", tempDir("graft-warehouse").toString))

  /** Spark jobs launched by `body`. A listener counts the job starts that
    * carry this call's tag as a thread-local property; a sentinel job
    * after the body, with a second tag, shows the (asynchronous) listener
    * bus has delivered every earlier job start. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == s"$tag-end" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

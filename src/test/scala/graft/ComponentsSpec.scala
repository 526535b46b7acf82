package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

/** Property tests for the distributed connected-components used by d11/s6:
  * random edge sets compared against a driver-side union-find reference.
  * Pinned scalacheck seeds (no scalatestplus bridge offline) so failures
  * are reproducible. Every case runs on both paths: at the default conf
  * (these graphs fit the broadcast threshold, so the driver finishes
  * them) under its plain name, and with the threshold at -1 (distributed
  * rounds only) under the same name plus " (distributed rounds only)". */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](threshold: Option[String])(body: => T): T = {
    val prev = spark.conf.get(Threshold)
    threshold.foreach(spark.conf.set(Threshold, _))
    try body finally spark.conf.set(Threshold, prev)
  }

  private def bothPaths(name: String)(body: => Unit): Unit =
    Seq("" -> None, " (distributed rounds only)" -> Some("-1")).foreach {
      case (suffix, threshold) => test(name + suffix)(withThreshold(threshold)(body))
    }

  /** Spark jobs launched by `body`. A listener counts the job starts that
    * carry this call's tag as a thread-local property; a sentinel job
    * after the body, with a second tag, shows the (asynchronous) listener
    * bus has delivered every earlier job start. */
  private def jobsOf(body: => Unit): Int = {
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

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 29L)
        b <- Gen.chooseNum(0L, 29L)
        if a != b
      } yield (math.min(a, b), math.max(a, b))))

  /** Driver-side union-find: min reachable id per vertex. */
  private def reference(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
  }

  private def run(edges: List[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("d1", "d2")
    Components.minLabel(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  bothPaths("min-label propagation equals union-find on random graphs") {
    Seq(1L, 2L, 3L, 4L, 5L).foreach { seed =>
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(seed))
      assert(run(edges) == reference(edges), s"seed=$seed edges=$edges")
    }
  }

  bothPaths("a long path converges to one component (worst-case diameter)") {
    // path 0-1-2-...-19: diameter 19 stresses the round loop harder than
    // any near-dup quasi-clique will
    val path = (0L until 19L).map(i => (i, i + 1)).toList
    assert(run(path) == (0L to 19L).map(_ -> 0L).toMap)
  }

  bothPaths("a 200-node sequential-id path stays under the round cap") {
    // monotonically ordered chains are min-hooking's worst case (O(1)
    // contraction per round without the id scramble — this graph would
    // need 200 rounds and throw); the scrambled ordering contracts it
    // geometrically. Sequential doc ids with drifting text produce
    // exactly this shape in real corpora.
    val path = (0L until 200L).map(i => (i, i + 1)).toList
    assert(run(path) == (0L to 200L).map(_ -> 0L).toMap)
  }

  bothPaths("empty edge set yields an empty labeling") {
    assert(run(Nil).isEmpty)
  }

  bothPaths("a vertex appearing only in self-loops is labeled with itself") {
    assert(run(List((7L, 7L), (1L, 2L))) == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  bothPaths("the loop frees every superseded round's checkpoint blocks") {
    import spark.implicits._
    val sc = spark.sparkContext
    // quiesce: drop leftovers from earlier tests sharing the session
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = sc.getPersistentRDDs.keySet
    val res = Components.minLabel(
      (0L until 40L).map(i => (i, i + 1)).toList.toDF("d1", "d2"))
    res.collect()
    val leaked = sc.getPersistentRDDs.keySet -- before
    // exactly the RESULT's own checkpoint may remain (it belongs to the
    // caller); every per-round intermediate must already be unpersisted
    assert(leaked.size <= 1,
      s"minLabel leaked ${leaked.size} persistent RDDs: $leaked")
    sc.getPersistentRDDs.collect { case (id, r) if !before.contains(id) => r }
      .foreach(_.unpersist(blocking = true))
  }

  test("reliableCheckpoint: no checkpoint dir fails fast; with one, same rows as local") {
    // both paths inside one case: the checkpoint dir, once set, stays set
    // on the shared test context, so the fail-fast half can run only once
    val edges = List((1L, 2L), (2L, 3L), (5L, 6L))
    val paths = Seq(None, Some("-1"))
    val local = paths.map(t => withThreshold(t)(run(edges)))
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val e = intercept[IllegalArgumentException](run(edges))
      assert(e.getMessage.contains("spark.graft.reliableCheckpoint") &&
        e.getMessage.contains("setCheckpointDir"), e.getMessage)
      // the session keeps this dir; the local (default) path never reads it
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      assert(paths.map(t => withThreshold(t)(run(edges))) == local)
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  bothPaths("a null endpoint is no vertex; its edge joins nothing") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Long]), (2L, Some(3L))).toDF("d1", "d2")
    val got = Components.minLabel(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("a 200-node path starts distributed and finishes on the driver part-way") {
    // 401 start rows and 200 edges do not fit 150 rows' worth of bytes;
    // the first round's contracted edges do. Job counts pin the path:
    // more than the all-driver run, fewer than the all-distributed one.
    val path = (0L until 200L).map(i => (i, i + 1)).toList
    val want = (0L to 200L).map(_ -> 0L).toMap
    def jobsAt(threshold: Option[String]): Int = withThreshold(threshold) {
      jobsOf(assert(run(path) == want))
    }
    val (driver, partWay, distributed) =
      (jobsAt(None), jobsAt(Some((150 * 32).toString)), jobsAt(Some("-1")))
    assert(driver < partWay && partWay < distributed,
      s"jobs: driver $driver, part-way $partWay, distributed $distributed")
  }

  test("a graph that converges in one round launches a bounded number of jobs") {
    // a probe or an extra checkpoint per round would show up here. Seen:
    // 3 jobs with the driver finish (start-state map stage + checkpoint,
    // one collect), 23 distributed; the loop before the tagged state
    // launched 36 and 32.
    val star = List((0L, 1L), (0L, 2L), (0L, 3L), (4L, 5L))
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 4L)
    val driver = jobsOf(assert(run(star) == want))
    val distributed = withThreshold(Some("-1"))(jobsOf(assert(run(star) == want)))
    info(s"jobs: driver finish $driver, distributed rounds $distributed")
    assert(driver <= 8, s"driver finish launched $driver jobs")
    assert(distributed <= 28, s"distributed rounds launched $distributed jobs")
  }
}

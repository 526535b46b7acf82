package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

/** Property tests for the distributed connected-components used by d11/s6:
  * random edge sets compared against a driver-side union-find reference.
  * Pinned scalacheck seeds (no scalatestplus bridge offline) so failures
  * are reproducible. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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

  test("min-label propagation equals union-find on random graphs") {
    Seq(1L, 2L, 3L, 4L, 5L).foreach { seed =>
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(seed))
      assert(run(edges) == reference(edges), s"seed=$seed edges=$edges")
    }
  }

  test("a long path converges to one component (worst-case diameter)") {
    // path 0-1-2-...-19: diameter 19 stresses the round loop harder than
    // any near-dup quasi-clique will
    val path = (0L until 19L).map(i => (i, i + 1)).toList
    assert(run(path) == (0L to 19L).map(_ -> 0L).toMap)
  }

  test("a 200-node sequential-id path stays under the round cap") {
    // monotonically ordered chains are min-hooking's worst case (O(1)
    // contraction per round without the id scramble — this graph would
    // need 200 rounds and throw); the scrambled ordering contracts it
    // geometrically. Sequential doc ids with drifting text produce
    // exactly this shape in real corpora.
    val path = (0L until 200L).map(i => (i, i + 1)).toList
    assert(run(path) == (0L to 200L).map(_ -> 0L).toMap)
  }

  test("empty edge set yields an empty labeling") {
    assert(run(Nil).isEmpty)
  }

  test("a vertex appearing only in self-loops is labeled with itself") {
    assert(run(List((7L, 7L), (1L, 2L))) == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("the loop frees every superseded round's checkpoint blocks") {
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
    val edges = List((1L, 2L), (2L, 3L), (5L, 6L))
    val local = run(edges)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val e = intercept[IllegalArgumentException](run(edges))
      assert(e.getMessage.contains("spark.graft.reliableCheckpoint") &&
        e.getMessage.contains("setCheckpointDir"), e.getMessage)
      // the session keeps this dir; the local (default) path never reads it
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      assert(run(edges) == local)
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }
}

package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** SmokeArtifact.merge is the persistence layer for every measured scale
  * artifact (SCALE_FULL/STREAMSCALE_FULL) — a silent history loss there
  * invalidates cross-round evidence, so its failure modes are pinned
  * (ADVICE r13): accumulate-and-overwrite semantics, abort on a mangled
  * existing file, atomic temp cleanup. */
class SmokeArtifactSpec extends AnyFunSuite {

  private def tmp(): String =
    TestSpark.tempDir("smoke-artifact").resolve("a.json").toString

  test("merge accumulates across invocations; same key overwrites") {
    val p = tmp()
    SmokeArtifact.merge(p, Seq("q1@1x" -> """{"sec":1.5}""", "q2@1x" -> "0.5"))
    SmokeArtifact.merge(p, Seq("q1@10x" -> """{"sec":9.0}""", "q2@1x" -> "0.7"))
    val s = Files.readString(java.nio.file.Paths.get(p)).trim
    assert(s == """{"q1@1x":{"sec":1.5},"q2@1x":0.7,"q1@10x":{"sec":9.0}}""", s)
  }

  test("keys and string values with escaped quotes survive the round trip") {
    val p = tmp()
    SmokeArtifact.merge(p, Seq("k" -> """{"base":"/tmp/x, y","sec":1.0}"""))
    SmokeArtifact.merge(p, Seq("k2" -> "2"))
    val s = Files.readString(java.nio.file.Paths.get(p)).trim
    assert(s == """{"k":{"base":"/tmp/x, y","sec":1.0},"k2":2}""", s)
  }

  test("a truncated existing artifact ABORTS the merge instead of discarding history") {
    val p = tmp()
    SmokeArtifact.merge(p, Seq("q1@1x" -> "1.0"))
    val full = Files.readString(java.nio.file.Paths.get(p)).trim
    Files.writeString(java.nio.file.Paths.get(p), full.dropRight(2)) // torn write
    val e = intercept[IllegalStateException] {
      SmokeArtifact.merge(p, Seq("q2@1x" -> "2.0"))
    }
    assert(e.getMessage.contains("refusing to overwrite"))
    // the mangled file is left for repair, untouched
    assert(Files.readString(java.nio.file.Paths.get(p)).trim == full.dropRight(2))
  }

  test("an empty existing file is a legitimate fresh start; no temp file remains") {
    val p = tmp()
    Files.writeString(java.nio.file.Paths.get(p), "")
    SmokeArtifact.merge(p, Seq("q@1x" -> "3"))
    assert(Files.readString(java.nio.file.Paths.get(p)).trim == """{"q@1x":3}""")
    assert(!Files.exists(java.nio.file.Paths.get(p + ".tmp")),
      "atomic rename must consume the temp file")
  }
}

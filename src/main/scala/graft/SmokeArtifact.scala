package graft

import com.fasterxml.jackson.databind.node.ObjectNode

/** Persist smoke-harness measurements as committed, diffable artifacts
  * (VERDICT r12 item 6): ScaleSmoke / StreamScaleSmoke print one JSON line
  * per invocation, which then survives only as prose quoted into PLANS.md.
  * This merges each invocation's per-query entries into ONE accumulating
  * JSON-object file (SCALE_FULL.json / STREAMSCALE_FULL.json — the
  * BENCH_FULL.json idiom), keyed `query@factorx`, so cross-round scale
  * regressions are a mechanical diff instead of an archaeology pass.
  */
object SmokeArtifact {

  /** Merge (key -> JSON value text) entries into a one-line JSON object
    * file, preserving entries from prior invocations in their order. Read
    * and written through [[Bench.json]], so numbers already in the file
    * are re-written exactly as they were. */
  def merge(path: String, entries: Seq[(String, String)]): Unit = {
    val f = java.nio.file.Paths.get(path)
    val s =
      if (java.nio.file.Files.exists(f))
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim
      else ""
    // ABORT (never silently start fresh) when a non-empty existing file
    // is not a JSON object — a truncated or hand-mangled artifact means
    // accumulated history would be discarded by a blind overwrite
    // (ADVICE r13). An empty file is a legitimate fresh start.
    val existing =
      if (s.isEmpty) Bench.json.createObjectNode()
      else scala.util.Try(Bench.json.readTree(s)).toOption.collect {
        case o: ObjectNode => o
      }.getOrElse(throw new IllegalStateException(
        s"$path exists but is not a JSON object (truncated write or hand " +
          "edit?) — refusing to overwrite accumulated smoke history. " +
          "Repair or delete the file, then re-run."))
    entries.foreach { case (k, v) => existing.replace(k, Bench.json.readTree(v)) }
    val line = Bench.json.writeValueAsString(existing)
    // temp-file + atomic rename: a crash mid-write must never leave a
    // truncated artifact for the next invocation's guard to reject
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp, f,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }
}

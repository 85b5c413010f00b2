package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path,
  StandardOpenOption}

/** Create-if-absent publish of a whole file — the compare-and-swap every
  * versioned metadata file goes through (table manifests and manifest
  * lists, catalog pins, created views). The body is written in full to a
  * uniquely named temp file beside the target, then `link(2)` makes the
  * same inode visible under the target name in one step. The link fails
  * when the name is taken, so exactly one racing writer wins, and a
  * reader sees either no file or the complete body — never the empty or
  * half-written file a `CREATE_NEW` write exposes between its create and
  * its write. The temp file is unlinked afterwards; a crash in between
  * leaves a dot-prefixed `.<target>.<uuid>.tmp` that no versioned-name
  * pattern (`manifest-v*.json`, `catalog-v*.json`, `<view>.json`)
  * matches, so readers and later commits never see it. */
private[graft] object AtomicPublish {

  /** Publish `body` at `target` unless it exists. True on success, false
    * when another writer already holds the name. */
  def create(target: Path, body: Array[Byte]): Boolean = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, body, StandardOpenOption.CREATE_NEW)
    try {
      try { Files.createLink(target, tmp); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // no hard links on this filesystem: fall back to a no-REPLACE
          // move. Weaker atomicity than link(2) — the JDK implements the
          // taken-name refusal as check-then-rename (POSIX rename(2)
          // itself silently replaces), so a create-vs-create race inside
          // that window can let both writers "succeed"; each still
          // publishes a COMPLETE body, so the loss is one missing
          // already-exists refusal, never a torn or empty file. The
          // affected filesystems and the accepted trade are recorded in
          // BASELINE.md (round 17).
          try { Files.move(tmp, target); true }
          catch { case _: FileAlreadyExistsException => false }
      }
    } finally Files.deleteIfExists(tmp)
  }
}

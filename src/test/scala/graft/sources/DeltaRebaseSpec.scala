package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic-concurrency contract of the delta committer: a lost CAS
  * rebases when the winning commits are provably disjoint from the
  * statement's read/written files (the concurrent-UPDATEs-on-different-
  * partitions case), and refuses explicitly when they overlap — driven
  * at the committer level so the race is deterministic, not scheduled. */
class DeltaRebaseSpec extends AnyFunSuite {
  import graft.TestSpark._

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_r12_rb_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  private def deleteAll(file: String, dir: String): Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage] =
    Array(GraftDeltaCommit(Seq.empty,
      Seq((s"$dir/data/$file", None, 0L))))

  test("delta CAS losses rebase when disjoint, refuse when overlapping") {
    val dir = freshDir("cas")
    def slice(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") * 2.0).as("v")).coalesce(1)
    val lines = Seq(slice(0, 100), slice(100, 200), slice(200, 300))
      .flatMap(df => ManifestTable.stageWithStats(spark, dir, df, Seq("k", "v")))
    assert(ManifestTable.commit(dir, lines, -1)) // v0: three one-file slices
    val Seq(p1, p2, p3) = lines.map(ManifestTable.parseEntry(_).name)

    // statement A: deletes exactly file p1 (its pruned read set), commits
    // cleanly against its pinned v0
    GraftDeltaCommitter.commit(dir, 0, deleteAll(p1, dir),
      () => Some(Set(p1)))
    assert(ManifestTable.currentVersion(dir) == 1)

    // statement B raced A: pinned the SAME v0, touches only p2 — the two
    // concurrent row-level writes hit different partitions, so B's lost
    // CAS must REBASE onto A's snapshot and commit, not fail
    GraftDeltaCommitter.commit(dir, 0, deleteAll(p2, dir),
      () => Some(Set(p2)))
    assert(ManifestTable.currentVersion(dir) == 2)
    assert(Snapshot.read(dir, 2).kind == Snapshot.Mutate)
    val remaining = ManifestTable.read(spark, dir).agg(
      count(lit(1)), min(col("k")), max(col("k"))).head()
    assert((remaining.getLong(0), remaining.getLong(1), remaining.getLong(2))
      == ((100L, 200L, 299L)),
      s"after both rebased deletes only the p3 slice survives: $remaining")

    // statement C overlaps A (read/wrote p1, which A removed): refuse
    // EXPLICITLY, never guess
    val e = intercept[IllegalStateException] {
      GraftDeltaCommitter.commit(dir, 0, deleteAll(p1, dir),
        () => Some(Set(p1)))
    }
    assert(e.getMessage.contains("removed file(s)"), e.getMessage)

    // without a recorded read set the rebase falls back to the WHOLE
    // pinned snapshot — any concurrent removal refuses (conservative)
    val e2 = intercept[IllegalStateException] {
      GraftDeltaCommitter.commit(dir, 0, deleteAll(p3, dir), () => None)
    }
    assert(e2.getMessage.contains("removed file(s)"), e2.getMessage)

    // …and the SAME delta with its true pruned read set commits fine —
    // the recorded pruning is exactly what buys concurrency
    GraftDeltaCommitter.commit(dir, 0, deleteAll(p3, dir),
      () => Some(Set(p3)))
    assert(ManifestTable.currentVersion(dir) == 3)
    assert(ManifestTable.read(spark, dir).isEmpty)
    ManifestTable.destroy(dir)
  }
}

package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.scalatest.funsuite.AnyFunSuite

/** Metadata publish under concurrent readers and crashes, without a Spark
  * session: a reader that resolves the head version must always parse a
  * complete snapshot (never the empty or half-written file a create-then-
  * write publish exposes), and a temp file left by a publish interrupted
  * before its link is invisible to readers and to the next commit. */
class PublishRaceSpec extends AnyFunSuite {

  private val Commits = 300
  private val FilesPerCommit = 200
  private val Readers = 4

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_publish_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  private def fileLines(v: Int): Seq[String] = (0 until FilesPerCommit).map(i =>
    f"v$v%04d-part-$i%04d.parquet\tk=L:$i:${i + 99}\t__rows=1000;__bytes=65536")

  /** Run `write(i)` for every commit while `Readers` threads call `read`
    * in a loop; returns (reads, bad reads — a read that throws is bad). */
  private def race(write: Int => Unit)(read: () => Boolean): (Int, Int) = {
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    val bad = new AtomicInteger(0)
    val readers = (1 to Readers).map { _ =>
      val t = new Thread(() => while (!done.get) {
        if (!scala.util.Try(read()).getOrElse(false)) bad.incrementAndGet()
        reads.incrementAndGet()
      })
      t.start(); t
    }
    try (0 until Commits).foreach(write)
    finally { done.set(true); readers.foreach(_.join()) }
    (reads.get, bad.get)
  }

  test("table readers racing commits never observe an empty or torn snapshot") {
    val dir = freshDir("table")
    val (reads, bad) = race(i => assert(ManifestTable.commit(dir, fileLines(i), i - 1))) {
      () =>
        val v = ManifestTable.currentVersion(dir)
        v < 0 || {
          val s = Snapshot.read(dir, v)
          s.files == fileLines(v) && s.ts.isDefined
        }
    }
    assert(reads > Commits, s"too few racing reads to mean anything: $reads")
    assert(bad == 0, s"$bad of $reads racing reads saw an empty or torn manifest")
    ManifestTable.destroy(dir)
  }

  test("catalog readers racing pin commits never observe an empty or torn pin set") {
    val root = freshDir("catalog")
    val dir = s"$root/t"
    val names = (0 until FilesPerCommit).map(i => f"t$i%03d")
    val (reads, bad) = race { i =>
      assert(ManifestTable.commit(dir, fileLines(i), i - 1))
      assert(Catalog.commit(root, names.map(_ -> ((dir, i))).toMap, i - 1))
    } { () =>
      val cv = Catalog.currentVersion(root)
      cv < 0 || {
        val pins = Catalog.snapshot(root, cv)
        pins.keySet == names.toSet && pins.values.forall { case (d, tv) =>
          d == dir && tv == cv } &&
          Snapshot.read(dir, cv).files == fileLines(cv)
      }
    }
    assert(reads > Commits, s"too few racing reads to mean anything: $reads")
    assert(bad == 0, s"$bad of $reads racing reads saw an empty or torn pin set")
    ManifestTable.destroy(root)
  }

  test("a temp file left by an interrupted publish is ignored by reads and the next commit") {
    val root = freshDir("crash")
    val dir = s"$root/t"
    assert(ManifestTable.commit(dir, fileLines(0), -1))
    assert(ManifestTable.commit(dir, fileLines(1), 0))
    assert(Catalog.commit(root, Map("t" -> ((dir, 1))), -1))
    // a publish that crashed after writing its temp file and before the
    // link: an empty and a half-written leftover beside the real files
    val body = fileLines(2).mkString("\n")
    Seq(dir -> "manifest-v00000002.json", root -> "catalog-v00000001.json")
      .foreach { case (d, target) =>
        Files.write(Paths.get(d, s".$target.crashed-empty.tmp"), Array.emptyByteArray)
        Files.write(Paths.get(d, s".$target.crashed-torn.tmp"),
          body.take(body.length / 2).getBytes("UTF-8"))
      }
    assert(ManifestTable.currentVersion(dir) == 1)
    assert(Catalog.currentVersion(root) == 0)
    assert(ManifestTable.listFiles(dir, 1).size == FilesPerCommit)
    assert(Catalog.snapshot(root, 0) == Map("t" -> ((dir, 1))))
    // the next commit builds on v1, not on the leftover
    val v2 = ManifestTable.commit(dir, Snapshot.Append)(base =>
      Some(base.copy(files = base.files ++ fileLines(2))))
    assert(v2 == 2)
    assert(Snapshot.read(dir, 2).files == fileLines(1) ++ fileLines(2))
    assert(Catalog.commit(root, Map("t" -> ((dir, 2))), 0))
    assert(Catalog.snapshot(root, Catalog.currentVersion(root)) ==
      Map("t" -> ((dir, 2))))
    // a successful publish leaves no temp file of its own behind
    val leftovers = ManifestTable.listDir(Paths.get(dir))
      .map(_.getFileName.toString).filter(_.endsWith(".tmp"))
    assert(leftovers.sorted == Seq(".manifest-v00000002.json.crashed-empty.tmp",
      ".manifest-v00000002.json.crashed-torn.tmp"))
    ManifestTable.destroy(root)
  }
}

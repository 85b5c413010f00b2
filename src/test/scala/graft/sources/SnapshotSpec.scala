package graft.sources

import java.nio.file.{Files, Paths}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite
import ManifestTable.DvEntry

/** The manifest codec: every snapshot survives encode → `Snapshot.read`
  * unchanged, and manifests written in the per-kind marker interleavings
  * older commits used decode to the snapshot the canonical order does. */
class SnapshotSpec extends AnyFunSuite {

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_${tag}_" +
      java.util.UUID.randomUUID().toString.take(8)
    ManifestTable.destroy(d)
    Files.createDirectories(Paths.get(d, "meta"))
    d
  }

  private def writeManifest(dir: String, v: Int, body: String): Unit =
    Files.write(ManifestTable.manifestPath(dir, v), body.getBytes("UTF-8"))

  private val ident: Gen[String] =
    Gen.identifier.map(_.take(12))

  private val fileLine: Gen[String] = for {
    name <- ident
    lo <- Gen.chooseNum(-1000L, 1000L)
    rows <- Gen.chooseNum(0L, 10000L)
    stats <- Gen.oneOf(false, true)
  } yield if (stats) s"$name.parquet\tk=L:$lo:${lo + 7}\t__rows=$rows" else s"$name.parquet"

  private val dv: Gen[DvEntry] = for {
    file <- ident
    positional <- Gen.oneOf(false, true)
    col <- if (positional) Gen.const(DvKeyCache.PosCol) else ident
    targets <- Gen.nonEmptyListOf(ident).map(_.toSet)
    counted <- Gen.oneOf(false, true)
    counts <- Gen.listOfN(targets.size, Gen.chooseNum(0L, 500L))
  } yield DvEntry(s"$file.parquet", col, targets,
    if (positional || !counted) Map.empty else targets.toSeq.zip(counts).toMap)

  private val policy: Gen[Seq[String]] = for {
    c <- ident
    n <- Gen.chooseNum(0, 99)
    mask <- Gen.oneOf(false, true)
  } yield if (mask) Seq("mask", c, s"substr($c, 1, $n)") else Seq("filter", s"$c > $n")

  private val snapshot: Gen[Snapshot] = for {
    v <- Gen.chooseNum(0, 40)
    kind <- Gen.oneOf(Snapshot.Append, Snapshot.Rewrite, Snapshot.Mutate)
    files <- Gen.listOf(fileLine)
    dvs <- Gen.listOf(dv)
    renames <- Gen.listOf(Gen.zip(ident, ident))
    policies <- Gen.listOf(policy)
    props <- Gen.listOf(Gen.zip(ident.map("graft." + _), Gen.alphaNumStr))
    schema <- Gen.option(ident.map(c =>
      s"""{"type":"struct","fields":[{"name":"$c","type":"long","nullable":true,"metadata":{}}]}"""))
    epochs <- Gen.listOf(Gen.zip(ident, Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    ts <- Gen.option(Gen.chooseNum(0L, Long.MaxValue))
  } yield Snapshot(v, kind, files, dvs, renames, policies, props, schema,
    epochs, ts)

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("Snapshot.read(encode(s)) == s for every kind and every marker kind") {
    val dir = freshDir("codec")
    check(forAll(snapshot) { s =>
      writeManifest(dir, s.version, s.encode)
      Snapshot.read(dir, s.version) == s
    })
    ManifestTable.destroy(dir)
  }

  test("a segmented manifest list round-trips and resolves its file lines") {
    val dir = freshDir("codecseg")
    check(forAll(snapshot, Gen.chooseNum(1, 4)) { (s0, segSize) =>
      val summaries = s0.files.grouped(segSize).map { seg =>
        val name = s"seg-${java.util.UUID.randomUUID().toString.take(12)}.txt"
        Files.write(Paths.get(dir, "meta", name),
          seg.mkString("\n").getBytes("UTF-8"))
        s"$name\t__files=${seg.size}"
      }.toSeq
      val s = s0.copy(segments = summaries)
      writeManifest(dir, s.version, s.encode)
      val back = Snapshot.read(dir, s.version)
      back == s && back.files == s0.files
    })
    ManifestTable.destroy(dir)
  }

  test("manifests in the per-kind interleavings older commits wrote decode unchanged") {
    val dir = freshDir("legacy")
    val files = Seq("a.parquet\tk=L:1:9\t__rows=3", "b.parquet")
    val added = Seq("c.parquet\t__rows=1")
    val dvs = Seq("#dv\tdk.parquet\tk\ta.parquet\ta.parquet=2",
      "#dv\tdp.parquet\t_pos\tb.parquet")
    val newDv = Seq("#dv\tdu.parquet\tk\ta.parquet")
    val renames = Seq("#rename\tx\ty")
    val policies = Seq("#policy\tmask\ty\tsubstr(y, 1, 2)",
      "#policy\tfilter\tk > 3")
    val props = Seq("#prop\tdelete.mode\tmor", "#prop\tgraft.tag.t1\t0")
    val schema = Seq("#schema\t{\"type\":\"struct\",\"fields\":[]}")
    val epochs = Seq("#epoch\tq1\t4", "#epoch\tq2\t7")
    val ts = Seq("#ts\t1700000000000")
    // the canonical order: files, #dv, #rename, #policy, #prop, #schema,
    // #epoch, #ts — and each old commit kind's own interleaving
    val layouts: Seq[(String, Seq[String], Seq[String])] = Seq(
      ("setPolicy", Seq("#mutate") ++ files ++ dvs ++ renames ++ props ++
        schema ++ epochs ++ policies ++ ts,
        Seq("#mutate") ++ files ++ dvs ++ renames ++ policies ++ props ++
          schema ++ epochs ++ ts),
      ("setTableProperty", files ++ dvs ++ renames ++ policies ++ schema ++
        epochs ++ props ++ ts,
        files ++ dvs ++ renames ++ policies ++ props ++ schema ++ epochs ++ ts),
      ("removeTableProperty", files ++ dvs ++ renames ++ policies ++ props ++
        schema ++ epochs ++ ts,
        files ++ dvs ++ renames ++ policies ++ props ++ schema ++ epochs ++ ts),
      ("restore", Seq("#mutate") ++ files ++ dvs ++ renames ++ policies ++
        props ++ schema ++ epochs ++ ts,
        Seq("#mutate") ++ files ++ dvs ++ renames ++ policies ++ props ++
          schema ++ epochs ++ ts),
      ("streaming epoch", files ++ added ++ dvs ++ renames ++ policies ++
        props ++ schema ++ epochs ++ ts,
        files ++ added ++ dvs ++ renames ++ policies ++ props ++ schema ++
          epochs ++ ts),
      ("upsertMOR", Seq("#mutate") ++ files ++ dvs ++ renames ++ policies ++
        props ++ schema ++ epochs ++ added ++ newDv ++ ts,
        Seq("#mutate") ++ files ++ added ++ dvs ++ newDv ++ renames ++
          policies ++ props ++ schema ++ epochs ++ ts),
      ("renameColumn", Seq("#mutate") ++ files ++ dvs ++ Seq("#rename\ta\tb") ++
        policies ++ props ++ schema ++ epochs ++ renames ++ ts,
        Seq("#mutate") ++ files ++ dvs ++ Seq("#rename\ta\tb") ++ renames ++
          policies ++ props ++ schema ++ epochs ++ ts))
    layouts.zipWithIndex.foreach { case ((what, legacy, canonical), i) =>
      writeManifest(dir, 2 * i, legacy.mkString("\n"))
      writeManifest(dir, 2 * i + 1, canonical.mkString("\n"))
      val old = Snapshot.read(dir, 2 * i)
      assert(old.copy(version = 2 * i + 1) == Snapshot.read(dir, 2 * i + 1),
        s"$what: the legacy interleaving decodes differently")
      assert(old.encode == canonical.mkString("\n"),
        s"$what: re-encoding must produce the canonical order")
    }
    ManifestTable.destroy(dir)
  }
}

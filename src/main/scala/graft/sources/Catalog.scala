package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table ATOMIC transactions over manifest tables — the catalog tier
  * (what Iceberg's REST-catalog transactions and a warehouse's metastore
  * commit provide): a catalog version pins EVERY table to one specific
  * snapshot version, and publishing a new catalog version is a single
  * compare-and-swap ([[AtomicPublish]]: written in full to a temp file,
  * then hard-linked into place, failing if the version exists). Readers
  * resolve the catalog ONCE and then read each table AS OF its pinned
  * version — so a transaction spanning tables (an order-header table and
  * its line-items, a fact and its dimension) is visible either completely
  * or not at all, and a cross-table join can never observe a torn state
  * where one table moved and the other did not.
  *
  * The mechanics reuse the manifest table's own guarantees: each table's
  * new snapshot is committed FIRST (table versions are cheap, immutable,
  * and invisible to catalog readers until pinned — exactly like staged
  * data files before a manifest commit), then ONE catalog CAS flips all
  * pins together. A crash between table commits and the catalog commit
  * leaves unpinned table versions behind — harmless, time-travelable,
  * eventually vacuumable — and the catalog still serves the previous
  * consistent view. At 100 TB nothing here scales with data: a catalog
  * version is |tables| lines of metadata. */
object Catalog {

  private def catalogPath(root: String, v: Int): Path =
    Paths.get(root, f"catalog-v$v%08d.json")

  /** Highest committed catalog version, or -1. */
  def currentVersion(root: String): Int = {
    val d = Paths.get(root)
    if (!Files.isDirectory(d)) return -1
    val vs = ManifestTable.listDir(d)
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("catalog-v") && n.endsWith(".json") =>
        n.stripPrefix("catalog-v").stripSuffix(".json").toInt }
    if (vs.isEmpty) -1 else vs.max
  }

  /** The pinned (tableName → (tableDir, tableVersion)) map of catalog
    * version `v`. */
  def snapshot(root: String, v: Int): Map[String, (String, Int)] = {
    require(v >= 0 && Files.exists(catalogPath(root, v)),
      s"no catalog version v$v in $root")
    new String(Files.readAllBytes(catalogPath(root, v)), "UTF-8")
      .split('\n').map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(name, rest) = line.split("=", 2)
        val i = rest.lastIndexOf(':')
        name -> (rest.substring(0, i), rest.substring(i + 1).toInt)
      }.toMap
  }

  /** Atomically publish catalog version `expected + 1` pinning `tables`.
    * True on success; false if another transaction won (caller re-reads,
    * re-reconciles its table commits against the new pins, retries). */
  def commit(root: String, tables: Map[String, (String, Int)],
      expected: Int): Boolean = {
    Files.createDirectories(Paths.get(root))
    // the pin line is `name=dir:version`, parsed with split("=",2) — a '='
    // in the NAME would shift the boundary, so reject it at write time
    tables.keys.foreach(n => require(!n.contains('='),
      s"catalog table name may not contain '=': $n"))
    val body = tables.toSeq.sortBy(_._1)
      .map { case (n, (d, v)) => s"$n=$d:$v" }.mkString("\n")
    AtomicPublish.create(catalogPath(root, expected + 1), body.getBytes("UTF-8"))
  }

  /** Read table `name` AS OF the CURRENT catalog snapshot — the one
    * resolution that makes a multi-table read consistent. Resolve the
    * version yourself via [[snapshot]] when several tables must come from
    * the SAME catalog version (pass the same `v` to [[readTableAt]]). */
  def readTableAt(s: SparkSession, root: String, v: Int,
      name: String): DataFrame = {
    val (dir, tv) = snapshot(root, v).getOrElse(name,
      throw new IllegalArgumentException(s"table '$name' not in catalog v$v"))
    ManifestTable.readVersion(s, dir, tv)
  }
}

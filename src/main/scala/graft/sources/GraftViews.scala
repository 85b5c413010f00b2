package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths,
  StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.connector.catalog.{Identifier, View}
import org.apache.spark.sql.types.{DataType, StructType}

/** PERSISTENT SQL VIEWS (round 15): file-backed storage for the catalog's
  * `ViewCatalog` surface. A view is one JSON document under the
  * namespace's `.views/` directory — `{sql, schema, currentCatalog,
  * currentNamespace, queryColumnNames, properties}` — written atomically
  * (create through [[AtomicPublish]]'s temp file + hard link, replace
  * through temp file + ATOMIC_MOVE), so creation races resolve to exactly
  * one winner and readers never observe a torn document. The `.views`
  * directory name cannot collide with a table: table identifiers refuse
  * '.'-free reserved names via the catalog's name validation, and `listTables` only surfaces directories holding a
  * committed manifest.
  *
  * The reference keeps its analyst verification queries as readme text
  * (`/root/reference/readme.md:149-187`) — exactly the saved-query shape
  * a warehouse stores as `CREATE VIEW`; this tier makes them first-class
  * named objects that survive the session. */
private[graft] object GraftViews {
  /** One stored view: the defining SQL, the analysis-time schema (the
    * view's pinned output — `SELECT *` views do NOT grow with their base
    * table), and the creation context. */
  case class StoredView(sql: String, schema: StructType,
      currentCatalog: String, currentNamespace: Seq[String],
      properties: Map[String, String])

  private val mapper = new ObjectMapper()

  private def nsDir(root: String, namespace: Seq[String]): Path =
    Paths.get((root +: namespace.filterNot(_ == "default")).mkString("/"))

  private[sources] def viewsDir(root: String, namespace: Seq[String]): Path =
    nsDir(root, namespace).resolve(".views")

  private[sources] def pathOf(root: String, namespace: Seq[String],
      name: String): Path = viewsDir(root, namespace).resolve(s"$name.json")

  private def render(v: StoredView): Array[Byte] = {
    val n: ObjectNode = mapper.createObjectNode()
    n.put("sql", v.sql)
    n.put("schema", v.schema.json)
    n.put("currentCatalog", v.currentCatalog)
    val ns = n.putArray("currentNamespace")
    v.currentNamespace.foreach(ns.add)
    val props = n.putObject("properties")
    v.properties.toSeq.sortBy(_._1).foreach { case (k, x) => props.put(k, x) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(n)
  }

  def load(root: String, namespace: Seq[String],
      name: String): Option[StoredView] = {
    val p = pathOf(root, namespace, name)
    if (!Files.isRegularFile(p)) return None
    val n = mapper.readTree(Files.readAllBytes(p))
    Some(StoredView(
      n.get("sql").asText(),
      DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      n.get("currentCatalog").asText(),
      n.get("currentNamespace").elements().asScala.map(_.asText()).toSeq,
      Option(n.get("properties")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty)))
  }

  /** Create or replace — the document always materializes fully in a
    * temp file first, so a crash mid-write can never leave a torn
    * document under the name. Replace publishes with an atomic rename;
    * create publishes through [[AtomicPublish]] (a HARD LINK: link(2)
    * fails atomically on an existing target — a POSIX rename would
    * silently replace, losing a create-vs-create race without an error)
    * and throws `FileAlreadyExistsException` when the name is taken. */
  def write(root: String, namespace: Seq[String], name: String,
      v: StoredView, replace: Boolean): Unit = {
    val dir = viewsDir(root, namespace)
    Files.createDirectories(dir)
    val target = pathOf(root, namespace, name)
    if (!replace) {
      if (!AtomicPublish.create(target, render(v)))
        throw new FileAlreadyExistsException(target.toString)
    } else {
      val tmp = Files.createTempFile(dir, s".$name", ".tmp")
      try {
        Files.write(tmp, render(v))
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable =>
        Files.deleteIfExists(tmp)
        throw e
      }
    }
  }

  def drop(root: String, namespace: Seq[String], name: String): Boolean =
    Files.deleteIfExists(pathOf(root, namespace, name))

  /** Delete leftover validation probes for `name` (crash residue —
    * dot-prefixed, so never listed, but no reason to keep the bytes).
    * Only probes older than `staleMs` are swept: a CONCURRENT session's
    * in-flight probe for the same view name is seconds old and must
    * survive, or its CREATE OR REPLACE fails spuriously with a
    * missing-probe resolution error — crash residue, the actual target,
    * is arbitrarily old. */
  def sweepProbes(root: String, namespace: Seq[String], name: String,
      staleMs: Long = 10 * 60 * 1000L): Unit = {
    val dir = viewsDir(root, namespace)
    if (!Files.isDirectory(dir)) return
    val cutoff = System.currentTimeMillis() - staleMs
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s".vchk-$name-"))
      .filter { p =>
        try Files.getLastModifiedTime(p).toMillis < cutoff
        catch { case _: java.io.IOException => false } // already gone
      }
      .foreach(p => Files.deleteIfExists(p))
    finally s.close()
  }

  /** Hard-link an existing view document under a new name — atomic, and
    * refuses (FileAlreadyExistsException) when the target exists. The
    * rename primitive: link then unlink the old name. On filesystems
    * without hard-link support, falls back to publishing a COPY through
    * [[AtomicPublish]] (still refuses a taken name, never exposes a torn
    * document; weaker atomicity: a concurrent create can race the check). */
  def link(root: String, fromNs: Seq[String], fromName: String,
      toNs: Seq[String], toName: String): Unit = {
    Files.createDirectories(viewsDir(root, toNs))
    val target = pathOf(root, toNs, toName)
    try Files.createLink(target, pathOf(root, fromNs, fromName))
    catch { case _: UnsupportedOperationException =>
      if (!AtomicPublish.create(target,
          Files.readAllBytes(pathOf(root, fromNs, fromName))))
        throw new FileAlreadyExistsException(target.toString)
    }
  }

  def list(root: String, namespace: Seq[String]): Seq[String] = {
    val dir = viewsDir(root, namespace)
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      // dot-prefixed documents are internal (creation-time validation
      // probes) — never listed, even if a crash leaks one
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json"))
      .toSeq.sorted
    finally s.close()
  }

  /** The storage root of `catalog` iff the session configures it as a
    * GraftCatalog — THE definition of "is this name a graft catalog",
    * shared by the view-resolution rule and the SQL DDL router so the
    * two surfaces can never disagree. Conf lookup only; no catalog
    * instantiation. */
  def rootOf(session: org.apache.spark.sql.SparkSession,
      catalog: String): Option[String] =
    session.conf.getOption(s"spark.sql.catalog.$catalog")
      .filter(_ == classOf[GraftCatalog].getName)
      .flatMap(_ =>
        session.conf.getOption(s"spark.sql.catalog.$catalog.root"))

  /** Throw NoSuchNamespaceException unless `ns` exists in the named
    * catalog — resolved through the live catalog instance's own
    * `namespaceExists` (marker-aware; a table directory is not a
    * namespace). Shared by the view DDL surfaces so none can silently
    * mint a namespace the SPI would refuse. */
  def namespaceCheck(s: org.apache.spark.sql.SparkSession,
      catalogName: String, ns: Seq[String]): Unit =
    s.sessionState.catalogManager.catalog(catalogName) match {
      case sn: org.apache.spark.sql.connector.catalog.SupportsNamespaces
          if !sn.namespaceExists(ns.toArray) =>
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchNamespaceException(ns.toArray)
      case _ => ()
    }

  /** Property key recording which 2-part relation heads in the body
    * resolved as CATALOGS under the creating session's conf. Resolution
    * replays these stored decisions verbatim instead of re-probing the
    * READER's conf — under a reader that lacks the creator's catalog
    * config, re-probing would silently rewrite a cross-catalog reference
    * `other_cat.t` into `<cat>.other_cat.t` and, if such a table exists,
    * serve wrong data instead of a catalog-not-found error. Key presence
    * (even with an empty value) marks the decision set authoritative;
    * only hand-written documents lack it and fall back to the reader
    * conf. */
  val CrossCatalogHeadsProp = "graft.cross.catalog.heads"

  /** The distinct 2-part relation heads (post-CTE-substitution, so CTE
    * names never shadow) that `isCatalog` accepts — the creation-time
    * qualification decisions [[CrossCatalogHeadsProp]] persists. */
  def crossCatalogHeads(parsed: org.apache.spark.sql.catalyst.plans
        .logical.LogicalPlan,
      isCatalog: String => Boolean): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val substituted =
      org.apache.spark.sql.catalyst.analysis.CTESubstitution.apply(parsed)
    substituted.collectWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 2 &&
          isCatalog(r.multipartIdentifier.head) =>
        r.multipartIdentifier.head
    }.distinct.sorted
  }

  /** The `isCatalog` predicate a stored view resolves under: the
    * CREATION-time decisions when the document carries them, else the
    * reader-conf probe (legacy/hand-written documents only). */
  def isCatalogFor(props: Map[String, String],
      readerConf: String => Boolean): String => Boolean =
    props.get(CrossCatalogHeadsProp) match {
      case Some(hs) =>
        val set = hs.split(",").filter(_.nonEmpty).toSet
        n => set.contains(n)
      case None => readerConf
    }

  /** Qualify a parsed view body into its CREATION context. CTE
    * references substitute away FIRST (so any remaining 1-part relation
    * is a real table — a nested CTE sharing a table's name can never
    * shield it from qualification), then 1-part names gain
    * (catalog, namespace) and 2-part names gain the catalog UNLESS
    * their head is itself a catalog — Spark resolves 2-part names
    * catalog-first, so a cross-catalog reference stays verbatim. */
  def qualify(parsed: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan,
      catalog: String, namespace: Seq[String],
      isCatalog: String => Boolean)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val substituted =
      org.apache.spark.sql.catalyst.analysis.CTESubstitution.apply(parsed)
    substituted.transformUpWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 =>
        r.copy(multipartIdentifier =
          (catalog +: namespace) ++ r.multipartIdentifier)
      case r: UnresolvedRelation if r.multipartIdentifier.length == 2 &&
          !isCatalog(r.multipartIdentifier.head) =>
        r.copy(multipartIdentifier = catalog +: r.multipartIdentifier)
    }
  }

  /** Whether the qualified body references `catalog.ns.name` itself —
    * checked at CREATE (a self-referential REPLACE must refuse there,
    * not brick every later read) and again at resolution (defense for
    * hand-written documents). */
  def referencesSelf(qualified: org.apache.spark.sql.catalyst.plans
        .logical.LogicalPlan,
      catalog: String, namespace: Seq[String], name: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val selfId = (catalog +: namespace :+ name).map(_.toLowerCase)
    qualified.collectFirst {
      case r: UnresolvedRelation
          if r.multipartIdentifier.map(_.toLowerCase) == selfId => r
    }.isDefined
  }

  /** The connector-API View served by `loadView`. */
  class GraftView(ident: Identifier, v: StoredView) extends View {
    override def name(): String = ident.toString
    override def query(): String = v.sql
    override def currentCatalog(): String = v.currentCatalog
    override def currentNamespace(): Array[String] =
      v.currentNamespace.toArray
    override def schema(): StructType = v.schema
    override def queryColumnNames(): Array[String] =
      v.schema.fieldNames
    override def columnAliases(): Array[String] = Array.empty
    override def columnComments(): Array[String] = Array.empty
    override def properties(): java.util.Map[String, String] =
      v.properties.asJava
  }
}

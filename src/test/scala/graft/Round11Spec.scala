package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 regressions — the round-9/10 judge findings, each pinned:
  * streamTableSink re-run in one JVM, NaN/Infinity pushdown, the governed
  * SQL-DML contract, atomic multi-change ALTER TABLE, and `#ts`
  * commit-instant time travel. */
class Round11Spec extends AnyFunSuite {
  import TestSpark._
  import sources.{ManifestTable, Snapshot}

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_r11_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  test("streamTableSink runs twice in one session — the cached-catalog-root bug") {
    // pre-fix: a fresh UUID root per invocation under the FIXED catalog
    // name graft_st meant the second run streamed into the first run's
    // root (Spark caches catalog instances per name, root captured at
    // initialize) while ManifestTable.read targeted the new, empty root
    val first = streaming.StreamingOps.streamTableSink(spark, sf)
      .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
    val second = streaming.StreamingOps.streamTableSink(spark, sf)
      .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
    val oracle = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
    assert(first == oracle, "first invocation must match the batch answer")
    assert(second == oracle, "second invocation must match too — not fail " +
      "or double-append into the first run's root")
  }

  test("non-finite predicate bounds decline the prune instead of crashing pushdown") {
    val root = freshDir("nan")
    val dir = s"$root/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("value").cast("double").as("value"))
    val staged = ManifestTable.stageWithStats(spark, dir, ev, Seq("value"))
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g11nan",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11nan.root", root)
    val total = ev.count()
    // pre-fix: BigDecimal(Double.NaN) threw NumberFormatException inside
    // prunable() and killed the query before any scan ran
    assert(spark.sql(
      "SELECT count(*) AS n FROM g11nan.default.t WHERE value > double('NaN')")
      .head().getLong(0) == 0L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM g11nan.default.t WHERE value < double('Infinity')")
      .head().getLong(0) == total)
    assert(spark.sql(
      "SELECT count(*) AS n FROM g11nan.default.t WHERE value >= double('-Infinity')")
      .head().getLong(0) == total)
    ManifestTable.destroy(root)
  }

  test("governed tables refuse SQL DML on BOTH paths (key-membership and row-level)") {
    val root = freshDir("govdml")
    val dir = s"$root/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
    ManifestTable.merge(spark, dir, ev, Seq("event_id"))
    ManifestTable.setPolicy(dir, masks = Map.empty,
      rowFilter = Some("event_type <> 'error'"))
    spark.conf.set("spark.sql.catalog.g11gov",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11gov.root", root)
    val before = ManifestTable.read(spark, dir).count()
    // pre-fix: canDeleteWhere accepted the key-membership shape on a
    // governed table, so DELETE removed rows the row filter HID from the
    // statement's author — while UPDATE (row-level path) was refused
    intercept[Exception] {
      spark.sql("DELETE FROM g11gov.default.t WHERE event_id IN (1, 2, 3)")
    }
    intercept[Exception] {
      spark.sql("UPDATE g11gov.default.t SET user_id = 0 WHERE event_id = 1")
    }
    assert(ManifestTable.read(spark, dir).count() == before,
      "refused statements must leave the table untouched")
    ManifestTable.destroy(root)
  }

  test("multi-change ALTER TABLE is atomic: a refused change leaves nothing durable") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = freshDir("altatom")
    val dir = s"$root/t"
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"))
    ManifestTable.merge(spark, dir, ev, Seq("event_id"))
    // a deletion vector makes DROP COLUMN of its key refuse (renames now
    // compose with DVs — round 14 — so the atomicity probe uses the drop)
    ManifestTable.deleteKeysMOR(spark, dir, "event_id", Seq(1L))
    val cat = new graft.sources.GraftCatalog
    cat.initialize("g11alt",
      new CaseInsensitiveStringMap(Map("root" -> root).asJava))
    val ident = Identifier.of(Array("default"), "t")
    val vBefore = ManifestTable.currentVersion(dir)
    intercept[Exception] {
      cat.alterTable(ident,
        TableChange.setProperty("a", "1"),
        TableChange.deleteColumn(Array("event_id"), false)) // refused: DV key
    }
    assert(ManifestTable.currentVersion(dir) == vBefore,
      "a refused change must not leave an earlier change committed")
    assert(!ManifestTable.tableProperties(dir, vBefore).contains("a"),
      "property 'a' from the same refused statement must not be durable")
    // the happy path lands as ONE commit, changes applied in order
    cat.alterTable(ident,
      TableChange.setProperty("a", "1"),
      TableChange.setProperty("b", "2"),
      TableChange.setProperty("a", "3"))
    assert(ManifestTable.currentVersion(dir) == vBefore + 1,
      "a multi-change statement publishes exactly one version")
    val props = ManifestTable.tableProperties(dir, vBefore + 1)
    assert(props.get("a").contains("3") && props.get("b").contains("2"))
    ManifestTable.destroy(root)
  }

  test("TIMESTAMP AS OF resolves from #ts commit markers and survives mtime perturbation") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = freshDir("tsmark")
    val dir = s"$root/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type")).limit(100)
    val s0 = ManifestTable.stage(spark, dir, ev.filter(col("event_id") % 2 === 0))
    assert(ManifestTable.commit(dir, s0, -1))
    Thread.sleep(1100) // distinct commit instants at millis granularity
    val s1 = ManifestTable.stage(spark, dir, ev.filter(col("event_id") % 2 =!= 0))
    assert(ManifestTable.commit(dir, ManifestTable.listLines(dir, 0) ++ s1, 0))
    val t0 = Snapshot.read(dir, 0).ts
      .getOrElse(fail("v0 must carry a #ts marker"))
    val t1 = Snapshot.read(dir, 1).ts
      .getOrElse(fail("v1 must carry a #ts marker"))
    assert(t0 < t1)
    // a directory copy / backup-restore rewrites mtimes; simulate the
    // worst case by pushing every manifest mtime far into the future —
    // mtime-based resolution would now find NO version at-or-before
    (0 to 1).foreach { v =>
      Files.setLastModifiedTime(
        Paths.get(dir, f"manifest-v$v%08d.json"),
        FileTime.fromMillis(t1 + 365L * 24 * 3600 * 1000))
    }
    spark.conf.set("spark.sql.catalog.g11ts",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ts.root", root)
    val mid = java.time.Instant.ofEpochMilli(t0 + (t1 - t0) / 2)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val atMid = spark.sql(
      s"SELECT count(*) AS n FROM g11ts.default.t TIMESTAMP AS OF '$mid'")
      .head().getLong(0)
    assert(atMid == ev.filter(col("event_id") % 2 === 0).count(),
      "an instant between the commits must resolve to v0 — by marker, " +
        "not by the (perturbed) file mtimes")
    ManifestTable.destroy(root)
  }

  test("DECIMAL and ARRAY columns round-trip the V2 write path and the catalog reader") {
    val root = freshDir("decarr")
    val dir = s"$root/t"
    val df = spark.sql("""SELECT
      CAST(id AS BIGINT) AS k,
      CASE WHEN id = 6 THEN NULL
           ELSE CAST(id * 1.25 AS DECIMAL(18,2)) END AS c_dec18,
      CAST((id - 5) * 123456789012345678.123456 AS DECIMAL(38,6)) AS c_dec38,
      CASE WHEN id = 3 THEN CAST(array() AS ARRAY<FLOAT>)
           WHEN id = 4 THEN NULL
           WHEN id = 5 THEN array(CAST(1.5 AS FLOAT), NULL, CAST(-2.5 AS FLOAT))
           ELSE array(CAST(id AS FLOAT), CAST(id * 0.5 AS FLOAT)) END AS c_af,
      array(id, id * 2) AS c_al,
      array(concat('x', id), NULL) AS c_as
      FROM range(10)""")
    val staged = ManifestTable.stage(spark, dir, df)
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g11da",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11da.root", root)
    // the identity-ish UPDATE forces a full rewrite through
    // GraftParquetDataWriter: decimals re-encode (INT64 for p<=18, FLBA
    // with sign extension above), arrays re-encode as 3-level LISTs
    spark.sql("UPDATE g11da.default.t SET k = k WHERE k >= 0")
    assert(ManifestTable.currentVersion(dir) == 1, "the rewrite must commit")
    val viaCatalog = spark.sql("SELECT * FROM g11da.default.t")
    assert(viaCatalog.exceptAll(df).isEmpty && df.exceptAll(viaCatalog).isEmpty,
      "decimal + array values (nulls, empties, negatives included) must " +
        "round-trip the write+read paths bit-exactly")
    assert(viaCatalog.filter(col("c_dec18").isNull).count() == 1)
    assert(viaCatalog.filter(col("c_af").isNull).count() == 1)
    assert(viaCatalog.filter(size(col("c_af")) === 0).count() == 1)
    ManifestTable.destroy(root)
  }

  test("string footer stats prune catalog scans under a clustered layout, answer invariant") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = freshDir("strstats")
    val dir = s"$root/li"
    // clustered by the string key: each returnflag lands in its own files
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .repartitionByRange(6, col("l_returnflag"), col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li,
      Seq("l_returnflag", "l_orderkey"))
    assert(staged.forall(_.contains("l_returnflag=S:")),
      "every staged file must carry a string envelope for the flag column")
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g11ss",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ss.root", root)
    def scansOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case b: BatchScanExec => b.scan }
        .collect { case m: sources.ManifestFilesScan => m }
    }
    val sel = spark.sql(
      "SELECT * FROM g11ss.default.li WHERE l_returnflag = 'R'")
    val s1 = scansOf(sel)
    assert(s1.nonEmpty && s1.head.keptFiles < s1.head.totalFiles,
      s"a clustered string equality must prune files " +
        s"(${s1.map(s => s"${s.keptFiles}/${s.totalFiles}").mkString(",")})")
    assert(sel.count() ==
      ManifestTable.read(spark, dir).filter(col("l_returnflag") === "R").count(),
      "string pruning must never change the answer")
    // range shape too: < 'B' keeps only the A-flag files
    val lt = spark.sql(
      "SELECT * FROM g11ss.default.li WHERE l_returnflag < 'B'")
    val s2 = scansOf(lt)
    assert(s2.nonEmpty && s2.head.keptFiles < s2.head.totalFiles)
    assert(lt.count() ==
      ManifestTable.read(spark, dir).filter(col("l_returnflag") < "B").count())
    // LIKE 'R%' prunes as a prefix range: [p, bump(p))
    val like = spark.sql(
      "SELECT * FROM g11ss.default.li WHERE l_returnflag LIKE 'R%'")
    val s3 = scansOf(like)
    assert(s3.nonEmpty && s3.head.keptFiles < s3.head.totalFiles,
      "a LIKE-prefix predicate must prune the clustered layout")
    assert(like.count() ==
      ManifestTable.read(spark, dir)
        .filter(col("l_returnflag").startsWith("R")).count())
    // the API leg agrees with the catalog leg
    val (kept, total) = ManifestTable.pruneFilesStr(dir, 0, "l_returnflag", "R")
    assert(kept.nonEmpty && kept.size < total)
    // truncation safety: a >32-byte value keeps a sound (bumped) envelope
    val longStr = "z" * 40
    val dir2 = s"$root/long"
    import spark.implicits._
    val staged2 = ManifestTable.stageWithStats(spark, dir2,
      Seq(("a" * 40, 1L), (longStr, 2L)).toDF("s", "k").coalesce(1), Seq("s"))
    assert(ManifestTable.commit(dir2, staged2, -1))
    val e = ManifestTable.listLines(dir2, 0).map(ManifestTable.parseEntry).head
    val (lo, hi) = e.strRanges("s")
    assert(lo.length <= 32 && hi.length <= 32)
    assert(java.util.Arrays.compareUnsigned(lo, ("a" * 40).getBytes("UTF-8")) <= 0,
      "the truncated min must stay a lower bound on the true min")
    assert(java.util.Arrays.compareUnsigned(hi, longStr.getBytes("UTF-8")) > 0,
      "the truncated max must stay a strict upper bound")
    ManifestTable.destroy(root)
  }

  test("delta row-level DML touches only stats-admitted files; untouched manifest lines verbatim") {
    val root = freshDir("delta")
    val dir = s"$root/li"
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      .repartitionByRange(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g11dl",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11dl.root", root)
    val v0Lines = ManifestTable.listLines(dir, 0)
    // a selective UPDATE: the hit keys live in ONE range-clustered file
    spark.sql("""UPDATE g11dl.default.li SET l_quantity = l_quantity + 100.0
      WHERE l_orderkey IN (101, 102)""")
    assert(ManifestTable.currentVersion(dir) == 1)
    val v1Lines = ManifestTable.listLines(dir, 1)
    val v0Admitted = v0Lines.map(ManifestTable.parseEntry).filter { e =>
      e.ranges.get("l_orderkey").forall(r =>
        r.min <= BigDecimal(102) && r.max >= BigDecimal(101))
    }.map(_.name).toSet
    val untouched = v0Lines.filterNot(l =>
      v0Admitted.contains(l.split('\t').head))
    assert(untouched.nonEmpty, "the clustered layout must leave bystanders")
    untouched.foreach { l =>
      assert(v1Lines.contains(l),
        s"untouched file's manifest line must carry VERBATIM: $l")
    }
    // exactly the admitted files disappeared (replaced or rewritten)
    val v1Names = v1Lines.map(_.split('\t').head).toSet
    assert(v0Admitted.forall(n => !v1Names.contains(n)),
      "every admitted file must have been replaced by the delta")
    // the answer is the UPDATE's answer
    val got = spark.sql("""SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
      AS DOUBLE) AS s FROM g11dl.default.li""").head().getDouble(0)
    val want = li.withColumn("l_quantity",
        when(col("l_orderkey").isin(101L, 102L), col("l_quantity") + 100.0)
          .otherwise(col("l_quantity")))
      .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double")).head().getDouble(0)
    assert(math.abs(got - want) < 1e-6)

    // arbitrary-predicate DELETE rides the same delta path (not the
    // key-membership fast path) and keeps bystander lines verbatim too
    spark.sql("DELETE FROM g11dl.default.li WHERE l_orderkey <= 50 AND l_quantity > 25.0")
    assert(ManifestTable.currentVersion(dir) == 2)
    val v2Lines = ManifestTable.listLines(dir, 2)
    val loFile = v1Lines.map(ManifestTable.parseEntry).filter(e =>
      e.ranges.get("l_orderkey").forall(_.min <= BigDecimal(50)))
      .map(_.name).toSet
    v1Lines.filterNot(l => loFile.contains(l.split('\t').head)).foreach { l =>
      assert(v2Lines.contains(l), s"DELETE bystander line must carry: $l")
    }
    assert(spark.sql("SELECT count(*) AS n FROM g11dl.default.li " +
      "WHERE l_orderkey <= 50 AND l_quantity > 25.0").head().getLong(0) == 0L)

    // MERGE with inserts: the not-matched rows stage as NEW files while
    // bystander lines still carry verbatim
    import spark.implicits._
    val src = Seq((9999991L, 1, "Z", 5.0), (101L, 1, "Z", 7.0))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    src.createOrReplaceTempView("r11_merge_src")
    spark.sql("""MERGE INTO g11dl.default.li t USING r11_merge_src s
      ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
      WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) AS n FROM g11dl.default.li " +
      "WHERE l_orderkey = 9999991").head().getLong(0) == 1L)
    // `SELECT _file` works as a plain metadata query too
    val files = spark.sql(
      "SELECT DISTINCT _file FROM g11dl.default.li WHERE l_orderkey = 9999991")
      .collect()
    assert(files.length == 1 && files.head.getString(0).contains("/data/"))
    ManifestTable.destroy(root)
  }

  test("PARTITIONED BY clusters inserts so partition predicates prune files") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = freshDir("part")
    ManifestTable.destroy(s"$root/ord")
    spark.conf.set("spark.sql.catalog.g11pt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11pt.root", root)
    spark.sql("""CREATE TABLE g11pt.default.ord
      (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)
      PARTITIONED BY (yr)""")
    // the declaration survives as a transform (DESCRIBE surface)
    val cat = new graft.sources.GraftCatalog
    cat.initialize("g11pt_probe",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(
          Map("root" -> root)).asJava))
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "ord"))
    assert(tbl.partitioning().map(_.toString).sameElements(Array("identity(yr)")))
    Tables.orders(spark, sf).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
      .createOrReplaceTempView("r11_spec_part_src")
    spark.sql("INSERT INTO g11pt.default.ord SELECT * FROM r11_spec_part_src")
    val sel = spark.sql(
      "SELECT * FROM g11pt.default.ord WHERE yr = 1997")
    sel.collect()
    val plan = sel.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec => b.scan }
      .collect { case m: sources.ManifestFilesScan => m }
    assert(scans.nonEmpty &&
      scans.head.keptFiles > 0 && scans.head.keptFiles < scans.head.totalFiles,
      s"a partition predicate must prune the clustered layout " +
        s"(${scans.map(s => s"${s.keptFiles}/${s.totalFiles}").mkString(",")})")
    val expect = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(sel.count() == expect, "pruning must never change the answer")
    ManifestTable.destroy(root)
  }

  test("filtered INSERT OVERWRITE reloads one partition; bystander files verbatim") {
    val root = freshDir("owpart")
    ManifestTable.destroy(s"$root/ord")
    val dir = s"$root/ord"
    spark.conf.set("spark.sql.catalog.g11ow",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ow.root", root)
    spark.sql("""CREATE TABLE g11ow.default.ord
      (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)
      PARTITIONED BY (yr)""")
    val src = Tables.orders(spark, sf).select(col("o_orderkey"),
      year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
    src.createOrReplaceTempView("r11_spec_ow_src")
    spark.sql("INSERT INTO g11ow.default.ord SELECT * FROM r11_spec_ow_src")
    val v1 = ManifestTable.currentVersion(dir)
    val before = ManifestTable.listLines(dir, v1)
    spark.sql("""INSERT OVERWRITE g11ow.default.ord PARTITION (yr = 1997)
      SELECT o_orderkey, o_totalprice + 5.0 AS o_totalprice
      FROM r11_spec_ow_src WHERE yr = 1997""")
    val v2 = ManifestTable.currentVersion(dir)
    assert(v2 == v1 + 1, "one filtered overwrite = one mutate commit")
    val after = ManifestTable.listLines(dir, v2)
    // files whose yr-range refutes 1997 keep their exact line
    val bystanders = before.filter { l =>
      val e = ManifestTable.parseEntry(l)
      e.ranges.get("yr").exists(r =>
        r.max < BigDecimal(1997) || r.min > BigDecimal(1997))
    }
    assert(bystanders.nonEmpty, "the clustered layout must leave bystanders")
    bystanders.foreach(l => assert(after.contains(l),
      s"bystander manifest line must carry VERBATIM: $l"))
    // the answer is the reload's answer
    val got = spark.sql("""SELECT CAST(sum(CAST(o_totalprice AS
      DECIMAL(18,2))) AS DOUBLE) AS s FROM g11ow.default.ord
      WHERE yr = 1997""").head().getDouble(0)
    val want = src.filter(col("yr") === 1997)
      .agg(sum((col("o_totalprice") + 5.0)
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double")).head().getDouble(0)
    assert(math.abs(got - want) < 1e-6)
    // row counts everywhere else unchanged
    assert(spark.sql(
      "SELECT count(*) AS n FROM g11ow.default.ord WHERE yr <> 1997")
      .head().getLong(0) == src.filter(col("yr") =!= 1997).count())
    ManifestTable.destroy(root)
  }

  test("dynamic INSERT OVERWRITE replaces exactly the batch's partitions") {
    val root = freshDir("dynow")
    ManifestTable.destroy(s"$root/ord")
    val dir = s"$root/ord"
    spark.conf.set("spark.sql.catalog.g11dy",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11dy.root", root)
    spark.sql("""CREATE TABLE g11dy.default.ord
      (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)
      PARTITIONED BY (yr)""")
    val src = Tables.orders(spark, sf).select(col("o_orderkey"),
      year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
    src.createOrReplaceTempView("r11_spec_dyn_src")
    spark.sql("INSERT INTO g11dy.default.ord SELECT * FROM r11_spec_dyn_src")
    val before = ManifestTable.listLines(dir,
      ManifestTable.currentVersion(dir))
    val prev = spark.conf.get(
      "spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql("""INSERT OVERWRITE g11dy.default.ord
        SELECT o_orderkey, yr, o_totalprice + 7.0 AS o_totalprice
        FROM r11_spec_dyn_src WHERE yr = 1998""")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    val after = ManifestTable.listLines(dir,
      ManifestTable.currentVersion(dir))
    // files whose yr-range refutes 1998 carry VERBATIM
    val bystanders = before.filter { l =>
      val e = ManifestTable.parseEntry(l)
      e.ranges.get("yr").exists(r =>
        r.max < BigDecimal(1998) || r.min > BigDecimal(1998))
    }
    assert(bystanders.nonEmpty)
    bystanders.foreach(l => assert(after.contains(l),
      s"dynamic-overwrite bystander line must carry VERBATIM: $l"))
    // exactly the 1998 partition was replaced
    val got = spark.sql("""SELECT CAST(sum(CAST(o_totalprice AS
      DECIMAL(18,2))) AS DOUBLE) AS s FROM g11dy.default.ord
      WHERE yr = 1998""").head().getDouble(0)
    val want = src.filter(col("yr") === 1998)
      .agg(sum((col("o_totalprice") + 7.0)
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double")).head().getDouble(0)
    assert(math.abs(got - want) < 1e-6)
    assert(spark.sql(
      "SELECT count(*) AS n FROM g11dy.default.ord WHERE yr <> 1998")
      .head().getLong(0) == src.filter(col("yr") =!= 1998).count())
    ManifestTable.destroy(root)
  }

  test("ADD COLUMN: old files read NULL, new inserts carry values, UPDATE migrates rows") {
    val root = freshDir("addcol")
    val dir = s"$root/t"
    ManifestTable.destroy(dir)
    spark.conf.set("spark.sql.catalog.g11ac",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ac.root", root)
    spark.sql("CREATE TABLE g11ac.default.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO g11ac.default.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE g11ac.default.t ADD COLUMN score DOUBLE")
    spark.sql("INSERT INTO g11ac.default.t VALUES (3, 'c', 1.5)")
    val rows = spark.sql(
      "SELECT k, s, score FROM g11ac.default.t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0),
      if (r.isNullAt(2)) null else r.getDouble(2))).toSeq ==
      Seq((1L, null), (2L, null), (3L, 1.5)),
      "pre-addition rows read NULL; post-addition rows carry values")
    // an UPDATE on an OLD row executes as delete+insert: the row migrates
    // into a new-generation file and CAN take a value in the new column
    spark.sql("UPDATE g11ac.default.t SET score = 9.0 WHERE k = 1")
    val after = spark.sql(
      "SELECT k, score FROM g11ac.default.t ORDER BY k").collect()
    assert(after.map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getDouble(1))).toSeq ==
      Seq((1L, 9.0), (2L, null), (3L, 1.5)))
    // a duplicate add refuses and (atomicity) leaves nothing durable
    val vBefore = ManifestTable.currentVersion(dir)
    intercept[Exception] {
      spark.sql("ALTER TABLE g11ac.default.t ADD COLUMN score DOUBLE")
    }
    assert(ManifestTable.currentVersion(dir) == vBefore)
    ManifestTable.destroy(root)
  }

  test("segment summaries carry string envelopes: string predicates prune whole segments") {
    val root = freshDir("segstr")
    val dir = s"$root/li"
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .repartitionByRange(6, col("l_returnflag"), col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li,
      Seq("l_returnflag"))
    assert(ManifestTable.commitSegmented(dir, staged, -1, segmentSize = 2))
    val x = "R".getBytes("UTF-8")
    val admit: ManifestTable.FileEntry => Boolean = e =>
      e.strRanges.get("l_returnflag").forall { case (lo, hi) =>
        java.util.Arrays.compareUnsigned(lo, x) <= 0 &&
          java.util.Arrays.compareUnsigned(x, hi) <= 0
      }
    val (entries, segsRead, segsTotal, filesTotal) =
      ManifestTable.segmentedEntries(dir, 0, admit)
        .getOrElse(fail("must be a segmented manifest"))
    assert(segsTotal == 3 && segsRead < segsTotal,
      s"the string envelope must prune segments ($segsRead/$segsTotal)")
    assert(entries.size < filesTotal)
    // the catalog leg resolves through the same summaries: parity
    spark.conf.set("spark.sql.catalog.g11sg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11sg.root", root)
    assert(spark.sql(
      "SELECT count(*) AS n FROM g11sg.default.li WHERE l_returnflag = 'R'")
      .head().getLong(0) ==
      ManifestTable.read(spark, dir).filter(col("l_returnflag") === "R").count())
    ManifestTable.destroy(root)
  }

  test("decimal footer stats prune catalog scans and serve metadata MIN/MAX") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = freshDir("decstats")
    val dir = s"$root/li"
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"),
        col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price"))
      .repartitionByRange(8, col("price"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("price"))
    assert(staged.forall(_.contains("price=D:")),
      "every staged file must carry a decimal price range")
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g11ds",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ds.root", root)
    val sel = spark.sql(
      "SELECT * FROM g11ds.default.li WHERE price > 90000.00")
    sel.collect()
    val plan = sel.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec => b.scan }
      .collect { case m: sources.ManifestFilesScan => m }
    assert(scans.nonEmpty && scans.head.keptFiles < scans.head.totalFiles,
      s"a selective decimal predicate must prune files " +
        s"(${scans.map(s => s"${s.keptFiles}/${s.totalFiles}").mkString(",")})")
    val expect = ManifestTable.read(spark, dir)
      .filter(col("price") > java.math.BigDecimal.valueOf(9000000L, 2)).count()
    assert(sel.count() == expect, "pruning must never change the answer")
    // MIN/MAX over the decimal column answered from manifest metadata
    val mm = spark.sql(
      "SELECT min(price) AS lo, max(price) AS hi FROM g11ds.default.li")
    assert(mm.queryExecution.executedPlan.toString.contains("metadata agg"),
      "decimal MIN/MAX must be served from file stats, zero data I/O")
    val apiMm = ManifestTable.read(spark, dir)
      .agg(min(col("price")), max(col("price"))).head()
    assert(mm.head() == apiMm)
    ManifestTable.destroy(root)
  }

  test("manifest statistics drive an unhinted broadcast join, exact row counts") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = freshDir("stats")
    spark.conf.set("spark.sql.catalog.g11st",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11st.root", root)
    spark.sql("CREATE TABLE g11st.default.nat (n_nationkey BIGINT, n_name STRING)")
    Tables.nation(spark, sf).select("n_nationkey", "n_name")
      .createOrReplaceTempView("r11_stats_spec_nat")
    spark.sql("INSERT INTO g11st.default.nat SELECT * FROM r11_stats_spec_nat")
    // every committed line records planning stats at write time
    val dir = s"$root/nat"
    val lines = ManifestTable.listLines(dir, ManifestTable.currentVersion(dir))
    assert(lines.nonEmpty && lines.forall(l =>
      l.contains("__rows=") && l.contains("__bytes=")),
      s"insert must record __rows and __bytes: $lines")
    Tables.customer(spark, sf).createOrReplaceTempView("r11_stats_spec_cust")
    val j = spark.sql("""SELECT n.n_name, count(*) AS n_cust
      FROM r11_stats_spec_cust c JOIN g11st.default.nat n
        ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name""")
    j.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(nodes) ++ (p match {
        case q: QueryStageExec => nodes(q.plan)
        case _ => Seq.empty
      }))
    val plan = j.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val all = nodes(plan)
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the tiny catalog table must auto-broadcast with NO hint:\n$plan")
    // …and the BROADCAST subtree is the manifest scan (not merely the
    // parquet side being broadcast): the V2 relation's reported stats are
    // what put it there
    val underBroadcast = all.collect {
      case b: BroadcastExchangeLike => nodes(b.child) }.flatten
    val bScan = underBroadcast.collect { case b: BatchScanExec => b.scan }
      .collect { case m: sources.ManifestFilesScan => m }
    assert(bScan.nonEmpty,
      s"the broadcast side must be the catalog table's scan:\n$plan")
    // the scan's own estimate: exact rows, recorded (not statted) bytes
    val st = bScan.head.estimateStatistics()
    assert(st.numRows.isPresent &&
      st.numRows.getAsLong == Tables.nation(spark, sf).count())
    assert(st.sizeInBytes.isPresent &&
      st.sizeInBytes.getAsLong < 10L * 1024 * 1024)
    ManifestTable.destroy(root)
  }

  test("CTAS is atomic: a failing query leaves no table and no staging residue") {
    val root = freshDir("ctas")
    spark.conf.set("spark.sql.catalog.g11ct",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ct.root", root)
    Tables.orders(spark, sf).createOrReplaceTempView("r11_spec_ctas_src")
    intercept[Exception] {
      spark.sql("""CREATE TABLE g11ct.default.bad AS
        SELECT o_orderkey, assert_true(o_orderkey < 0) AS boom
        FROM r11_spec_ctas_src""")
    }
    assert(ManifestTable.currentVersion(s"$root/bad") < 0,
      "a failed CTAS must not leave a table")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/bad")),
      "no final directory may exist after a failed CTAS")
    val residue = ManifestTable.listDir(java.nio.file.Paths.get(root))
      .filter(_.getFileName.toString.startsWith("bad.staging-"))
    assert(residue.isEmpty, s"staging residue must be aborted away: $residue")
    // happy path: the table appears fully formed
    spark.sql("""CREATE TABLE g11ct.default.summ AS
      SELECT o_orderstatus, count(*) AS n
      FROM r11_spec_ctas_src GROUP BY o_orderstatus""")
    val want = Tables.orders(spark, sf).groupBy("o_orderstatus").count().count()
    assert(spark.sql("SELECT * FROM g11ct.default.summ").count() == want)
    ManifestTable.destroy(root)
  }

  test("RTAS swaps content atomically and keeps the old version time-travelable") {
    val root = freshDir("rtas")
    spark.conf.set("spark.sql.catalog.g11rt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11rt.root", root)
    Tables.orders(spark, sf).createOrReplaceTempView("r11_spec_rtas_src")
    spark.sql("""CREATE TABLE g11rt.default.summ AS
      SELECT o_orderstatus, count(*) AS n
      FROM r11_spec_rtas_src GROUP BY o_orderstatus""")
    val dir = s"$root/summ"
    val vOld = ManifestTable.currentVersion(dir)
    val oldRows = spark.sql("SELECT * FROM g11rt.default.summ").count()
    spark.sql("""REPLACE TABLE g11rt.default.summ AS
      SELECT o_orderkey, o_orderstatus FROM r11_spec_rtas_src
      WHERE o_orderkey % 2 = 0""")
    // new schema + new content
    val neu = spark.sql("SELECT * FROM g11rt.default.summ")
    assert(neu.columns.toSeq == Seq("o_orderkey", "o_orderstatus"))
    assert(neu.count() == Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 2 === 0).count())
    // a failing RTAS leaves the current table untouched
    intercept[Exception] {
      spark.sql("""REPLACE TABLE g11rt.default.summ AS
        SELECT assert_true(o_orderkey < 0) AS boom FROM r11_spec_rtas_src""")
    }
    assert(spark.sql("SELECT * FROM g11rt.default.summ").count() == neu.count())
    // the replaced version is still there for time travel
    val old = spark.sql(
      s"SELECT * FROM g11rt.default.summ VERSION AS OF $vOld")
    assert(old.columns.toSeq == Seq("o_orderstatus", "n"))
    assert(old.count() == oldRows)
    ManifestTable.destroy(root)
  }

  test("RENAME TABLE moves atomically; live clones refuse the rename") {
    val root = freshDir("ren")
    spark.conf.set("spark.sql.catalog.g11rn",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11rn.root", root)
    Tables.nation(spark, sf).select("n_nationkey", "n_name")
      .createOrReplaceTempView("r11_spec_ren_src")
    spark.sql("""CREATE TABLE g11rn.default.a AS
      SELECT * FROM r11_spec_ren_src""")
    val n = spark.sql("SELECT * FROM g11rn.default.a").count()
    spark.sql("ALTER TABLE g11rn.default.a RENAME TO g11rn.default.b")
    assert(spark.sql("SELECT * FROM g11rn.default.b").count() == n,
      "the renamed table must serve identical content")
    assert(ManifestTable.currentVersion(s"$root/a") < 0, "old name is gone")
    intercept[Exception] {
      spark.sql("SELECT * FROM g11rn.default.a").collect()
    }
    // a table AS a clone renames fine (outbound absolute refs unaffected)…
    ManifestTable.cloneTable(s"$root/b", s"$root/c")
    spark.sql("ALTER TABLE g11rn.default.c RENAME TO g11rn.default.d")
    assert(spark.sql("SELECT * FROM g11rn.default.d").count() == n)
    // …but the SOURCE of a live clone refuses (inbound absolute refs
    // would dangle); note c→d above left c's registration stale-free:
    // b's clones/ registry still points at the MOVED clone path c, which
    // no longer exists → stale, contributes nothing. Re-clone to get a
    // live registration.
    ManifestTable.cloneTable(s"$root/b", s"$root/e")
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE g11rn.default.b RENAME TO g11rn.default.z")
    }
    assert(ex.getMessage.contains("clone"),
      s"rename of a cloned source must name the clone hazard: ${ex.getMessage}")
    assert(spark.sql("SELECT * FROM g11rn.default.b").count() == n,
      "the refused rename must leave the source intact")
    ManifestTable.destroy(root)
  }

  test("$changes feed reconstructs every snapshot; compaction emits nothing") {
    val root = freshDir("chg")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g11ch",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ch.root", root)
    spark.sql("CREATE TABLE g11ch.default.t (k BIGINT, v DOUBLE)")
    Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("r11_spec_chg_src")
    spark.sql("""INSERT INTO g11ch.default.t
      SELECT * FROM r11_spec_chg_src WHERE k % 2 = 0""")           // v1
    spark.sql("""INSERT INTO g11ch.default.t
      SELECT * FROM r11_spec_chg_src WHERE k % 2 = 1""")           // v2
    spark.sql("DELETE FROM g11ch.default.t WHERE k % 10 = 3")      // v3: row-level
    spark.sql("""UPDATE g11ch.default.t SET v = v + 1.0
      WHERE k % 10 = 4""")                                         // v4: row-level
    val feed = spark.sql(
      """SELECT k, v, _change_type, _commit_version
        |FROM g11ch.default.`t$changes`""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
    val cur = ManifestTable.currentVersion(dir)
    // apply the feed version by version: deletes out, inserts in (keys
    // are unique, so value-keyed application is exact)
    var state = Map.empty[Long, Double]
    (0 to cur).foreach { v =>
      val at = feed.filter(_._4 == v)
      at.filter(_._3 == "delete").foreach { case (k, _, _, _) => state -= k }
      at.filter(_._3 == "insert").foreach { case (k, x, _, _) => state += k -> x }
      val snap = spark.sql(s"SELECT k, v FROM g11ch.default.t VERSION AS OF $v")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(state == snap,
        s"feed applied through v$v must equal the v$v snapshot " +
          s"(${state.size} vs ${snap.size} rows)")
    }
    // incremental read: startVersion serves ONLY the new commits
    val inc = spark.read.option("startVersion", 3)
      .table("g11ch.default.`t$changes`")
    assert(inc.select("_commit_version").distinct().collect()
      .map(_.getInt(0)).toSet == Set(3, 4))
    // compaction is content-preserving: its version contributes no changes
    val vOpt = ManifestTable.compact(spark, dir, numFiles = 2)
    assert(spark.read.option("startVersion", vOpt)
      .table("g11ch.default.`t$changes`").count() == 0,
      "a rewrite commit must emit nothing into the feed")
    // …and the feed BEFORE the compaction still reconstructs the head
    val full = spark.sql("SELECT k, v FROM g11ch.default.t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == full)
    ManifestTable.destroy(root)
  }

  test("namespaces: schema DDL lifecycle, nesting, and non-empty refusal") {
    val root = freshDir("ns")
    spark.conf.set("spark.sql.catalog.g11ns",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ns.root", root)
    spark.sql("CREATE NAMESPACE g11ns.marts COMMENT 'curated'")
    spark.sql("CREATE NAMESPACE g11ns.marts.daily") // nested, parent exists
    spark.sql("CREATE NAMESPACE g11ns.raw.stage")   // nested, parent implicit
    // SHOW SCHEMAS sees default + the two top-level markers, nothing else
    val top = spark.sql("SHOW NAMESPACES IN g11ns").collect()
      .map(_.getString(0)).toSet
    assert(top == Set("default", "marts", "raw"), s"got $top")
    assert(spark.sql("SHOW NAMESPACES IN g11ns.marts").collect()
      .map(_.getString(0)).toSet == Set("marts.daily"))
    // properties round-trip through ALTER + DESCRIBE
    spark.sql("ALTER NAMESPACE g11ns.marts SET PROPERTIES ('team'='etl')")
    val desc = spark.sql("DESCRIBE NAMESPACE EXTENDED g11ns.marts").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Comment").contains("curated"))
    assert(desc.getOrElse("Properties", "").contains("team=etl") ||
      desc.getOrElse("Properties", "").contains("(team,etl)"))
    // a table inside a schema is an ordinary manifest table
    spark.sql("CREATE TABLE g11ns.marts.t (k BIGINT)")
    spark.sql("INSERT INTO g11ns.marts.t VALUES (1), (2), (3)")
    assert(spark.sql("SELECT sum(k) FROM g11ns.marts.t").collect()
      .head.getLong(0) == 6L)
    assert(spark.sql("SHOW TABLES IN g11ns.marts").collect()
      .map(_.getString(1)).toSet == Set("t"))
    // a table directory never masquerades as a schema
    assert(!spark.sql("SHOW NAMESPACES IN g11ns.marts").collect()
      .map(_.getString(0)).contains("marts.t"))
    // DROP refuses a non-empty schema without CASCADE, honors it with
    intercept[Exception] { spark.sql("DROP NAMESPACE g11ns.marts") }
    assert(spark.sql("SELECT count(*) FROM g11ns.marts.t").collect()
      .head.getLong(0) == 3L, "refused drop must leave the table intact")
    spark.sql("DROP NAMESPACE g11ns.marts CASCADE")
    assert(spark.sql("SHOW NAMESPACES IN g11ns").collect()
      .map(_.getString(0)).toSet == Set("default", "raw"))
    ManifestTable.destroy(root)
  }

  test("streaming $changes: version micro-batches follow DML; restart reads nothing") {
    val root = freshDir("schg")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g11sc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11sc.root", root)
    spark.sql("CREATE TABLE g11sc.default.t (k BIGINT, v DOUBLE)")
    Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("r11_spec_schg_src")
    spark.sql("""INSERT INTO g11sc.default.t
      SELECT * FROM r11_spec_schg_src WHERE k % 2 = 0""")          // v1
    spark.sql("""INSERT INTO g11sc.default.t
      SELECT * FROM r11_spec_schg_src WHERE k % 2 = 1""")          // v2
    spark.sql("DELETE FROM g11sc.default.t WHERE k % 10 = 3")      // v3: delta
    val vCompact = ManifestTable.compact(spark, dir, numFiles = 2) // v4: rewrite
    spark.sql("""UPDATE g11sc.default.t SET v = v + 1.0
      WHERE k % 10 = 4""")                                         // v5: delta

    val batches = scala.collection.mutable.Map[
      Long, Array[(Long, Double, String, Int)]]()
    def drain(ckpt: String, opts: Map[String, String] = Map.empty): Unit = {
      var reader = spark.readStream.option("versionsPerBatch", "1")
      opts.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.table("g11sc.default.`t$changes`")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = b.select("k", "v", "_change_type", "_commit_version")
            .collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(s"$root/ckpt")
    val all = batches.values.flatten.toSeq
    // admission control: one commit version per micro-batch, never a blend
    batches.values.foreach { rs =>
      assert(rs.map(_._4).distinct.length <= 1,
        "versionsPerBatch=1 must keep each micro-batch to one commit")
    }
    // the compaction version is content-preserving: zero feed rows
    assert(!all.exists(_._4 == vCompact),
      "a rewrite commit must contribute nothing to the streamed feed")
    // deletes-then-inserts per version reconstructs the head snapshot
    var state = Map.empty[Long, Double]
    all.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (_, rs) =>
      rs.filter(_._3 == "delete").foreach { case (k, _, _, _) => state -= k }
      rs.filter(_._3 == "insert").foreach { case (k, x, _, _) => state += k -> x }
    }
    val head = spark.sql("SELECT k, v FROM g11sc.default.t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == head,
      s"streamed feed must reconstruct the head (${state.size} vs ${head.size})")
    // same-checkpoint restart: version offsets recorded — nothing re-reads
    val rowsBefore = all.size
    drain(s"$root/ckpt")
    assert(batches.values.flatten.size == rowsBefore,
      "a restarted feed must not re-emit committed versions")
    // startVersion bootstrap handoff: a fresh feed from v5 sees ONLY v5
    batches.clear()
    drain(s"$root/ckpt2", Map("startVersion" -> "5"))
    val late = batches.values.flatten.toSeq
    assert(late.nonEmpty && late.forall(_._4 == 5),
      s"startVersion=5 must serve exactly the v5 changes, got versions " +
        late.map(_._4).distinct.sorted.mkString(","))
    ManifestTable.destroy(root)
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec,
      SortMergeJoinExec}
    val root = freshDir("spj")
    spark.conf.set("spark.sql.catalog.g11sp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11sp.root", root)
    val prevBucketing = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false")
    val prevPush = spark.conf
      .get("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
    val prevBroadcast = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("""CREATE TABLE g11sp.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(8, o_custkey))""")
      spark.sql("""CREATE TABLE g11sp.default.cust
        (c_custkey BIGINT, c_acctbal DOUBLE)
        PARTITIONED BY (bucket(8, c_custkey))""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_spj_ord")
      Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
        .createOrReplaceTempView("r11_spj_cust")
      spark.sql("INSERT INTO g11sp.default.ord SELECT * FROM r11_spj_ord")
      spark.sql("INSERT INTO g11sp.default.cust SELECT * FROM r11_spj_cust")
      val j = spark.sql("""SELECT o.o_orderkey, o.o_totalprice, c.c_acctbal
        FROM g11sp.default.ord o JOIN g11sp.default.cust c
          ON o.o_custkey = c.c_custkey""")
      val got = j.collect()
      def nodes(p: SparkPlan): Seq[SparkPlan] =
        p +: (p.children.flatMap(nodes) ++ (p match {
          case q: QueryStageExec => nodes(q.plan)
          case _ => Seq.empty
        }))
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val joins = nodes(plan).filter(n => n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec])
      assert(joins.nonEmpty, s"expected a non-broadcast equi-join:\n$plan")
      val shufflesBelow = joins.flatMap(j => j.children.flatMap(nodes))
        .filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(shufflesBelow.isEmpty,
        s"co-bucketed storage-partitioned join must NOT shuffle either " +
          s"side:\n$plan")
      // and the co-located join changes no answers
      val want = Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .join(Tables.customer(spark, sf).select("c_custkey", "c_acctbal"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_acctbal")
      assert(got.map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
      assert(got.length == want.count())
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        prevPush)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
    ManifestTable.destroy(root)
  }

  test("bucket lifecycle: DELETE and UPDATE keep SPJ, a legacy file degrades it, CALL rebucket re-arms it") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec,
      SortMergeJoinExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(nodes) ++ (p match {
        case q: QueryStageExec => nodes(q.plan)
        case _ => Seq.empty
      }))
    def joinShuffles(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val joins = nodes(plan).filter(n => n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec])
      (joins.size,
        joins.flatMap(_.children.flatMap(nodes))
          .count(_.isInstanceOf[ShuffleExchangeLike]))
    }
    val root = freshDir("blc")
    spark.conf.set("spark.sql.catalog.g11blc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11blc.root", root)
    val prevBucketing = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false")
    val prevPush = spark.conf
      .get("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
    val prevBroadcast = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("""CREATE TABLE g11blc.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(8, o_custkey))""")
      spark.sql("""CREATE TABLE g11blc.default.cust
        (c_custkey BIGINT, c_acctbal DOUBLE)
        PARTITIONED BY (bucket(8, c_custkey))""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_blc_ord")
      Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
        .createOrReplaceTempView("r11_blc_cust")
      spark.sql("INSERT INTO g11blc.default.ord SELECT * FROM r11_blc_ord")
      spark.sql("INSERT INTO g11blc.default.cust SELECT * FROM r11_blc_cust")
      def theJoin = spark.sql("""SELECT o.o_orderkey, o.o_totalprice,
          c.c_acctbal
        FROM g11blc.default.ord o JOIN g11blc.default.cust c
          ON o.o_custkey = c.c_custkey""")
      // 1. co-bucketed: zero shuffles below the join
      val (j1, s1) = joinShuffles(theJoin)
      assert(j1 == 1 && s1 == 0, s"fresh co-bucketed join: $j1 joins, $s1 shuffles")
      // 2. selective DELETE rewrites files — surviving rows keep their
      // bucket, so the join stays shuffle-free and answers stay right
      spark.sql("DELETE FROM g11blc.default.ord WHERE o_orderkey % 10 = 0")
      val (j2, s2) = joinShuffles(theJoin)
      assert(j2 == 1 && s2 == 0, s"post-DELETE join: $j2 joins, $s2 shuffles")
      val wantPostDelete = Tables.orders(spark, sf)
        .filter(!(col("o_orderkey") % 10 === 0))
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_acctbal")
        .collect().map(_.toSeq).toSet
      assert(theJoin.collect().map(_.toSeq).toSet == wantPostDelete)
      // 3. UPDATE re-inserts rewritten rows BUCKET-ROUTED (round 12): the
      // files stay stamped and the join stays shuffle-free through the
      // statement
      spark.sql("""UPDATE g11blc.default.ord SET o_totalprice = 0.0
        WHERE o_orderkey % 7 = 0""")
      val (j3a, s3a) = joinShuffles(theJoin)
      assert(j3a == 1 && s3a == 0,
        s"post-UPDATE join must stay shuffle-free: $s3a shuffles")
      // 3b. a legacy UNBUCKETED file (e.g. staged before the transform
      // was declared) degrades the scan: it must shuffle again, never
      // mis-group
      val extra = Tables.orders(spark, sf)
        .filter(col("o_orderkey") % 10 === 0)
        .filter(col("o_orderkey") % 7 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice").coalesce(1)
      ManifestTable.merge(spark, s"$root/ord", extra, Seq("o_orderkey"))
      val (j3, s3) = joinShuffles(theJoin)
      assert(j3 == 1 && s3 > 0,
        s"a bucket-less file must fall the join back to shuffling: $s3")
      // 4. CALL rebucket restores the clustered layout and the plan
      val rv = spark.sql(
        "CALL g11blc.system.rebucket(table => 'ord')").collect()
      assert(rv.length == 1 && rv.head.getInt(0) > 0)
      val (j4, s4) = joinShuffles(theJoin)
      assert(j4 == 1 && s4 == 0, s"post-rebucket join: $j4 joins, $s4 shuffles")
      val survivors = Tables.orders(spark, sf)
        .filter(!(col("o_orderkey") % 10 === 0))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, 0.0).otherwise(col("o_totalprice")))
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val wantFinal = survivors
        .unionByName(extra) // the re-added legacy-file rows (3b)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_acctbal")
        .collect().map(_.toSeq).toSet
      assert(theJoin.collect().map(_.toSeq).toSet == wantFinal,
        "rebucket must not change answers")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        prevPush)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
    ManifestTable.destroy(s"$root/ord")
    ManifestTable.destroy(s"$root/cust")
  }

  test("CALL procedures: optimize, restore, vacuum through SQL") {
    val root = freshDir("proc")
    spark.conf.set("spark.sql.catalog.g11pr",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11pr.root", root)
    try {
      spark.sql("CREATE TABLE g11pr.default.t (k BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO g11pr.default.t VALUES (1, 1.5), (2, 2.5)")
      spark.sql("INSERT INTO g11pr.default.t VALUES (3, 3.5)")
      val vOpt = spark.sql(
        "CALL g11pr.system.optimize(table => 't', num_files => 1)")
        .collect().head.getInt(0)
      val linesAfterOpt = ManifestTable.listLines(s"$root/t", vOpt)
      assert(linesAfterOpt.size == 1, s"optimize must compact to 1 file")
      assert(spark.sql("SELECT count(*) FROM g11pr.default.t")
        .collect().head.getLong(0) == 3)
      // restore to the 2-row snapshot (version 1 = first insert)
      val vRest = spark.sql(
        "CALL g11pr.system.restore(table => 't', version => 1)")
        .collect().head.getInt(0)
      assert(vRest > vOpt)
      assert(spark.sql("SELECT count(*) FROM g11pr.default.t")
        .collect().head.getLong(0) == 2)
      // vacuum keeps the table readable
      spark.sql("CALL g11pr.system.vacuum(table => 't', keep_versions => 1)")
      assert(spark.sql("SELECT count(*) FROM g11pr.default.t")
        .collect().head.getLong(0) == 2)
    } finally ManifestTable.destroy(s"$root/t")
  }

  test("declared write-order: co-bucketed co-sorted join has zero shuffles and zero sorts") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(nodes) ++ (p match {
        case q: QueryStageExec => nodes(q.plan)
        case _ => Seq.empty
      }))
    val root = freshDir("ord")
    spark.conf.set("spark.sql.catalog.g11so",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11so.root", root)
    val prevBucketing = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false")
    val prevPush = spark.conf
      .get("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
    val prevBroadcast = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevPreferSort = spark.conf
      .get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    try {
      spark.sql("""CREATE TABLE g11so.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(8, o_custkey))
        TBLPROPERTIES ('graft.write.sort' = 'o_custkey')""")
      spark.sql("""CREATE TABLE g11so.default.cust
        (c_custkey BIGINT, c_acctbal DOUBLE)
        PARTITIONED BY (bucket(8, c_custkey))
        TBLPROPERTIES ('graft.write.sort' = 'c_custkey')""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_so_ord")
      Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
        .createOrReplaceTempView("r11_so_cust")
      spark.sql("INSERT INTO g11so.default.ord SELECT * FROM r11_so_ord")
      spark.sql("INSERT INTO g11so.default.cust SELECT * FROM r11_so_cust")
      val j = spark.sql("""SELECT o.o_orderkey, o.o_totalprice, c.c_acctbal
        FROM g11so.default.ord o JOIN g11so.default.cust c
          ON o.o_custkey = c.c_custkey""")
      val got = j.collect().map(_.toSeq).toSet
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val smjs = nodes(plan).collect { case s: SortMergeJoinExec => s }
      assert(smjs.size == 1, s"expected one sort-merge join:\n$plan")
      val below = smjs.head.children.flatMap(nodes)
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(!below.exists(_.isInstanceOf[SortExec]),
        s"declared write-order must eliminate the SMJ sorts:\n$plan")
      val want = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_acctbal")
        .collect().map(_.toSeq).toSet
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        prevPush)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.join.preferSortMergeJoin", prevPreferSort)
    }
    ManifestTable.destroy(s"$root/ord")
    ManifestTable.destroy(s"$root/cust")
  }

  test("CBO column statistics: NDV/min/max served from manifest sketches") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = freshDir("cbo")
    spark.conf.set("spark.sql.catalog.g11cb",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11cb.root", root)
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.sql("""CREATE TABLE g11cb.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('graft.write.ndv' = 'o_custkey')""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_cb_ord")
      spark.sql("INSERT INTO g11cb.default.ord SELECT * FROM r11_cb_ord")
      val trueNdv = Tables.orders(spark, sf).select("o_custkey")
        .distinct().count()
      val trueMin = Tables.orders(spark, sf)
        .agg(min("o_custkey")).collect().head.getLong(0)
      val trueMax = Tables.orders(spark, sf)
        .agg(max("o_custkey")).collect().head.getLong(0)
      val df = spark.table("g11cb.default.ord")
        .select("o_custkey", "o_totalprice")
      // the scan itself serves the stats…
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan
      }.head.asInstanceOf[graft.sources.ManifestFilesScan]
      val cs = scan.estimateStatistics().columnStats()
      val byName = cs.entrySet().iterator()
      var found: Option[(Long, Any, Any)] = None
      while (byName.hasNext) {
        val e = byName.next()
        if (e.getKey.fieldNames.head == "o_custkey")
          found = Some((e.getValue.distinctCount().getAsLong,
            e.getValue.min().get(), e.getValue.max().get()))
      }
      val (ndv, lo, hi) = found.getOrElse(fail("no columnStats for o_custkey"))
      assert(lo == trueMin && hi == trueMax)
      assert(math.abs(ndv - trueNdv) <= math.max(2L, trueNdv / 20),
        s"HLL NDV $ndv should approximate $trueNdv within 5%")
      // …and with CBO on, the OPTIMIZER sees them as attribute stats
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table("g11cb.default.ord")
        .select("o_custkey", "o_totalprice")
        .queryExecution.optimizedPlan.stats
      val attr = stats.attributeStats.find(_._1.name == "o_custkey")
      assert(attr.isDefined, s"CBO attribute stats missing: $stats")
      assert(attr.get._2.distinctCount.exists(dc =>
        math.abs(dc.toLong - trueNdv) <= math.max(2L, trueNdv / 20)))
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      ManifestTable.destroy(s"$root/ord")
    }
  }

  test("expire_snapshots: age-based expiry keeps tagged versions time-travelable") {
    val root = freshDir("exp")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g11ex",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ex.root", root)
    spark.sql("CREATE TABLE g11ex.default.t (k BIGINT)")          // v0
    spark.sql("INSERT INTO g11ex.default.t VALUES (1), (2)")      // v1
    spark.sql("CALL g11ex.system.tag(table => 't', name => 'keep-me')") // v2
    spark.sql("INSERT INTO g11ex.default.t VALUES (3)")           // v3
    spark.sql("INSERT OVERWRITE g11ex.default.t VALUES (9)")      // v4
    spark.sql("INSERT INTO g11ex.default.t VALUES (10)")          // v5
    val v1Files = ManifestTable.listFiles(dir, 1).toSet
    val v3Only = ManifestTable.listFiles(dir, 3).toSet -- v1Files
    assert(v3Only.nonEmpty)
    // cutoff AFTER v4's instant: v0..v4 are "old"; keep_last=1 keeps the
    // head, the tag keeps v1 — v0/v2/v3/v4 expire
    val cutoff = Snapshot.read(dir, 4).ts.get + 1
    spark.sql(s"CALL g11ex.system.expire(table => 't', " +
      s"older_than_millis => ${cutoff}L, keep_last => 1)")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, f"manifest-v${3}%08d.json")),
      "an untagged old version must expire")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, f"manifest-v${1}%08d.json")),
      "a tagged version must survive any retention window")
    // the tag still time-travels; the expired neighbor refuses explicitly
    assert(spark.sql(
      "SELECT CAST(sum(k) AS BIGINT) FROM g11ex.default.t VERSION AS OF 'keep-me'")
      .collect().head.getLong(0) == 3L)
    intercept[Exception] {
      spark.sql("SELECT * FROM g11ex.default.t VERSION AS OF 3").collect()
    }
    // files only the expired versions referenced are gone; tagged files stay
    v3Only.foreach { f =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "data", f)),
        s"file $f was referenced only by expired versions")
    }
    v1Files.foreach { f =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "data", f)),
        s"file $f backs the tagged snapshot and must survive")
    }
    // the head is untouched
    assert(spark.sql("SELECT CAST(sum(k) AS BIGINT) FROM g11ex.default.t")
      .collect().head.getLong(0) == 19L)
    ManifestTable.destroy(root)
  }

  test("CLUSTER BY: inserts range-cluster so the clustered column prunes") {
    val root = freshDir("clus")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g11cl",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11cl.root", root)
    spark.sql("""CREATE TABLE g11cl.default.t (k BIGINT, v DOUBLE)
      CLUSTER BY (k)""")
    Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("r11_clus_src")
    spark.sql("INSERT INTO g11cl.default.t SELECT * FROM r11_clus_src")
    val cur = ManifestTable.currentVersion(dir)
    val entries = ManifestTable.listLines(dir, cur).map(ManifestTable.parseEntry)
    assert(entries.size > 1, "clustered insert should produce several files")
    // range clustering = tight, mostly non-overlapping k envelopes
    val spans = entries.flatMap(_.ranges.get("k")).sortBy(_.min)
    spans.sliding(2).foreach { case Seq(a, b) =>
      assert(b.min >= a.max - 1, s"clustered envelopes must not interleave: $a vs $b")
    case _ => () }
    // …so a point predicate admits few files
    val kMid = spans(spans.size / 2).min
    val admitted = entries.count(e => e.ranges.get("k").exists(r =>
      r.min <= kMid && kMid <= r.max))
    assert(admitted <= 2, s"point lookup should prune to ≤2 files, got $admitted")
    // answers exact
    assert(spark.sql(s"SELECT count(*) FROM g11cl.default.t WHERE k = $kMid")
      .collect().head.getLong(0) ==
      spark.sql(s"SELECT count(*) FROM r11_clus_src WHERE k = $kMid")
        .collect().head.getLong(0))
    ManifestTable.destroy(root)
  }

  test("identity columns: unique ids across commits, BY DEFAULT honors explicit values") {
    val root = freshDir("idc")
    spark.conf.set("spark.sql.catalog.g11id",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11id.root", root)
    spark.sql("""CREATE TABLE g11id.default.t
      (id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10),
       v DOUBLE)""")
    spark.sql("INSERT INTO g11id.default.t (v) VALUES (1.0), (2.0), (3.0)")
    spark.sql("INSERT INTO g11id.default.t (v) VALUES (4.0), (5.0)")
    val ids = spark.sql("SELECT id FROM g11id.default.t").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.size == 5 && ids.distinct.size == 5,
      s"ids must be unique across commits: $ids")
    assert(ids.forall(i => i >= 100 && (i - 100) % 10 == 0),
      s"ids must follow START 100 INCREMENT 10: $ids")
    // the second commit starts past the first's frontier
    val firstMax = spark.sql(
      "SELECT max(id) FROM g11id.default.t VERSION AS OF 1").collect()
      .head.getLong(0)
    assert(ids.count(_ > firstMax) == 2,
      "the later commit's ids must all clear the earlier frontier")
    // BY DEFAULT: an explicit value wins, NULLs still generate — and the
    // frontier clears explicit values too
    spark.sql("""CREATE TABLE g11id.default.d
      (id BIGINT GENERATED BY DEFAULT AS IDENTITY, v DOUBLE)""")
    spark.sql("INSERT INTO g11id.default.d VALUES (500, 1.0), (NULL, 2.0)")
    spark.sql("INSERT INTO g11id.default.d (v) VALUES (3.0)")
    val d = spark.sql("SELECT id, v FROM g11id.default.d ORDER BY v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(d.map(_._1).distinct.size == 3, s"got $d")
    assert(d.head._1 == 500L, "explicit identity value must be preserved")
    assert(d.last._1 > 500L,
      "generation must clear the explicit high-water, never collide")
    ManifestTable.destroy(root)
  }

  test("type widening: ALTER COLUMN TYPE serves old files unrewritten") {
    val root = freshDir("tw")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g11tw",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11tw.root", root)
    spark.sql("CREATE TABLE g11tw.default.t (k INT, v FLOAT, m DECIMAL(10,2))")
    spark.sql("""INSERT INTO g11tw.default.t VALUES
      (1, CAST(1.5 AS FLOAT), 10.25), (2, CAST(2.5 AS FLOAT), 20.50)""")
    val before = ManifestTable.listLines(dir, ManifestTable.currentVersion(dir))
    spark.sql("ALTER TABLE g11tw.default.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE g11tw.default.t ALTER COLUMN v TYPE DOUBLE")
    spark.sql("ALTER TABLE g11tw.default.t ALTER COLUMN m TYPE DECIMAL(18,2)")
    assert(ManifestTable.listLines(dir, ManifestTable.currentVersion(dir)) == before,
      "type widening must not rewrite or restage any file")
    val sch = spark.table("g11tw.default.t").schema.map(f =>
      f.name -> f.dataType.simpleString).toMap
    assert(sch == Map("k" -> "bigint", "v" -> "double", "m" -> "decimal(18,2)"),
      s"got $sch")
    // a value only the WIDE type can hold lands beside the narrow files
    spark.sql("INSERT INTO g11tw.default.t VALUES (3000000000, 3.5, 30.75)")
    val r = spark.sql("""SELECT CAST(sum(k) AS BIGINT), CAST(sum(v) AS DOUBLE),
      CAST(sum(m) AS DECIMAL(18,2)) FROM g11tw.default.t""").collect().head
    assert(r.getLong(0) == 3000000003L)
    assert(math.abs(r.getDouble(1) - 7.5) < 1e-9)
    assert(r.getDecimal(2) == new java.math.BigDecimal("61.50"))
    // narrowing refuses — files could hold values the narrow type cannot
    intercept[Exception] {
      spark.sql("ALTER TABLE g11tw.default.t ALTER COLUMN k TYPE INT")
    }
    ManifestTable.destroy(root)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target with source-only columns") {
    val root = freshDir("mse")
    spark.conf.set("spark.sql.catalog.g11ms",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ms.root", root)
    spark.sql("CREATE TABLE g11ms.default.t (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO g11ms.default.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("""SELECT k, CAST(v AS DOUBLE) AS v, note
      FROM VALUES (2L, 20.0, 'hot'), (3L, 30.0, 'new') AS s(k, v, note)""")
      .createOrReplaceTempView("r11_mse_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO g11ms.default.t t
      USING r11_mse_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql("SELECT k, v, note FROM g11ms.default.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)).getOrElse("NULL"))).toSeq
    assert(rows == Seq((1L, 1.0, "NULL"), (2L, 20.0, "hot"), (3L, 30.0, "new")),
      s"schema evolution must add 'note', update matches, insert new: $rows")
    ManifestTable.destroy(root)
  }

  test("generated columns: GENERATED ALWAYS AS computed at write, partitions cluster by it") {
    val root = freshDir("gen")
    spark.conf.set("spark.sql.catalog.g11gn",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11gn.root", root)
    spark.sql("""CREATE TABLE g11gn.default.t
      (d DATE, v DOUBLE, yr INT GENERATED ALWAYS AS (year(d)))
      PARTITIONED BY (yr)""")
    Tables.orders(spark, sf)
      .select(col("o_orderdate").as("d"), col("o_totalprice").as("v"),
        lit(null).cast("int").as("yr")) // value ignored: ALWAYS overwrites
      .createOrReplaceTempView("r11_gen_src")
    spark.sql("INSERT INTO g11gn.default.t SELECT * FROM r11_gen_src")
    // the generated value can never drift from its definition
    assert(spark.sql(
      "SELECT count(*) FROM g11gn.default.t WHERE yr <> year(d) OR yr IS NULL")
      .collect().head.getLong(0) == 0L,
      "every row must carry the computed generation expression")
    // the declared identity partitioning clusters by the generated value:
    // the partition inventory resolves real yr partitions
    val parts = spark.sql(
      "SELECT partition FROM g11gn.default.`t$partitions`")
      .collect().map(_.getString(0)).toSet
    assert(parts.exists(_.matches("yr=\\d{4}")), s"got $parts")
    // …and a predicate on the generated column file-prunes
    val kept = spark.sql(
      "SELECT count(*) FROM g11gn.default.t WHERE yr = 1997")
      .collect().head.getLong(0)
    val want = spark.sql(
      "SELECT count(*) FROM r11_gen_src WHERE year(d) = 1997")
      .collect().head.getLong(0)
    assert(kept == want)
    // UPDATE recomputes the generation on every rewritten row (round 12);
    // DELETE only removes rows
    spark.sql("UPDATE g11gn.default.t SET v = v + 1.0 WHERE yr = 1997")
    assert(spark.sql("""SELECT count(*) FROM g11gn.default.t
      WHERE yr != year(d)""").head().getLong(0) == 0L,
      "the generated value must track its expression through an UPDATE")
    assert(spark.sql(
      "SELECT count(*) FROM g11gn.default.t WHERE yr = 1997")
      .head().getLong(0) == want)
    spark.sql("DELETE FROM g11gn.default.t WHERE yr = 1997")
    assert(spark.sql(
      "SELECT count(*) FROM g11gn.default.t WHERE yr = 1997")
      .collect().head.getLong(0) == 0L)
    ManifestTable.destroy(root)
  }

  test("snapshot tags name versions; optimize scopes to one partition verbatim") {
    val root = freshDir("tag")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g11tg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11tg.root", root)
    spark.sql("CREATE TABLE g11tg.default.t (yr INT, k BIGINT) PARTITIONED BY (yr)")
    Seq(1996, 1996, 1997, 1997).zipWithIndex.foreach { case (y, i) =>
      spark.sql(s"INSERT INTO g11tg.default.t VALUES ($y, ${i * 10}), ($y, ${i * 10 + 1})")
    }
    val totalBefore = spark.sql("SELECT count(*) FROM g11tg.default.t")
      .collect().head.getLong(0)
    spark.sql("CALL g11tg.system.tag(table => 't', name => 'pre-opt')")
    // partition-scoped compaction: 1997 lines survive byte-for-byte
    val v0 = ManifestTable.currentVersion(dir)
    def is97(l: String): Boolean =
      ManifestTable.parseEntry(l).ranges.get("yr")
        .exists(r => r.min == r.max && r.min.toIntExact == 1997)
    val lines97 = ManifestTable.listLines(dir, v0).filter(is97).sorted
    assert(lines97.size == 2)
    spark.sql(
      "CALL g11tg.system.optimize(table => 't', partition => 'yr=1996')")
    val v1 = ManifestTable.currentVersion(dir)
    val after97 = ManifestTable.listLines(dir, v1).filter(is97).sorted
    assert(after97 == lines97,
      "a partition-scoped optimize must keep other partitions' lines verbatim")
    val parts = spark.sql(
      """SELECT partition, n_files FROM g11tg.default.`t$partitions`""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts("yr=1996") == 1L && parts("yr=1997") == 2L, s"got $parts")
    // answers invariant; the tag still resolves to the pre-opt snapshot
    assert(spark.sql("SELECT count(*) FROM g11tg.default.t")
      .collect().head.getLong(0) == totalBefore)
    spark.sql("INSERT INTO g11tg.default.t VALUES (1998, 99)")
    assert(spark.sql(
      "SELECT count(*) FROM g11tg.default.t VERSION AS OF 'pre-opt'")
      .collect().head.getLong(0) == totalBefore,
      "the tag must pin the named snapshot across later commits")
    intercept[Exception] {
      spark.sql("SELECT * FROM g11tg.default.t VERSION AS OF 'no-such-tag'")
        .collect()
    }
    // metadata tables time-travel too — the file inventory AS IT WAS
    assert(spark.sql(
      "SELECT count(*) FROM g11tg.default.`t$files` VERSION AS OF 'pre-opt'")
      .collect().head.getLong(0) == 4L,
      "t\\$files at the tag must list the pre-compaction files")
    ManifestTable.destroy(root)
  }

  test("DROP COLUMN: declared authority hides the bytes; re-ADD of the name refused") {
    val root = freshDir("dropc")
    spark.conf.set("spark.sql.catalog.g11dc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11dc.root", root)
    spark.sql("CREATE TABLE g11dc.default.t (k BIGINT, tmp DOUBLE, v DOUBLE)")
    spark.sql("""INSERT INTO g11dc.default.t
      VALUES (1, 9.0, 1.5), (2, 8.0, 2.5), (3, 7.0, 3.5)""")
    spark.sql("ALTER TABLE g11dc.default.t DROP COLUMN tmp")
    // the schema stops exposing the column; the data files are untouched
    assert(spark.table("g11dc.default.t").columns.toSeq == Seq("k", "v"))
    intercept[Exception] { spark.sql("SELECT tmp FROM g11dc.default.t").collect() }
    assert(spark.sql("SELECT CAST(sum(v) AS DOUBLE) FROM g11dc.default.t")
      .collect().head.getDouble(0) == 7.5)
    // inserts after the drop carry the narrowed schema
    spark.sql("INSERT INTO g11dc.default.t VALUES (4, 4.5)")
    assert(spark.sql("SELECT count(*) FROM g11dc.default.t").collect()
      .head.getLong(0) == 4L)
    // re-adding the dropped name would resurface old bytes — refused
    intercept[Exception] {
      spark.sql("ALTER TABLE g11dc.default.t ADD COLUMN tmp DOUBLE")
    }
    // a fresh name is fine, and old rows serve NULL for it
    spark.sql("ALTER TABLE g11dc.default.t ADD COLUMN note STRING")
    assert(spark.sql(
      "SELECT count(*) FROM g11dc.default.t WHERE note IS NULL")
      .collect().head.getLong(0) == 4L)
    ManifestTable.destroy(root)
  }

  test("COUNT(col) pushdown: recorded null counts serve exact counts from metadata") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = freshDir("nc")
    spark.conf.set("spark.sql.catalog.g11nc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11nc.root", root)
    spark.sql("CREATE TABLE g11nc.default.t (k BIGINT, v DOUBLE)")
    Tables.orders(spark, sf).select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_totalprice")).as("v"))
      .createOrReplaceTempView("r11_nc_src")
    spark.sql("INSERT INTO g11nc.default.t SELECT * FROM r11_nc_src")
    val (wantNv, wantN) = {
      val r = spark.sql("SELECT count(v), count(*) FROM r11_nc_src").collect().head
      (r.getLong(0), r.getLong(1))
    }
    assert(wantNv < wantN, "fixture sanity: some v are NULL")
    val q = spark.sql("SELECT count(v) AS nv, count(*) AS n FROM g11nc.default.t")
    assert(q.queryExecution.executedPlan.toString.contains("metadata agg"),
      "COUNT(col) with recorded null counts must be metadata-served")
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1)) == ((wantNv, wantN)))
    // …and the CBO sees the exact null count with zero data I/O
    val scan = spark.table("g11nc.default.t")
      .queryExecution.optimizedPlan.collect {
        case s: DataSourceV2ScanRelation => s.scan
      }.head.asInstanceOf[graft.sources.ManifestFilesScan]
    val it = scan.estimateStatistics().columnStats().entrySet().iterator()
    var nulls = -1L
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.fieldNames.head == "v" && e.getValue.nullCount().isPresent)
        nulls = e.getValue.nullCount().getAsLong
    }
    assert(nulls == wantN - wantNv, s"CBO null count $nulls vs ${wantN - wantNv}")
    ManifestTable.destroy(root)
  }

  test("CHECK constraints: ADD validates existing rows, INSERT enforces, DROP lifts") {
    val root = freshDir("ck")
    spark.conf.set("spark.sql.catalog.g11ck",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ck.root", root)
    spark.sql("CREATE TABLE g11ck.default.t (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO g11ck.default.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("ALTER TABLE g11ck.default.t ADD CONSTRAINT positive CHECK (v > 0)")
    // adding a constraint the EXISTING data violates must fail the ALTER
    intercept[Exception] {
      spark.sql("ALTER TABLE g11ck.default.t ADD CONSTRAINT big CHECK (k > 100)")
    }
    // a violating INSERT fails the statement and commits nothing
    intercept[Exception] {
      spark.sql("INSERT INTO g11ck.default.t VALUES (3, -1.0)")
    }
    assert(spark.sql("SELECT count(*) FROM g11ck.default.t").collect()
      .head.getLong(0) == 2L, "a refused INSERT must leave no rows behind")
    spark.sql("INSERT INTO g11ck.default.t VALUES (3, 3.0)") // conforming
    // DROP lifts enforcement; strict DROP of a missing name refuses
    spark.sql("ALTER TABLE g11ck.default.t DROP CONSTRAINT positive")
    intercept[Exception] {
      spark.sql("ALTER TABLE g11ck.default.t DROP CONSTRAINT nope")
    }
    spark.sql("INSERT INTO g11ck.default.t VALUES (4, -4.0)")
    assert(spark.sql("SELECT count(*) FROM g11ck.default.t").collect()
      .head.getLong(0) == 4L)
    ManifestTable.destroy(root)
  }

  test("column DEFAULTs: INSERT fill, ADD COLUMN existence defaults, no rewrite") {
    val root = freshDir("dflt")
    spark.conf.set("spark.sql.catalog.g11df",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11df.root", root)
    spark.sql("""CREATE TABLE g11df.default.t
      (k BIGINT, status STRING DEFAULT 'new', score DOUBLE DEFAULT 0.5)""")
    spark.sql("INSERT INTO g11df.default.t (k) VALUES (1), (2)")
    spark.sql("INSERT INTO g11df.default.t VALUES (3, 'done', DEFAULT)")
    val rows = spark.sql("SELECT k, status, score FROM g11df.default.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "new", 0.5), (2L, "new", 0.5), (3L, "done", 0.5)),
      s"CURRENT_DEFAULT must fill omitted and DEFAULT-keyword columns: $rows")
    // ADD COLUMN with DEFAULT: pre-addition files serve the existence
    // default from the reader — data files untouched, byte for byte
    val dir = s"$root/t"
    val before = ManifestTable.listLines(dir, ManifestTable.currentVersion(dir))
    spark.sql("ALTER TABLE g11df.default.t ADD COLUMN tier STRING DEFAULT 'bronze'")
    assert(ManifestTable.listLines(dir, ManifestTable.currentVersion(dir)) == before,
      "a defaulted ADD COLUMN must not rewrite or restage any file")
    assert(spark.sql("SELECT tier FROM g11df.default.t").collect()
      .forall(_.getString(0) == "bronze"),
      "pre-addition files must serve the EXISTS_DEFAULT, not NULL")
    // future inserts fill every current default
    spark.sql("INSERT INTO g11df.default.t (k) VALUES (4)")
    val r4 = spark.sql(
      "SELECT status, score, tier FROM g11df.default.t WHERE k = 4")
      .collect().head
    assert((r4.getString(0), r4.getDouble(1), r4.getString(2)) ==
      (("new", 0.5, "bronze")))
    assert(spark.sql(
      "SELECT count(*) FROM g11df.default.t WHERE tier = 'bronze'")
      .collect().head.getLong(0) == 4L,
      "predicates over a default-served column must see the default")
    ManifestTable.destroy(root)
  }

  test("GROUP BY pushdown: value-pure files serve grouped aggregates from metadata") {
    val root = freshDir("gagg")
    spark.conf.set("spark.sql.catalog.g11ga",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ga.root", root)
    spark.sql("CREATE TABLE g11ga.default.t (yr INT, k BIGINT, v DOUBLE)")
    Tables.orders(spark, sf).select(
        year(col("o_orderdate")).cast("int").as("yr"),
        col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("r11_gagg_src")
    val yrs = spark.sql("SELECT DISTINCT yr FROM r11_gagg_src ORDER BY yr")
      .collect().map(_.getInt(0)) // bounded: order years span ≤ 8 values
    yrs.foreach { y =>
      spark.sql(s"INSERT INTO g11ga.default.t SELECT * FROM r11_gagg_src WHERE yr = $y")
    }
    val q = spark.sql("""SELECT yr, count(*) AS n, min(k) AS mn, max(v) AS mx
      FROM g11ga.default.t GROUP BY yr""")
    assert(q.queryExecution.executedPlan.toString.contains("metadata agg"),
      "per-year staging is value-pure: the grouped aggregate must be " +
        "metadata-served with zero file reads")
    val got = q.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = spark.sql("""SELECT yr, count(*) AS n, min(k) AS mn, max(v) AS mx
      FROM r11_gagg_src GROUP BY yr""").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want, "metadata-served groups must be exact")
    // an impure file (one insert spanning every year) DECLINES the
    // pushdown — the ordinary scan answers, still exactly
    spark.sql("CREATE TABLE g11ga.default.mixed (yr INT, k BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO g11ga.default.mixed
      SELECT /*+ REPARTITION(1) */ * FROM r11_gagg_src""")
    val q2 = spark.sql("""SELECT yr, count(*) AS n, min(k) AS mn, max(v) AS mx
      FROM g11ga.default.mixed GROUP BY yr""")
    assert(!q2.queryExecution.executedPlan.toString.contains("metadata agg"),
      "a year-spanning file must decline the grouped pushdown")
    assert(q2.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet == want)
    ManifestTable.destroy(root)
  }

  test("exact filter pushdown: partition-pure WHERE keeps aggregates metadata-served") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
      StructField, StructType}
    val root = freshDir("exf")
    spark.conf.set("spark.sql.catalog.g11xf",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11xf.root", root)
    spark.sql("CREATE TABLE g11xf.default.t (yr INT, k BIGINT, v DOUBLE)")
    Tables.orders(spark, sf).select(
        year(col("o_orderdate")).cast("int").as("yr"),
        col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("r11_exf_src")
    spark.sql("SELECT DISTINCT yr FROM r11_exf_src ORDER BY yr").collect()
      .map(_.getInt(0)).foreach { y => // bounded: ≤ 8 years
        spark.sql(s"INSERT INTO g11xf.default.t SELECT * FROM r11_exf_src WHERE yr = $y")
      }
    // the equality is provably whole-file (value-pure, zero nulls), so
    // the filter vanishes and the aggregate folds admitted files only
    val q = spark.sql("""SELECT count(*) AS n, min(k) AS mn, max(v) AS mx
      FROM g11xf.default.t WHERE yr = 1997""")
    assert(q.queryExecution.executedPlan.toString.contains("metadata agg"),
      "a partition-pure equality filter must keep the aggregate " +
        "metadata-served:\n" + q.queryExecution.executedPlan)
    val want = spark.sql("""SELECT count(*) AS n, min(k) AS mn, max(v) AS mx
      FROM r11_exf_src WHERE yr = 1997""").collect().head
    assert(q.collect().head == want)
    // …and grouped, filtered, still zero data I/O
    val qg = spark.sql("""SELECT yr, count(*) AS n FROM g11xf.default.t
      WHERE yr = 1996 GROUP BY yr""")
    assert(qg.queryExecution.executedPlan.toString.contains("metadata agg"))
    assert(qg.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      spark.sql("""SELECT yr, count(*) FROM r11_exf_src
        WHERE yr = 1996 GROUP BY yr""").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq)
    // IN-lists over pure partitions are exact too — grouped and filtered
    val qi = spark.sql("""SELECT yr, count(*) AS n FROM g11xf.default.t
      WHERE yr IN (1996, 1998) GROUP BY yr""")
    assert(qi.queryExecution.executedPlan.toString.contains("metadata agg"),
      "an IN-list over pure partitions must stay metadata-served")
    assert(qi.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      spark.sql("""SELECT yr, count(*) FROM r11_exf_src
        WHERE yr IN (1996, 1998) GROUP BY yr""").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet)
    // a NON-pure predicate stays residual: no metadata serving, exact answer
    val q2 = spark.sql(
      "SELECT count(*) AS n FROM g11xf.default.t WHERE k % 2 = 0")
    assert(!q2.queryExecution.executedPlan.toString.contains("metadata agg"))
    assert(q2.collect().head.getLong(0) == spark.sql(
      "SELECT count(*) FROM r11_exf_src WHERE k % 2 = 0")
      .collect().head.getLong(0))
    // a null-bearing column refuses the exactness proof but stays correct
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1997, null, 1.0),
      org.apache.spark.sql.Row(1997, 7L, 2.0))
    spark.createDataFrame(rows, StructType(Seq(
        StructField("yr", IntegerType), StructField("k", LongType),
        StructField("v", DoubleType))))
      .createOrReplaceTempView("r11_exf_nulls")
    spark.sql("CREATE TABLE g11xf.default.n (yr INT, k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO g11xf.default.n SELECT * FROM r11_exf_nulls")
    val q3 = spark.sql(
      "SELECT count(*) AS n FROM g11xf.default.n WHERE k = 7")
    assert(!q3.queryExecution.executedPlan.toString.contains("metadata agg"),
      "a null-bearing column must refuse the whole-file proof")
    assert(q3.collect().head.getLong(0) == 1L)
    ManifestTable.destroy(root)
  }

  test("CBO histograms: file envelopes beat the uniform assumption on skew") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = freshDir("hist")
    spark.conf.set("spark.sql.catalog.g11hg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11hg.root", root)
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.sql("""CREATE TABLE g11hg.default.t (k BIGINT, v DOUBLE)
        TBLPROPERTIES ('graft.write.ndv' = 'k')""")
      // 90% of rows land in [0, 1000), 10% in [900000, 1000000) — the
      // shape where min/max + uniformity estimates `k < 1000` at ~0.1%
      // of rows while the truth is ~90%. Range-clustering the insert
      // gives each file a tight envelope, which is what the histogram
      // is built from.
      Tables.orders(spark, sf).select(
          when(col("o_orderkey") % 10 < 9, col("o_orderkey") % 1000)
            .otherwise(lit(900000L) + col("o_orderkey") % 100000)
            .cast("bigint").as("k"),
          col("o_totalprice").as("v"))
        .repartitionByRange(16, col("k"))
        .createOrReplaceTempView("r11_hist_src")
      spark.sql("INSERT INTO g11hg.default.t SELECT * FROM r11_hist_src")
      val total = spark.table("g11hg.default.t").count()
      val truth = spark.sql(
        "SELECT count(*) FROM g11hg.default.t WHERE k < 1000")
        .collect().head.getLong(0)
      assert(truth > total / 2, "fixture sanity: most rows are in the head")
      // the scan serves an equi-height histogram for the NDV column
      val scan = spark.table("g11hg.default.t")
        .queryExecution.optimizedPlan.collect {
          case r: DataSourceV2ScanRelation => r.scan
        }.head.asInstanceOf[graft.sources.ManifestFilesScan]
      val it = scan.estimateStatistics().columnStats().entrySet().iterator()
      var hist: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
        None
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.fieldNames.head == "k" && e.getValue.histogram().isPresent)
          hist = Some(e.getValue.histogram().get())
      }
      val hg = hist.getOrElse(fail("no histogram served for k"))
      val bins = hg.bins()
      assert(bins.length > 1)
      assert(math.abs(hg.height() * bins.length - total) <= total * 0.01,
        "equi-height bins must sum to the table's rows")
      bins.sliding(2).foreach { case Array(a, b) =>
        assert(a.hi() >= a.lo() && b.lo() >= a.hi() - 1e-9, "bins must ascend")
      }
      // with CBO on, the optimizer's estimate for the head-range filter
      // tracks the truth instead of the ~0.1% uniform guess
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val est = spark.table("g11hg.default.t").filter(col("k") < 1000)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.isDefined, "CBO must produce a row-count estimate")
      val e = est.get.toDouble
      assert(e > 0.5 * truth && e < 1.5 * truth,
        s"histogram estimate $e must track the truth $truth (total $total)")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      ManifestTable.destroy(root)
    }
  }

  test("LIMIT pushdown plans a file prefix; ORDER BY+LIMIT caps sorted files") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = freshDir("lim")
    spark.conf.set("spark.sql.catalog.g11lm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11lm.root", root)
    try {
      spark.sql("""CREATE TABLE g11lm.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(16, o_custkey))
        TBLPROPERTIES ('graft.write.sort' = 'o_custkey')""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_lm_ord")
      spark.sql("INSERT INTO g11lm.default.ord SELECT * FROM r11_lm_ord")
      def scanOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case r: DataSourceV2ScanRelation => r.scan
        }.head.asInstanceOf[graft.sources.ManifestFilesScan]
      // bare LIMIT: one file suffices and the plan proves it
      val lim = spark.sql("SELECT * FROM g11lm.default.ord LIMIT 5")
      assert(lim.collect().length == 5)
      val s1 = scanOf(lim)
      assert(s1.keptFiles == 1,
        s"LIMIT 5 should plan a 1-file prefix of ${s1.totalFiles}, " +
          s"kept ${s1.keptFiles}")
      // ORDER BY the write-order + LIMIT: all files stay (each may hold
      // candidates) but the scan is capped and the answer is exact
      val top = spark.sql(
        "SELECT * FROM g11lm.default.ord ORDER BY o_custkey LIMIT 7")
      val got = top.collect().map(_.getLong(1)).toSeq
      val s2 = scanOf(top)
      assert(s2.keptFiles == s2.totalFiles)
      assert(s2.description().contains("limit 7"),
        s"top-n must reach the scan: ${s2.description()}")
      val want = Tables.orders(spark, sf).select("o_custkey")
        .orderBy("o_custkey").limit(7).collect().map(_.getLong(0)).toSeq
      assert(got == want)
      // ORDER BY a NON-sorted column must NOT push (answers still right)
      val byPrice = spark.sql(
        "SELECT * FROM g11lm.default.ord ORDER BY o_totalprice LIMIT 3")
      assert(!scanOf(byPrice).description().contains("limit"),
        "top-n on a non-write-order column must decline")
      val gotP = byPrice.collect().map(_.getDouble(2)).toSeq
      val wantP = Tables.orders(spark, sf).select("o_totalprice")
        .orderBy("o_totalprice").limit(3).collect().map(_.getDouble(0)).toSeq
      assert(gotP == wantP)
    } finally ManifestTable.destroy(s"$root/ord")
  }

  test("bucketed aggregation: GROUP BY the bucket key needs no shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(nodes) ++ (p match {
        case q: QueryStageExec => nodes(q.plan)
        case _ => Seq.empty
      }))
    val root = freshDir("bag")
    spark.conf.set("spark.sql.catalog.g11ba",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11ba.root", root)
    val prevBucketing = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      spark.sql("""CREATE TABLE g11ba.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(8, o_custkey))""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_ba_ord")
      spark.sql("INSERT INTO g11ba.default.ord SELECT * FROM r11_ba_ord")
      val agg = spark.sql("""SELECT o_custkey, count(*) AS n,
          sum(o_totalprice) AS s
        FROM g11ba.default.ord GROUP BY o_custkey""")
      val got = agg.collect()
      val plan = agg.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(!nodes(plan).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"GROUP BY the bucket key must aggregate in place:\n$plan")
      val want = Tables.orders(spark, sf)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
        .collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ==
        want.map(r => (r.getLong(0), r.getLong(1))).toSet)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
      ManifestTable.destroy(s"$root/ord")
    }
  }

  test("runtime filtering: broadcast dim prunes fact files before the scan") {
    val root = freshDir("dpp")
    spark.conf.set("spark.sql.catalog.g11dpp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g11dpp.root", root)
    try {
      // bucketed fact: every file carries a __bucket id, so runtime
      // IN-filters prune whole buckets regardless of value clustering
      spark.sql("""CREATE TABLE g11dpp.default.fact
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(16, o_custkey))""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_dpp_ord")
      spark.sql("INSERT INTO g11dpp.default.fact SELECT * FROM r11_dpp_ord")
      // selective dim FILTERED ON A NON-JOIN COLUMN: a join-key filter
      // (c_custkey < 4) would propagate statically through constraint
      // inference and prune before execution — a nation filter can only
      // prune at RUNTIME, from the collected build-side keys
      val threeKeys = Tables.customer(spark, sf)
        .filter(col("c_nationkey") === 3).select("c_custkey")
      threeKeys.createOrReplaceTempView("r11_dpp_dim")
      sources.ManifestFilesScan.lastRuntimePrune.remove(s"$root/fact")
      val j = spark.sql("""SELECT f.o_orderkey, f.o_totalprice
        FROM g11dpp.default.fact f JOIN r11_dpp_dim d
          ON f.o_custkey = d.c_custkey""")
      val got = j.collect().map(_.toSeq).toSet
      val want = Tables.orders(spark, sf)
        .join(threeKeys, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice").collect().map(_.toSeq).toSet
      assert(got == want, "runtime pruning must not change the answer")
      val prune = sources.ManifestFilesScan.lastRuntimePrune.get(s"$root/fact")
      assert(prune != null, "the runtime filter must actually have run — " +
        "broadcast dim + filterAttributes on o_custkey should trigger DPP")
      val (kept, total) = prune
      assert(total >= 8, s"fixture too small to prove pruning: $total files")
      assert(kept < total,
        s"a handful of keys over 16 buckets must prune some of $total " +
          s"files, kept $kept")
    } finally {
      ManifestTable.destroy(root)
    }
  }
}

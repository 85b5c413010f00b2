package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.sources.{GraftCatalog, ManifestTable => MT}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The lakehouse workload: one manifest table loaded from the fixture
  * `lineitem`, driven by the plan's seeded stream of writes and reads
  * through `ManifestTable`'s public API and through SQL on a
  * `GraftCatalog` table over the same directory. Every read returns an
  * exact integer digest that the runner compares with a DuckDB replay of
  * the same operations. */
final class Lakehouse(spark: SparkSession, plan: JsonNode, clock: PerfBench.Clock) {
  private val fixtures = plan.get("fixtures").asText
  private val root = s"${plan.get("work").asText}/lake"
  private val tbl = s"$root/li"
  private val sqlTable = "pb.default.li"
  private val keyCols = Seq("l_orderkey", "l_linenumber")

  spark.conf.set("spark.sql.catalog.pb", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.pb.root", root)

  /** count, then exact integer sums of keys and of cents. */
  def digestCols(tax: String): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(col("l_orderkey")), lit(0L)).as("okey"),
    coalesce(sum(col("l_linenumber").cast("long")), lit(0L)).as("line"),
    coalesce(sum(round(col("l_quantity") * 100).cast("long")), lit(0L)).as("qty"),
    coalesce(sum(round(col("l_extendedprice") * 100).cast("long")), lit(0L)).as("price"),
    coalesce(sum(round(col(tax) * 100).cast("long")), lit(0L)).as("tax"))

  def digest(df: DataFrame, tax: String): Seq[Long] = {
    val r = df.agg(digestCols(tax).head, digestCols(tax).tail: _*).head()
    (0 until r.length).map(r.getLong)
  }

  /** Fresh table from the fixture, staged with key stats and bloom
    * filters. Returns its duration in seconds. */
  def load(): Double = {
    val a = clock.now
    MT.destroy(tbl)
    val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
      .repartition(8, col("l_orderkey"))
    val staged = MT.stageWithIndexes(spark, tbl, li,
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    require(MT.commit(tbl, staged, -1), s"initial commit of $tbl lost")
    clock.now - a
  }

  private def keys(op: JsonNode): Seq[Long] =
    op.get("keys").elements().asScala.map(_.asLong).toSeq

  private def batch(op: JsonNode): DataFrame = spark.read.parquet(op.get("batch").asText)

  /** Relative path -> size of every regular file under `dir`. */
  private def files(dir: String): Map[String, Long] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Map.empty
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => d.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  private var before: Map[String, Long] = Map.empty
  // version after each executed operation; index -1 is the initial load
  private val versionAfter = mutable.Map[Int, Int](-1 -> 0)
  // (version before, version after) of the latest append; the load first
  private var lastAppend = (-1, 0)
  // the tax column's name after the last executed operation
  private var finalTax = "l_tax"

  /** Runs whole rounds of the plan's operations until `seconds` passed;
    * each round is one pass. */
  def run(seconds: Double, traced: Boolean): Map[String, Any] = {
    before = files(root)
    val ops = plan.get("ops").elements().asScala.toSeq
    val items = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = clock.now
    var p0 = t0
    var i = 0
    var stop = false
    while (i < ops.size && !stop) {
      val op = ops(i)
      val kind = op.get("kind").asText
      val tax = op.get("tax").asText
      val a = clock.now
      var b = a
      var err: String = null
      var dig: Seq[Long] = null
      try {
        def read(df: => DataFrame): Unit = {
          val d = df; b = clock.now; dig = digest(d, tax)
        }
        kind match {
          case "append" =>
            val v = MT.currentVersion(tbl)
            lastAppend = (v, MT.append(spark, tbl, batch(op)))
          case "merge" => MT.merge(spark, tbl, batch(op), keyCols)
          case "upsert_mor" => MT.upsertMOR(spark, tbl, batch(op), "l_orderkey")
          case "delete_keys" => MT.deleteKeys(spark, tbl, "l_orderkey", keys(op))
          case "delete_keys_mor" => MT.deleteKeysMOR(spark, tbl, "l_orderkey", keys(op))
          case "update_keys" => MT.updateKeys(spark, tbl, "l_orderkey", keys(op),
            Map("l_quantity" -> (col("l_quantity") + lit(1.0))))
          case "sql_delete" =>
            spark.sql(s"DELETE FROM $sqlTable WHERE l_orderkey IN (${keys(op).mkString(", ")})")
          case "sql_update" =>
            spark.sql(s"UPDATE $sqlTable SET l_extendedprice = l_extendedprice + 1.0 " +
              s"WHERE l_orderkey IN (${keys(op).mkString(", ")})")
          case "sql_merge" =>
            batch(op).createOrReplaceTempView("pb_merge_batch")
            spark.sql(s"""MERGE INTO $sqlTable t USING pb_merge_batch b
              ON t.l_orderkey = b.l_orderkey AND t.l_linenumber = b.l_linenumber
              WHEN MATCHED THEN UPDATE SET l_quantity = b.l_quantity
              WHEN NOT MATCHED THEN INSERT *""")
          case "set_property" =>
            MT.setTableProperty(tbl, op.get("key").asText, op.get("value").asText)
          case "rename" => MT.renameColumn(tbl, op.get("from").asText, op.get("to").asText)
          case "branch" =>
            val name = op.get("name").asText
            MT.createBranch(tbl, name)
            MT.append(spark, MT.branchDir(tbl, name), batch(op))
            MT.mergeBranch(tbl, name)
            MT.dropBranch(tbl, name)
          case "restore" => MT.restore(tbl, versionAfter(op.get("target").asInt))
          case "compact" => MT.compact(spark, tbl, numFiles = op.get("files").asInt)
          case "read_agg" => read(MT.read(spark, tbl))
          case "point_lookup" => read(MT.readPointLookup(spark, tbl, "l_orderkey", keys(op)))
          case "read_version" =>
            read(MT.readVersion(spark, tbl, versionAfter(op.get("target").asInt)))
          case "read_changes" => read(MT.readChanges(spark, tbl, lastAppend._1, lastAppend._2))
          case "sql_select" =>
            read(spark.sql(s"SELECT * FROM $sqlTable " +
              s"WHERE l_orderkey BETWEEN ${op.get("lo").asLong} AND ${op.get("hi").asLong}"))
        }
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val c = clock.now
      if (b == a) b = c
      val v = MT.currentVersion(tbl)
      versionAfter(op.get("i").asInt) = v
      items += Map("i" -> op.get("i").asInt, "name" -> kind, "module" -> "sources",
        "class" -> op.get("class").asText, "round" -> op.get("round").asInt,
        "t0" -> a, "t1" -> b, "t2" -> c, "error" -> err, "digest" -> dig,
        "version" -> v) ++
        (if (traced) Map("storage_mb" -> PerfBench.storageUsedMb(spark)) else Map.empty)
      finalTax = op.get("tax_after").asText
      i += 1
      val roundEnds = i == ops.size || ops(i).get("round").asInt != op.get("round").asInt
      if (roundEnds) {
        passes += Map("t0" -> p0, "t1" -> c)
        p0 = clock.now
      }
      stop = roundEnds && clock.now - t0 >= seconds
    }
    Map("items" -> items.toSeq, "passes" -> passes.toSeq)
  }

  /** Untimed after the measured interval: the final snapshot's digest per
    * flag, the table's file-system footprint, and a compacted copy of the
    * live rows for the space ratio. */
  def finish(): Map[String, Any] = {
    val v = MT.currentVersion(tbl)
    val live = MT.read(spark, tbl)
    val groups = live.groupBy("l_returnflag", "l_linestatus")
      .agg(digestCols(finalTax).head, digestCols(finalTax).tail: _*).collect()
      .map(r => Seq(r.getString(0), r.getString(1)) ++ (2 until r.length).map(r.getLong))
      .toSeq
    val after = files(root)
    val copyDir = s"${plan.get("work").asText}/lake_compacted"
    live.coalesce(1).write.mode("overwrite").parquet(copyDir)
    val copyBytes = files(copyDir).collect { case (k, sz) if k.endsWith(".parquet") => sz }.sum
    val written = after.filter { case (k, sz) => before.get(k).forall(_ != sz) }
    def isManifest(k: String) = k.startsWith("li/manifest-") || k.startsWith("li/meta/")
    Map(
      "final_groups" -> groups,
      "version" -> v,
      "live_files" -> MT.listFiles(tbl, v).size,
      "table_bytes" -> after.values.sum,
      "written_bytes" -> written.values.sum,
      "manifest_bytes_written" -> written.filter(kv => isManifest(kv._1)).values.sum,
      "data_bytes_written" -> written.filter(_._1.startsWith("li/data/")).values.sum,
      "manifest_bytes_last" -> Files.size(Paths.get(tbl, f"manifest-v$v%08d.json")),
      "compacted_bytes" -> copyBytes)
  }
}

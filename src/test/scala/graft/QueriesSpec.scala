package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession, UTC, AQE on). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = LocalSession("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query runs on sf0.001 without error, scalar columns only") {
    spark.catalog.clearCache()
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      // the driver's comparator loads outputs into pandas and lexsorts every
      // column — array/struct/map columns throw there (round-2 q_doc_embed
      // failure), so no registered query may emit one
      val nonScalar = df.schema.fields.filter(f =>
        f.dataType.typeName match {
          case "array" | "struct" | "map" | "variant" => true
          case _ => false
        })
      assert(nonScalar.isEmpty,
        s"$name emits non-scalar columns: ${nonScalar.map(_.name).mkString(",")}")
      val n = df.count()
      assert(n >= 0, s"$name returned negative count")
      // every cache a query takes is released by the time its result is read
      assert(spark.sharedState.cacheManager.isEmpty, s"$name leaves cached data behind")
    }
    // no query adds to the session's functions: graft's come from the
    // extensions, so the shared session still lists what a new one does
    def functionNames(s: SparkSession) = s.sessionState.functionRegistry.listFunction().toSet
    val (shared, fresh) = (functionNames(spark), functionNames(spark.newSession()))
    assert((shared -- fresh, fresh -- shared) == (Set.empty, Set.empty),
      "(functions added, functions removed)")
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("events loading adapts to both fixture generations (nanos-long and timestamp)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // current-generation read (whatever is on disk)
    val now = Tables.events(spark, sf)
      .select($"event_id", unix_micros($"ts").as("us"))
      .orderBy($"event_id").limit(50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // synthesize the OLD generation: the same events with ts as raw
    // nanosecond longs, as rounds <=5 shipped them
    val tmp = java.nio.file.Files.createTempDirectory("graft_nsgen").toFile.getAbsolutePath
    Tables.events(spark, sf).limit(50)
      .select($"event_id", (unix_micros($"ts") * 1000L).as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val old = Tables.events(spark, tmp)
      .select($"event_id", unix_micros($"ts").as("us")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(old.nonEmpty && old.forall { case (id, us) => now(id) == us })
    // the streaming schema peek sees the long generation too
    assert(Tables.eventsRawSchema(spark, tmp)("ts").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("cleanTrips enforces the cleaning contract (P3/P4)") {
    val df = operators.Relational.cleanTrips(spark, sf)
    val bad = df.filter(
      col("pickup_ts").isNull || col("pickup_zone_id").isNull ||
        col("dropoff_zone_id").isNull ||
        col("trip_distance") <= 0 || col("total_amount") <= 0)
    assert(bad.count() == 0)
  }

  test("dedupAppend is idempotent (J1 MERGE semantics, readme.md:30)") {
    // appending the full staging batch over a 3/4 fact leaves exactly the
    // full batch: per-flag counts equal raw lineitem per-flag counts
    val appended = operators.Relational.dedupAppend(spark, sf)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val raw = Tables.lineitem(spark, sf).count()
    assert(appended == raw, s"appended=$appended raw=$raw")
  }

  test("asof join: matched error never later than the purchase") {
    val df = operators.TimeJoins.asofLastError(spark, sf)
    val bad = df.filter(col("last_error_ts") > col("purchase_ts"))
    assert(bad.count() == 0)
  }

  test("csv roundtrip preserves nation exactly (S2/S3)") {
    val rt = operators.Relational.csvRoundtrip(spark, sf)
      .orderBy("n_nationkey").collect().toSeq
    val orig = Tables.nation(spark, sf)
      .orderBy("n_nationkey").collect().toSeq
    assert(rt == orig)
  }

  test("quarantine read loses nothing: good + quarantined = every feed line") {
    val rows = operators.Relational.quarantineRead(spark, sf).collect()
      .map(r => r.getAs[Int]("n_regionkey") -> r.getAs[Long]("n_rows")).toMap
    val n = Tables.nation(spark, sf).count()
    val nBad = Tables.nation(spark, sf)
      .filter(col("n_nationkey") % 5 === 0).count()
    assert(rows.values.sum == n, s"rows lost: $rows vs $n feed lines")
    assert(rows(-1) == nBad, s"expected $nBad quarantined, got ${rows.get(-1)}")
    // malformed lines must be quarantined, never parsed as data
    assert(rows.filter(_._1 >= 0).values.sum == n - nBad)
  }
}

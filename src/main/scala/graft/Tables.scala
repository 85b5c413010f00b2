package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver fixture tables (`TESTDATA.md` / `FIXTURES.md` §B).
  *
  * Every loader is a plain parquet scan — Catalyst handles column pruning and
  * predicate pushdown into the scan, so callers just `select`/`filter` and the
  * physical plan reads only the row groups / columns it needs. At 100 TB these
  * paths would be partitioned directories instead of single files; nothing in
  * the call sites assumes a single file.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** `documents` spread across the session's shuffle width. The fixture
    * corpus arrives as ONE parquet split, so any expensive per-row text op
    * (shingling, minhashing, tokenizing — all interpreted higher-order
    * functions, not codegen) would run on a single task: measured 6.3 s
    * single-task vs <1 s spread, at sf0.1. The round-robin exchange moves
    * each document's raw text exactly once — strictly cheaper than the
    * per-row work it parallelizes. At production scale the scan has
    * thousands of splits and the same exchange is a balanced no-op (or is
    * dropped in favor of natural split parallelism). */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    documents(s, d).repartition(s.sessionState.conf.numShufflePartitions)
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fixture generations have shipped `events.ts` under two physical parquet
    * types: `timestamp[ns]` (which Spark's reader rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong=true`, surfacing nanosecond longs;
    * `LocalSession` sets it when it builds the session)
    * and plain `timestamp[us]` (surfacing as `TIMESTAMP_NTZ`). Normalize
    * either to session-zoned `TimestampType`: nanos floor-divide to micros —
    * the same truncation DuckDB applies in `CAST(ts_ns AS TIMESTAMP)` — and
    * NTZ casts 1:1 under the UTC session timezone every entry point sets, so
    * oracle comparisons line up exactly in both generations. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Physical schema of events.parquet as THIS session reads it (footer-only
    * peek) — streaming readers must declare the file's real schema, which
    * differs across fixture generations (see [[normalizeTs]]). */
  def eventsRawSchema(s: SparkSession, d: String): StructType =
    load(s, d, "events").schema

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StateRelease
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode, Trigger}
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable
import graft.streaming.StreamingOps.catchUp
import graft.streaming.TransformWithStateOps.{Ev, TotalsProcessor, UserTotal}

/** A catch-up's state stores leave the JVM when it ends, and what they held
  * is still in its checkpoint. Each shape runs twice over the sf0.001
  * events: once awaited by hand, whose providers must still be loaded (so
  * the bridge's provider ids are Spark's), and once through `catchUp`,
  * whose providers must all be gone. */
class StateReleaseSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A fresh root whose `in/` holds one copy of the events file. */
  private def freshRoot(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_release_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    Files.createDirectories(Paths.get(s"$d/in"))
    deliver(d, 0)
    d
  }

  /** Copy the events file into `root/in` once more (a new name and mtime,
    * so the file source takes it as new input). */
  private def deliver(root: String, n: Int): Unit =
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$root/in/part-$n.parquet"))

  private def events(root: String): DataFrame = Tables.normalizeTs(
    spark.readStream.schema(Tables.eventsRawSchema(spark, sf)).parquet(s"$root/in"))

  private def dedup(root: String): DataFrame = events(root).dropDuplicates("event_id")

  private def totals(root: String): DataFrame = events(root)
    .select($"user_id", ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    .as[Ev].groupByKey(_.user_id)
    .transformWithState(new TotalsProcessor,
      TimeMode.None(), OutputMode.Update(), Encoders.product[UserTotal])
    .toDF()

  private def join(root: String): DataFrame = {
    val ev = events(root)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"event_id".as("error_id"), $"ts".as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    purchases.join(errors,
      expr("p_user = e_user AND e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts <= p_ts"))
  }

  /** Start `df` from `root/ckpt`, appending each batch tagged with its id
    * to `root/out`. */
  private def start(df: DataFrame, root: String, mode: String): StreamingQuery =
    df.writeStream.outputMode(mode)
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("append").parquet(s"$root/out")
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()

  private def commits(root: String): Int =
    Option(new java.io.File(s"$root/ckpt/commits").list()).getOrElse(Array.empty[String])
      .count(_.forall(_.isDigit))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `build` awaited by hand and through `catchUp`; returns the ids the
    * hand-awaited run left loaded (released afterwards). */
  private def heldByPlainRun(tag: String, mode: String)(build: String => DataFrame) = {
    val (a, b) = (freshRoot(s"${tag}_plain"), freshRoot(s"${tag}_catchup"))
    try {
      val plain = start(build(a), a, mode)
      plain.awaitTermination()
      val held = StateRelease.loaded(plain)
      StateRelease(plain)
      val released = catchUp(start(build(b), b, mode))
      assert(held.nonEmpty, s"$tag: none of the ${StateRelease.providerIds(plain).size} " +
        "provider ids is loaded after a hand-awaited run; they are not Spark's ids")
      assert(StateRelease.providerIds(released).size == StateRelease.providerIds(plain).size)
      assert(StateRelease.loaded(released).isEmpty,
        s"$tag: catchUp left ${StateRelease.loaded(released).mkString(", ")} loaded")
      held
    } finally Seq(a, b).foreach(ManifestTable.destroy)
  }

  test("catchUp releases a stateful dedup's state stores; a plain await keeps them") {
    heldByPlainRun("dedup", "append")(dedup)
  }

  test("catchUp releases transformWithState's RocksDB state stores") {
    withConf("spark.sql.streaming.stateStore.providerClass" -> rocksDb) {
      heldByPlainRun("tws", "update")(totals)
    }
  }

  test("catchUp releases every store of a stream-stream join, subdirectories included") {
    val held = heldByPlainRun("join", "append")(join)
    assert(held.exists(_.storeId.storeName != "default"),
      s"no join store subdirectory among ${held.mkString(", ")}")
  }

  test("released state is committed state: a restart adds no batch, a redelivery reads it back") {
    val w = Window.partitionBy($"user_id").orderBy($"batch_id".desc)
    def lastTotals(root: String): Map[Long, (Long, Long)] =
      spark.read.parquet(s"$root/out").withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select($"user_id", $"n_events", $"cents")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    def ids(root: String) = spark.read.parquet(s"$root/out").select($"event_id")
    val (d, t) = (freshRoot("dedup_restart"), freshRoot("tws_restart"))
    try {
      val runDedup = () => catchUp(start(dedup(d), d, "append"))
      runDedup()
      val (nIds, dedupCommits) = (ids(d).count(), commits(d))
      assert(nIds > 0 && ids(d).distinct().count() == nIds)
      runDedup() // no new input
      assert(commits(d) == dedupCommits && ids(d).count() == nIds)
      deliver(d, 1) // every id again: only the released state can drop them
      runDedup()
      assert(commits(d) > dedupCommits, "the redelivery ran no batch")
      assert(ids(d).count() == nIds, "the restarted dedup forgot its state")

      withConf("spark.sql.streaming.stateStore.providerClass" -> rocksDb) {
        val runTotals = () => catchUp(start(totals(t), t, "update"))
        runTotals()
        val (first, totalsCommits) = (lastTotals(t), commits(t))
        runTotals() // no new input
        assert(commits(t) == totalsCommits && lastTotals(t) == first)
        deliver(t, 1) // the same events again: every total doubles on top of the state
        runTotals()
        assert(commits(t) > totalsCommits, "the redelivery ran no batch")
        assert(lastTotals(t) == first.map { case (u, (n, c)) => u -> (2 * n, 2 * c) })
      }
    } finally Seq(d, t).foreach(ManifestTable.destroy)
  }
}

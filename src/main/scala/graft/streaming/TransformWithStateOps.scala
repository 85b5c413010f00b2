package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.DecimalType

/** Spark 4 `transformWithState` — the successor to
  * `flatMapGroupsWithState` with named state variables, timers, and state
  * TTL. Here: per-user running totals kept in a `ValueState`, emitted in
  * Update mode every micro-batch.
  *
  * Scale posture: state is one fixed-size record per user in the executor
  * state stores (RocksDB in production); emissions per batch are only the
  * users that batch touched. The sink tags each micro-batch with its id and
  * the reader keeps each user's LAST emission — correct under any batch
  * chunking of the replay (AvailableNow may split the backlog), which the
  * single-emission designs that assume one batch are not.
  */
object TransformWithStateOps {

  /** Input after the decimal normalization: value in exact cents. */
  case class Ev(user_id: Long, cents: Long)
  /** Running per-user totals — the state record AND the emitted row. */
  case class UserTotal(user_id: Long, n_events: Long, cents: Long)

  /** Keyed processor: one ValueState[UserTotal] per user, updated per batch.
    * (TTL stays NONE: processing-time TTL is nondeterministic under replay —
    * a production deployment bounding state by inactivity would set it.) */
  class TotalsProcessor extends StatefulProcessor[Long, Ev, UserTotal] {
    @transient private var totals: ValueState[UserTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal](
        "totals", Encoders.product[UserTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[UserTotal] = {
      var cur =
        if (totals.exists()) totals.get() else UserTotal(key, 0L, 0L)
      rows.foreach { e =>
        cur = UserTotal(key, cur.n_events + 1, cur.cents + e.cents)
      }
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Per-user event counts + exact money totals via `transformWithState`,
    * replayed with AvailableNow and drained batch-tagged to parquet; the
    * batch groupBy is the oracle. Money moves as exact integer cents inside
    * the state (the proven DECIMAL(18,2) cast happens BEFORE the processor),
    * surfaced as DOUBLE dollars. */
  def userTotals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.readStream
      .schema(graft.Tables.eventsRawSchema(s, dir))
      .parquet(s"$dir/[e]vents.parquet")
      .select($"user_id",
        ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .as[Ev]
    val updates = raw.groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor,
        TimeMode.None(), OutputMode.Update(), Encoders.product[UserTotal])
      .toDF()

    val out = catchUpOnRocksDb(updates, "graft_tws", "update") { out =>
      (batch, id) => batch.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(out)
    }

    // last emission per user wins — batch-chunking-independent
    val w = Window.partitionBy($"user_id").orderBy($"batch_id".desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"n_events",
        ($"cents" / 100.0).as("sum_value"))
  }

  private val userTotalsSql =
    """SELECT user_id, count(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  // ---- streaming point-in-time feature join ----

  case class PitEv(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)
  /** Per-user feature state: the latest click/view values and the running
    * click count — O(1) per user regardless of history length. */
  case class PitState(click: Option[Double], view: Option[Double], nClicks: Long)
  case class PitOut(event_id: Long, user_id: Long, label_ts: java.sql.Timestamp,
      last_click_value: Option[Double], last_view_value: Option[Double],
      n_clicks_so_far: Long)

  /** The feature-store SERVING loop as a stateful stream: feature events
    * (clicks, views) update per-user `ValueState`; label events (purchases)
    * read it — each purchase enriched with the features AS OF its event
    * time, the online half of `TimeJoins.pitFeatures`. Within a micro-batch
    * each user's rows are sorted by (ts, features-before-labels, id) — the
    * same total order as the batch window — so the stream computes the
    * IDENTICAL point-in-time semantics; the batch PIT SQL is the oracle.
    * (Exactness across batch BOUNDARIES assumes event-time-ordered arrival
    * per key — true for a single-batch replay, and what a production
    * deployment's reordering buffer provides; the fixture drains in one
    * batch.) State is one fixed-size record per user; emissions are only
    * the purchases each batch contains. */
  class PitProcessor extends StatefulProcessor[Long, PitEv, PitOut] {
    @transient private var st: ValueState[PitState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PitState](
        "pit", Encoders.product[PitState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[PitEv],
        timers: TimerValues): Iterator[PitOut] = {
      var cur = if (st.exists()) st.get() else PitState(None, None, 0L)
      implicit val tsOrd: Ordering[java.sql.Timestamp] =
        Ordering.by(t => (t.getTime, t.getNanos))
      // per-user timelines are bounded (the sessionization argument): the
      // in-batch sort is over one user's rows, not the corpus
      val sorted = rows.toSeq.sortBy(e =>
        (e.ts, if (e.event_type == "purchase") 1 else 0, e.event_id))
      val out = Seq.newBuilder[PitOut]
      sorted.foreach { e =>
        e.event_type match {
          case "click" =>
            cur = PitState(Some(e.value), cur.view, cur.nClicks + 1)
          case "view" =>
            cur = PitState(cur.click, Some(e.value), cur.nClicks)
          case "purchase" =>
            out += PitOut(e.event_id, key, e.ts, cur.click, cur.view, cur.nClicks)
          case _ => ()
        }
      }
      st.update(cur)
      out.result().iterator
    }
  }

  /** Streaming PIT features; oracle = the batch `q_pit_features` SQL. */
  def streamPitFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runPit(s, graft.Tables.normalizeTs(s.readStream
      .schema(graft.Tables.eventsRawSchema(s, dir))
      .parquet(s"$dir/[e]vents.parquet")))
  }

  /** The PIT stream pipeline over an arbitrary streaming event source —
    * shared by the fixture-file query and the multi-batch manifest-source
    * spec (which proves state carries across micro-batch boundaries). */
  private[graft] def runPit(s: SparkSession, src: DataFrame): DataFrame = {
    import s.implicits._
    val raw = src
      .filter($"event_type".isin("purchase", "click", "view"))
      .select($"event_id", $"user_id", $"ts".cast("timestamp").as("ts"),
        $"event_type", $"value")
      .as[PitEv]
    val enriched = raw.groupByKey(_.user_id)
      .transformWithState(new PitProcessor,
        TimeMode.None(), OutputMode.Append(), Encoders.product[PitOut])
      .toDF()

    s.read.parquet(catchUpOnRocksDb(enriched, "graft_pit", "append") { out =>
      (batch, _) => batch.write.mode("append").parquet(out)
    })
  }

  /** Catch `df` up into a fresh scratch directory through `writeBatch(out)`
    * and return `out`. transformWithState needs per-family state layout, so
    * the stream starts on the RocksDB provider (the HDFS-backed default
    * rejects multiple column families; it is also the provider a production
    * deployment runs for state > heap) at 8 state partitions. No
    * coalesce(1) in a writer: it would run every state partition serially
    * inside one write task (see StreamingOps.runToParquet). */
  private def catchUpOnRocksDb(df: DataFrame, prefix: String, mode: String)(
      writeBatch: String => (DataFrame, Long) => Unit): String = {
    val s = df.sparkSession
    StreamingOps.sweepScratch(new java.io.File("/dev/shm/graft_stream"))
    val base = s"/dev/shm/graft_stream/${prefix}_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val out = base + "/out"
    val oldSp = s.conf.get("spark.sql.shuffle.partitions")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try StreamingOps.catchUp(df.writeStream.outputMode(mode)
      .foreachBatch(writeBatch(out))
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.AvailableNow()).start())
    finally {
      s.conf.set("spark.sql.shuffle.partitions", oldSp)
      oldProvider match {
        case Some(p) => s.conf.set(providerKey, p)
        case None => s.conf.unset(providerKey)
      }
    }
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_user_totals" -> ((s, d) => userTotals(s, d)),
    "q_stream_pit" -> ((s, d) => streamPitFeatures(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_stream_user_totals" -> userTotalsSql,
    // the stream must compute the batch PIT answer exactly
    "q_stream_pit" -> graft.operators.TimeJoins.pitFeaturesSql,
  )
}

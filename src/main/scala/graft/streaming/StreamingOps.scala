package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.8 / §7 Phase 4).
  *
  * The reference's streaming shape is a scheduled micro-batch append — one
  * weather observation per hourly cron firing
  * (`/root/reference/dags/weather_realtime_etl.py:29`, `readme.md:190`) with
  * no late data by construction. Here that becomes real Structured Streaming:
  * a file source replayed with `Trigger.AvailableNow` (the exact semantics of
  * a scheduled catch-up micro-batch), event-time tumbling/sliding windows,
  * `withWatermark` bounds, and streaming dedup. Batch-equivalent SQL provides
  * the oracle for every streaming query.
  *
  * Scale posture: windowed aggregation state is bounded by the watermark;
  * `AvailableNow` chunks the backlog instead of one giant batch; results are
  * drained through `foreachBatch` → parquet (a distributed write — nothing is
  * collected to the driver), exactly the sink shape a production deployment
  * would use with checkpointing.
  */
object StreamingOps {

  private val D2 = DecimalType(18, 2)

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // FileStreamSource requires a directory basePath; the fixture is a single
    // file, so address it as a glob — glob resolution uses the parent
    // directory as the base path. The declared schema is the file's own
    // (fixture generations differ — see Tables.normalizeTs).
    graft.Tables.normalizeTs(
      s.readStream.schema(graft.Tables.eventsRawSchema(s, dir))
        .parquet(s"$dir/[e]vents.parquet"))
  }

  /** Delete scratch dirs from finished runs (>1 h old) so repeated
    * Verify/Bench invocations don't slowly fill /dev/shm. */
  private[streaming] def sweepScratch(root: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - 3600 * 1000L
    val old = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.lastModified() < cutoff)
    old.foreach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      try rm(d) catch { case _: Throwable => () }
    }
  }

  /** Scale-adaptive state width for stateful streams whose per-partition
    * work is real (the interval joins): each extra shuffle partition is a
    * state-store instance to load, snapshot and commit EVERY micro-batch,
    * so width must follow the data, not the core count. Measured on the
    * fixture (2 MB feed): width 32 → jobSum ~10 s, width 8 → ~2.2 s,
    * width 4 → ~1.2 s, width 2 → ~2.3 s (per-partition fixed cost vs lost
    * parallelism; guide §2.2's fewer-larger-partitions, applied to state).
    * Floor 4 keeps the measured optimum at fixture scale; the bytes/64 MB
    * slope grows the width with the input; the session width (which the
    * driver derives from SPARK_GRAFT_CPUS) caps it at the machine. */
  private[graft] def adaptiveStateWidth(s: SparkSession, inputBytes: Long): Int = {
    val bySize = (inputBytes / (64L << 20)).toInt
    math.max(4, math.min(s.sessionState.conf.numShufflePartitions, bySize))
  }

  private def fileBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(_.length()).sum
    else f.length()
  }

  /** Run one `Trigger.AvailableNow` catch-up to its end: await the query
    * `start` returns, then release its state stores whether it ended or
    * failed ([[org.apache.spark.sql.graft.StateRelease]]). The stores stay
    * warm across the catch-up's batches and leave the heap when it ends;
    * the checkpoint keeps every committed version, so a restart from it
    * reloads the same state. Every streaming query in graft ends here. */
  private[graft] def catchUp(start: => StreamingQuery): StreamingQuery = {
    val q = start
    try q.awaitTermination()
    finally org.apache.spark.sql.graft.StateRelease(q)
    q
  }

  /** Drain a streaming query through `foreachBatch` to parquet and return a
    * reader over the result. Unlike a complete-mode memory sink (which pulls
    * every window into driver memory — a driver bottleneck at scale), the
    * micro-batch result is written as a distributed parquet job; state stays
    * in executor state stores.
    *
    * `mode` = "complete" (stateful aggs: overwrite per trigger, last trigger
    * wins) or "append" (joins: batches accumulate). Shuffle partitions are
    * dropped to 8 for the stream's lifetime: each shuffle partition is a
    * state-store instance to load+commit per micro-batch, and these results
    * are ≤ a few thousand rows — 32 instances is pure overhead.
    */
  private[graft] def runToParquet(s: SparkSession, df: DataFrame, prefix: String,
      mode: String = "complete", stateWidth: Int = 8): DataFrame = {
    sweepScratch(new java.io.File("/dev/shm/graft_stream"))
    val base = "/dev/shm/graft_stream/" + prefix + "_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val out = base + "/out"
    val saveMode = if (mode == "complete") "overwrite" else "append"
    // No coalesce(1) on the batch: foreachBatch hands a DataFrame whose RDD
    // IS the micro-batch plan, so a narrow coalesce(1) executes every state
    // store partition (load + join/agg + commit) serially inside ONE write
    // task — measured as a 1-task, ~1.4 s job per micro-batch on the join
    // queries (guide §2.6: stragglers from artificial 1-task stages). The
    // per-partition write keeps the stateful work parallel; the handful of
    // small result files per trigger is what any partitioned sink produces.
    val writeBatch: (DataFrame, Long) => Unit =
      (batch, _) => batch.write.mode(saveMode).parquet(out)
    // State width: stateful operators pin their shuffle partitioning at
    // stream start. Most streaming queries here hold trivial per-partition
    // state, so a narrow default keeps the per-micro-batch state-store
    // commit overhead low; queries with REAL per-partition state work (the
    // stream-stream interval joins) pass [[adaptiveStateWidth]] so the
    // width follows the input size up to the machine width.
    val oldSp = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", stateWidth.toString)
    try catchUp(df.writeStream.outputMode(mode)
      .foreachBatch(writeBatch)
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.AvailableNow()).start())
    finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
    s.read.parquet(out)
  }

  /** Tumbling 1-hour event-time windows with a 2-hour watermark — the
    * streaming twin of `TimeJoins.demandByHour`; the batch query is its
    * oracle. */
  def hourlyWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value".cast(D2)).cast("double").as("sum_value"))
      .select($"window.start".as("hour_ts"), $"event_type", $"n", $"sum_value")
    runToParquet(s, agg, "graft_hourly")
  }

  /** Sliding windows: 2-hour length, 1-hour slide — each event lands in two
    * windows; the oracle reproduces that with a 2-way UNION ALL of shifted
    * hour buckets. */
  def slidingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"), sum($"value".cast(D2)).cast("double").as("sum_value"))
      .select($"window.start".as("win_start"), $"n", $"sum_value")
    runToParquet(s, agg, "graft_sliding")
  }

  /** Streaming dedup on event_id within the watermark, then a global count —
    * the reference's idempotent-append guarantee, streamed. The event-time
    * column is part of the dedup key so the watermark actually evicts state
    * (keys older than the watermark are dropped); with `event_id` alone the
    * state would grow O(distinct ids) forever. A duplicate re-sent with a
    * different ts would survive — acceptable for at-least-once replays, where
    * duplicates carry the original event time. */
  def streamingDedupCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id", "ts")
      .groupBy().agg(count(lit(1)).as("n_events"))
    runToParquet(s, agg, "graft_dedup")
  }

  /** TTL dedup on the BARE id — `dropDuplicatesWithinWatermark`: the
    * at-least-once delivery case [[streamingDedupCount]] can't express,
    * where a redelivered record arrives with a DIFFERENT event time (so
    * keying on (id, ts) would double count) and the id must be deduped by
    * itself. Keying on id alone with plain `dropDuplicates` keeps state
    * forever; the within-watermark variant evicts each key once the
    * watermark passes it — bounded state under the at-least-once
    * assumption that redeliveries arrive within the delay. The query
    * simulates redelivery by unioning the stream with a 10-minute-shifted
    * copy of every 10th event: the shifted copies MUST be dropped, so the
    * count equals the distinct ids — which is the oracle. */
  def streamDedupTtl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val redelivered = eventsStream(s, dir)
      .filter($"event_id" % 10 === 0)
      .withColumn("ts", $"ts" + expr("INTERVAL 10 MINUTES"))
    val agg = eventsStream(s, dir).unionByName(redelivered)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy().agg(count(lit(1)).as("n_events"))
    runToParquet(s, agg, "graft_dedup_ttl")
  }

  /** Stream-static join: the streaming feed enriched against a small static
    * dimension (broadcast — no stream state), then windowed. The canonical
    * "stream joins a warehouse dim table" shape. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq(
      ("click", "interaction"), ("view", "interaction"),
      ("purchase", "commerce"), ("signup", "commerce"),
      ("error", "ops")).toDF("event_type", "category")
    val agg = eventsStream(s, dir)
      .join(broadcast(dim), "event_type")
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"), $"category")
      .agg(count(lit(1)).as("n"), sum($"value".cast(D2)).cast("double").as("sum_value"))
      .select($"window.start".as("hour_ts"), $"category", $"n", $"sum_value")
    runToParquet(s, agg, "graft_stream_static")
  }

  /** Stream-stream interval self-join: each purchase matched to the same
    * user's errors in the preceding hour. Watermarks on both sides bound the
    * join state; append mode emits once the watermark passes. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one shared source DF for both sides of the self-join: Spark plans a
    // single FileStreamSource scanned once per micro-batch, instead of two
    // sources each listing and reading the input independently
    val ev = eventsStream(s, dir)
    val purchases = ev
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val errors = ev
      .filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"event_id".as("error_id"), $"ts".as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    val joined = purchases.join(errors,
      expr("""p_user = e_user AND
              e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts <= p_ts"""))
      .select($"p_user".as("user_id"), $"purchase_id", $"error_id")
    runToParquet(s, joined, "graft_ss_join", mode = "append",
      stateWidth = adaptiveStateWidth(s, fileBytes(s"$dir/events.parquet")))
  }

  /** Stream-stream LEFT OUTER interval join: every purchase row is emitted,
    * with the matching error when one exists in the preceding hour and NULL
    * otherwise — "which purchases had NO preceding incident" is the outer
    * half the inner join can't answer.
    *
    * Outer results only materialize once the watermark proves no future
    * match can arrive, so the source is staged with one far-future sentinel
    * event PER JOIN SIDE (the production analog: a heartbeat/punctuation
    * event that closes out the tail of a bounded replay). Each sentinel must
    * survive its side's event-type filter — watermarks are tracked from the
    * rows that actually reach the `withWatermark` operator, so a sentinel
    * filtered out beforehand advances nothing and the tail's outer rows stay
    * stuck in state. The sentinels carry distinct negative user_ids so they
    * can never match each other; being each side's max event time they are
    * themselves never evicted, hence never emitted. Spark's trailing no-data
    * micro-batch then flushes the remaining state, making the result exactly
    * equal to the batch LEFT JOIN oracle. Watermarks bound the join state on
    * both sides. */
  def streamLeftOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sweepScratch(new java.io.File("/dev/shm/graft_stream"))
    val base = "/dev/shm/graft_stream/louter_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val staged = base + "/in"
    val ev = graft.Tables.events(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    val sentinels = ev.agg(max($"ts").as("m")).select(
      explode(array(
        struct(lit(-1L).as("event_id"), ($"m" + expr("INTERVAL 10 HOURS")).as("ts"),
          lit(-1L).as("user_id"), lit("purchase").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props")),
        struct(lit(-2L).as("event_id"), ($"m" + expr("INTERVAL 10 HOURS")).as("ts"),
          lit(-2L).as("user_id"), lit("error").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props")))).as("s"))
      .select($"s.*")
    ev.unionByName(sentinels).write.parquet(staged)
    val stagedSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stream = s.readStream.schema(stagedSchema).parquet(staged)
    val purchases = stream.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val errors = stream.filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"event_id".as("error_id"), $"ts".as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    val joined = purchases.join(errors,
      expr("""p_user = e_user AND
              e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts <= p_ts"""),
      "left_outer")
      // Drop the sentinels defensively (never evicted → never emitted, but
      // the output contract should not depend on that implementation detail).
      // The guard must reference BOTH join sides: a left-only predicate
      // (`purchase_id >= 0`) would be pushed below the left side's
      // EventTimeWatermark into the scan, silently killing the purchase
      // sentinel — the watermark then stalls 2 h early and the tail's outer
      // rows never emit. The OR keeps null-extended rows, so the optimizer
      // can neither push it down nor convert the join to inner.
      .filter($"purchase_id" >= 0 || $"error_id".isNotNull)
      .select($"p_user".as("user_id"), $"purchase_id", $"error_id")
    runToParquet(s, joined, "graft_lo_join", mode = "append",
      stateWidth = adaptiveStateWidth(s, fileBytes(staged)))
  }

  /** Streaming MERGE (idempotent dedup-append): every micro-batch anti-joins
    * its rows against the target's accumulated keys and appends only the
    * fresh ones — the reference's `MERGE WHEN NOT MATCHED THEN INSERT`
    * (`/root/reference/dags/etl_spark_historical.py:302-333`) in its
    * production streaming shape. The entire stream is replayed a SECOND time
    * into the same target (fresh checkpoint, same data): an idempotent merge
    * must add zero rows, which the oracle verifies by matching the plain
    * batch aggregate. At scale the anti-join's build side is the target's
    * key column only, and a real deployment would swap the parquet target
    * for a transactional table format. */
  def streamingMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = "/dev/shm/graft_stream/merge_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val target = base + "/target"
    val mergeBatch: (DataFrame, Long) => Unit = (batch, _) => {
      val fresh =
        if (new java.io.File(target).exists()) {
          val existingIds = batch.sparkSession.read.parquet(target).select("event_id")
          batch.join(existingIds, Seq("event_id"), "left_anti")
        } else batch
      fresh.write.mode("append").parquet(target)
    }
    def replay(tag: String): Unit = {
      catchUp(eventsStream(s, dir).writeStream.outputMode("append")
        .foreachBatch(mergeBatch)
        .option("checkpointLocation", s"$base/ckpt_$tag")
        .trigger(Trigger.AvailableNow()).start())
    }
    replay("first")
    replay("second") // same data, new checkpoint: must merge to a no-op
    s.read.parquet(target)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** Exactly-once streaming sink: the streaming MERGE of `streamingMerge`,
    * upgraded from a bare parquet directory to the snapshot-isolated
    * manifest table — the "swap the target for a transactional format"
    * step that method's scale note calls for. Each micro-batch becomes ONE
    * atomic `ManifestTable.merge` commit: staged files are invisible until
    * the CAS publishes the manifest, so a crash mid-batch (after staging,
    * before commit) leaves readers on the previous snapshot and the
    * re-delivered batch anti-joins back to exactly its missing rows —
    * at-least-once delivery × idempotent-atomic commit = exactly-once
    * table state, the Delta/Iceberg streaming-sink contract. The whole
    * stream is then REPLAYED from a fresh checkpoint: every replayed commit
    * must be a no-op, which the oracle verifies by matching the one-pass
    * batch aggregate. */
  def streamManifestSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = "/dev/shm/graft_stream/manifest_sink_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    graft.sources.ManifestTable.destroy(tbl)
    val sink: (DataFrame, Long) => Unit = (batch, _) =>
      graft.sources.ManifestTable.merge(
        batch.sparkSession, tbl, batch, Seq("event_id"))
    def replay(tag: String): Unit = {
      catchUp(eventsStream(s, dir).writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", s"$tbl-ckpt-$tag")
        .trigger(Trigger.AvailableNow()).start())
    }
    replay("first")
    replay("second") // re-delivery of everything: all commits must no-op
    graft.sources.ManifestTable.read(s, tbl)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** `writeStream.toTable` into the SQL catalog — the named-table
    * streaming sink: each epoch's tasks stage orphan parquet through the
    * distributed V2 writer and the epoch commit publishes data files plus
    * an `#epoch` high-water marker in ONE CAS, making the sink
    * exactly-once BY LAYOUT (a replayed epoch compares against the marker
    * and no-ops; sink state and data share one atomic commit and cannot
    * diverge — the foreachBatch chaos spec's guarantee, now for a table
    * addressed by name). A same-checkpoint restart appends nothing; the
    * oracle is the batch aggregate over events — streaming into the
    * catalog must not change the answer. */
  def streamTableSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // STABLE root per process: Spark caches catalog instances per NAME
    // with the root captured at initialize() — a fresh random root per
    // invocation would leave the cached `graft_st` catalog streaming into
    // the FIRST root while ManifestTable.read targets the new one (any
    // re-run in one JVM fails or double-appends). PID keying keeps
    // concurrent processes apart; destroying table + checkpoint per run
    // keeps repeated in-session runs independent.
    val root = "/dev/shm/graft_stream/table_sink_" +
      java.lang.ProcessHandle.current().pid()
    val tbl = s"$root/sink"
    graft.sources.ManifestTable.destroy(tbl)
    graft.sources.ManifestTable.destroy(s"$root-ckpt")
    s.conf.set("spark.sql.catalog.graft_st",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_st.root", root)
    def run(): Unit = {
      catchUp(eventsStream(s, dir).writeStream.outputMode("append")
        .option("checkpointLocation", s"$root-ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable("graft_st.default.sink"))
    }
    run()
    run() // same-checkpoint restart: offsets recorded, nothing re-appends
    graft.sources.ManifestTable.read(s, tbl)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** The manifest table as a native streaming SOURCE
    * (`sources.ManifestStreamSource`): offsets ARE manifest versions, each
    * micro-batch reads exactly the files new in its version range through a
    * real parquet-mr reader with column pruning pushed into the page
    * decoder, and `versionsPerBatch=1` makes the three commits drain as
    * three admission-controlled micro-batches under `Trigger.AvailableNow`.
    * Exactly-once falls out of the layout: version offsets checkpoint, and
    * an append-only manifest resolves any version range to the same
    * immutable files forever (spec-verified: a resumed query re-reads
    * nothing). The oracle is the one-pass batch aggregate — consuming the
    * commit log as a stream must not change the answer. */
  def streamManifestSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = "/dev/shm/graft_stream/manifest_src_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    graft.sources.ManifestTable.destroy(tbl)
    val ev = graft.Tables.events(s, dir)
    // three committed batches = the stream's backlog; disjoint %3 slices
    // stage concurrently and commit in order — identical manifests, no
    // merge anti-join (guide §1.2/§2.6/§8)
    graft.sources.ManifestTable.appendAll(s, tbl,
      (0 to 2).map(m => ev.filter($"event_id" % 3 === m)))
    val stream = s.readStream.format("graft.sources.ManifestStreamSource")
      .option("path", tbl).option("versionsPerBatch", "1").load()
    runToParquet(s,
      stream.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value")),
      "manifest_src")
  }

  /** The medallion loop end-to-end: a BRONZE manifest table's commit log is
    * consumed by the version-offset streaming source, a cleaning transform
    * runs per micro-batch, and the result lands in a SILVER manifest table
    * through the exactly-once merge sink — the bronze→silver hop every
    * lakehouse runs, here closed inside the engine: both ends are ACID
    * manifest commits, offsets checkpoint as versions, and a full replay
    * from a fresh checkpoint must commit only no-ops on the silver side
    * (the oracle is the batch restatement of the transform). The transform
    * projects 3 of 6 columns, so the pruned parquet-mr read is exercised on
    * the real pipeline, not just the spec. */
  def streamMedallion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = "/dev/shm/graft_stream/medallion_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val bronze = base + "/bronze"; val silver = base + "/silver"
    graft.sources.ManifestTable.destroy(bronze)
    graft.sources.ManifestTable.destroy(silver)
    val ev = graft.Tables.events(s, dir)
    // the raw feed arrives as three bronze commits; disjoint %3 slices
    // stage concurrently, commit in order (no anti-join) — the exactly-once
    // MERGE under test is the SILVER side below
    graft.sources.ManifestTable.appendAll(s, bronze,
      (0 to 2).map(m => ev.filter($"event_id" % 3 === m)))
    val toSilver: (DataFrame, Long) => Unit = (batch, _) =>
      graft.sources.ManifestTable.merge(
        batch.sparkSession, silver, batch, Seq("event_id"))
    def replay(tag: String): Unit = {
      val cleaned = s.readStream.format("graft.sources.ManifestStreamSource")
        .option("path", bronze).option("versionsPerBatch", "1").load()
        .filter(col("event_type") =!= "error") // the cleaning contract
        .select($"event_id", $"event_type", $"value")
      catchUp(cleaned.writeStream.outputMode("append")
        .foreachBatch(toSilver)
        .option("checkpointLocation", s"$base/ckpt_$tag")
        .trigger(Trigger.AvailableNow()).start())
    }
    replay("first")
    replay("second") // full re-read of the bronze log: silver must not change
    graft.sources.ManifestTable.read(s, silver)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** Streaming malformed-record quarantine — the stream twin of
    * `Relational.quarantineRead`, same oracle: an external feed arrives as a
    * file stream with broken lines mixed in, and each micro-batch routes
    * parse failures to the quarantine bucket (region -1) instead of killing
    * the query (FAILFAST would fail the STREAM, taking every later batch
    * with it — much worse than one bad batch in a batch job). The
    * classification is row-local; only the per-bucket counts are stateful
    * (complete-mode agg over ≤ regions+1 keys). */
  def streamQuarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feed = graft.operators.Relational.writeQuarantineFeed(s, dir)
    val agg = s.readStream
      .schema(graft.operators.Relational.quarantineSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", "1")
      .json(feed)
      .groupBy(when($"_corrupt_record".isNotNull, lit(-1))
        .otherwise($"n_regionkey".cast("int")).as("n_regionkey"))
      .agg(count(lit(1)).as("n_rows"))
    runToParquet(s, agg, "graft_quarantine")
  }

  /** Streaming cardinality sketch: per-hour DISTINCT-user counts from an
    * unbounded feed via `approx_count_distinct` (HLL++) in the windowed
    * aggregation — the only way distinct counting scales on a stream (exact
    * per-key distinct state grows with the key×user product; the HLL
    * register array is fixed-size per window and merges across partitions
    * and micro-batches). The drained estimates are then audited batch-side
    * against the EXACT per-hour distinct counts — same compose-batch-
    * around-the-drained-stream pattern as `q_stream_ingest_report` — and
    * the query emits (hour, exact, within-5% flag). HLL is
    * hash-deterministic, so the flag is stable across runs/partitionings
    * and a drifting sketch breaks the oracle hash (the `q_approx_distinct`
    * contract, streamed). */
  def streamApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"))
      .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .select($"window.start".as("hour_ts"), $"approx_users")
    val est = runToParquet(s, agg, "graft_approx_distinct")
    val exact = graft.Tables.events(s, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour_ts"))
      .agg(countDistinct($"user_id").as("exact_users"))
    // relative 5% bound PLUS an absolute slack of 2: per-hour cardinalities
    // here are tens, where the HLL++ sparse estimator's ±1-2 jitter exceeds
    // 5% of the exact count — the standard small-count allowance (the pure
    // 5% contract of q_approx_distinct holds at its thousands-scale groups)
    exact.join(est, Seq("hour_ts"), "left")
      .select($"hour_ts", $"exact_users",
        (abs($"approx_users" - $"exact_users") <=
          greatest(lit(2.0), lit(0.05) * $"exact_users")).as("hll_ok"))
  }

  /** Streaming drift monitor — the PSI/KS check run ON the live stream:
    * the current-side bin counts are a complete-mode stateful streaming
    * aggregation (state = ≤nBins counters, the smallest possible stateful
    * footprint — no watermark needed because the state never grows past the
    * bin count), drained micro-batch by micro-batch; the reference
    * distribution is batch (the frozen training window); the PSI/KS/verdict
    * composition is the SAME code as the batch monitor
    * (`AnalyticsOps.psiFromBins`), so the two monitors cannot disagree on
    * the formula. Oracle = the batch q_psi_drift SQL: streaming the current
    * slice must not change the drift answer. */
  def streamPsiDrift(s: SparkSession, dir: String, nBins: Int = 10,
      binWidth: Double = 10.0): DataFrame = {
    import s.implicits._
    val curAgg = eventsStream(s, dir)
      .filter(hour($"ts") >= 12)
      .select(least(floor($"value" / binWidth), lit(nBins - 1)).cast("int").as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n_cur"))
    val cur = runToParquet(s, curAgg, "graft_psi")
    val ref = graft.Tables.events(s, dir).filter(hour($"ts") < 12)
      .select(least(floor($"value" / binWidth), lit(nBins - 1)).cast("int").as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n_ref"))
    val binned = ref.join(cur, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    graft.operators.AnalyticsOps.psiFromBins(s, binned, nBins)
  }

  /** The change data feed consumed as a STREAM — `readStream.table` over
    * `t$changes` ([[graft.sources.ChangesMicroBatchStream]]): offsets are
    * manifest versions, each micro-batch emits one commit's file-level
    * diff rows (`versionsPerBatch = 1`), and — unlike the append-only
    * manifest stream, which refuses mutation commits — the feed follows
    * the table THROUGH the `INSERT OVERWRITE` by streaming the replaced
    * files as deletes and the replacement as inserts. The history is the
    * exact `q_sql_changes` history and shares its oracle: tailing the
    * feed must reconstruct precisely what batch-reading it does. */
  def streamChangesFeed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = "/dev/shm/graft_stream/changes_feed_" +
      java.lang.ProcessHandle.current().pid()
    graft.sources.ManifestTable.destroy(s"$root/ord")
    s.conf.set("spark.sql.catalog.graft_cs",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_cs.root", root)
    s.sql("""CREATE TABLE graft_cs.default.ord
      (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)""")
    graft.Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
      .createOrReplaceTempView("r11_schg_src")
    s.sql("""INSERT INTO graft_cs.default.ord
      SELECT * FROM r11_schg_src WHERE o_orderkey % 2 = 0""")
    s.sql("""INSERT INTO graft_cs.default.ord
      SELECT * FROM r11_schg_src WHERE o_orderkey % 2 = 1""")
    s.sql("""INSERT OVERWRITE graft_cs.default.ord
      SELECT * FROM r11_schg_src WHERE yr <> 1997""")
    val feed = s.readStream.option("versionsPerBatch", "1")
      .table("graft_cs.default.`ord$changes`")
    runToParquet(s,
      feed.groupBy($"_change_type", $"_commit_version", $"yr")
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast(DecimalType(18, 2)))
            .cast("double").as("sum_price")),
      "changes_feed")
  }

  /** STREAMING MERGE-ON-READ UPSERT (round 16): late-arriving CORRECTIONS
    * update the table IN PLACE — the step past [[streamManifestSink]]'s
    * anti-join-append, which can only ignore redelivered keys, never amend
    * them. Each micro-batch flows through `ManifestTable.upsertMOR`
    * (delete+insert in ONE `#mutate` CAS: deletion vectors doom the old key
    * versions, the batch inserts as new files — nothing existing is
    * rewritten) with the batch's epoch riding the SAME commit as an
    * `#epoch` high-water marker, so a replayed epoch no-ops BEFORE staging
    * a byte: sink state and data share one atomic commit and cannot
    * diverge. The stream then REPLAYS from a fresh checkpoint and every
    * commit must no-op — the oracle is the batch restatement of
    * "seed, then corrected clicks replace their seed versions".
    *
    * 100 TB shape: per batch, cost ∝ batch size (stats-pruned DV targets,
    * no table rewrite); the replay guard is one metadata lookup. */
  def streamMorUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = "/dev/shm/graft_stream/mor_upsert_" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    graft.sources.ManifestTable.destroy(tbl)
    // seed generation: every event as ingested (bootstraps the table)
    graft.sources.ManifestTable.merge(s, tbl,
      graft.Tables.events(s, dir).drop("props"), Seq("event_id"))
    // the correction stream: click rows arrive again with amended values
    // and must REPLACE their seed versions by key
    val corrections = eventsStream(s, dir).drop("props")
      .filter($"event_type" === "click")
      .withColumn("value", $"value" + 1000.0)
    val sink: (DataFrame, Long) => Unit = (batch, epochId) => {
      graft.sources.ManifestTable.upsertMOR(
        batch.sparkSession, tbl, batch, "event_id",
        epoch = Some(("q_stream_mor_upsert", epochId)))
      ()
    }
    def run(tag: String): Unit = {
      catchUp(corrections.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", s"$tbl-ckpt-$tag")
        .trigger(Trigger.AvailableNow()).start())
    }
    run("first")
    run("second") // full redelivery under a fresh checkpoint: epochs no-op
    graft.sources.ManifestTable.read(s, tbl)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(D2)).cast("double").as("sum_value"))
  }

  /** DECLARATIVE STREAMING MOR UPSERT (round 17): [[streamMorUpsert]]'s
    * exactly-once in-place corrections with ZERO sink code — the table
    * declares `graft.write.mode = upsert` + `graft.write.key` (and here
    * `graft.write.id`, pinning the feed's logical identity across
    * checkpoints), and a plain `writeStream.toTable` does the rest: each
    * epoch flows through upsertMOR with its `#epoch` high-water riding
    * the same mutate CAS. The query replays the whole feed from a FRESH
    * checkpoint and then REQUIRES the table version unmoved — no
    * replayed epoch re-applied (the hash alone could not prove that:
    * re-applying these corrections is value-idempotent). Replay still
    * pays the raw task-file write per epoch — the declarative sink's
    * executors stage before the driver commit can consult the
    * high-water — but never a commit, a marker, or a double apply.
    * Oracle = the q_stream_mor_upsert batch restatement. */
  def streamTableUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    // stable root per process: catalog instances cache their root by
    // NAME (see streamTableSink's note)
    val root = "/dev/shm/graft_stream/table_upsert_" +
      java.lang.ProcessHandle.current().pid()
    val tbl = s"$root/sink"
    ManifestTable.destroy(tbl)
    ManifestTable.destroy(s"$root-ckpt-first")
    ManifestTable.destroy(s"$root-ckpt-second")
    s.conf.set("spark.sql.catalog.graft_stu",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_stu.root", root)
    // seed generation + the upsert declaration — the table properties
    // ARE the wiring; the stream below is an ordinary toTable
    ManifestTable.merge(s, tbl,
      graft.Tables.events(s, dir).drop("props"), Seq("event_id"))
    ManifestTable.alterAtomic(tbl, Seq(
      ManifestTable.AlterOp.SetProp("graft.write.mode", "upsert"),
      ManifestTable.AlterOp.SetProp("graft.write.key", "event_id"),
      ManifestTable.AlterOp.SetProp("graft.write.id", "corrections-feed")))
    val corrections = eventsStream(s, dir).drop("props")
      .filter($"event_type" === "click")
      .withColumn("value", $"value" + 1000.0)
    def run(tag: String): Unit = {
      catchUp(corrections.writeStream.outputMode("append")
        .option("checkpointLocation", s"$root-ckpt-$tag")
        .trigger(Trigger.AvailableNow())
        .toTable("graft_stu.default.sink"))
    }
    run("first")
    val vFirst = ManifestTable.currentVersion(tbl)
    run("second") // FRESH checkpoint: every epoch must no-op on #epoch
    require(ManifestTable.currentVersion(tbl) == vFirst,
      "fresh-checkpoint replay must no-op against the pinned sink id — " +
        "the table version moved")
    ManifestTable.read(s, tbl)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(D2)).cast("double").as("sum_value"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_mor_upsert" -> ((s, d) => streamMorUpsert(s, d)),
    "q_stream_table_upsert" -> ((s, d) => streamTableUpsert(s, d)),
    "q_stream_changes" -> ((s, d) => streamChangesFeed(s, d)),
    "q_stream_psi" -> ((s, d) => streamPsiDrift(s, d)),
    "q_stream_approx_distinct" -> ((s, d) => streamApproxDistinct(s, d)),
    "q_stream_merge" -> ((s, d) => streamingMerge(s, d)),
    "q_stream_manifest_sink" -> ((s, d) => streamManifestSink(s, d)),
    "q_stream_table_sink" -> ((s, d) => streamTableSink(s, d)),
    "q_stream_manifest_source" -> ((s, d) => streamManifestSource(s, d)),
    "q_stream_medallion" -> ((s, d) => streamMedallion(s, d)),
    "q_stream_quarantine" -> ((s, d) => streamQuarantine(s, d)),
    "q_stream_hourly" -> ((s, d) => hourlyWindow(s, d)),
    "q_stream_sliding" -> ((s, d) => slidingWindow(s, d)),
    "q_stream_dedup" -> ((s, d) => streamingDedupCount(s, d)),
    "q_stream_dedup_ttl" -> ((s, d) => streamDedupTtl(s, d)),
    "q_stream_static_join" -> ((s, d) => streamStaticJoin(s, d)),
    "q_stream_stream_join" -> ((s, d) => streamStreamJoin(s, d)),
    "q_stream_left_outer" -> ((s, d) => streamLeftOuterJoin(s, d)),
  )

  val oracle: Map[String, String] = Map(
    // streaming the change feed must reconstruct exactly what batch-
    // reading t$changes does — the q_sql_changes history, re-derived
    "q_stream_changes" ->
      """WITH src AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
        |                    o_totalprice FROM orders)
        |SELECT 'insert' AS _change_type, 1 AS _commit_version, yr, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM src WHERE o_orderkey % 2 = 0 GROUP BY yr
        |UNION ALL
        |SELECT 'insert', 2, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE o_orderkey % 2 = 1 GROUP BY yr
        |UNION ALL
        |SELECT 'delete', 3, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src GROUP BY yr
        |UNION ALL
        |SELECT 'insert', 3, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE yr <> 1997 GROUP BY yr""".stripMargin,
    // streaming the current slice must not change the drift answer: the
    // oracle IS the batch q_psi_drift SQL, shared so they cannot diverge
    "q_stream_psi" -> graft.operators.AnalyticsOps.psiDriftSql,
    // redelivered ids (different event time) must dedupe to distinct ids
    "q_stream_dedup_ttl" ->
      "SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_events FROM events",
    // exact per-hour distincts + the TRUE flags: a lost micro-batch, a
    // broken sketch merge, or estimate drift flips a flag and the hash
    "q_stream_approx_distinct" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS hll_ok
        |FROM events GROUP BY 1""".stripMargin,
    // stream must not change the answer: same oracle as the batch quarantine
    "q_stream_quarantine" ->
      """SELECT CAST(n_regionkey AS INT) AS n_regionkey, count(*) AS n_rows
        |FROM nation WHERE n_nationkey % 5 <> 0 GROUP BY 1
        |UNION ALL
        |SELECT -1, count(*) FROM nation WHERE n_nationkey % 5 = 0""".stripMargin,
    // double replay must be a no-op: the target equals one clean pass
    "q_stream_merge" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    // in-place corrections: clicks carry their amended value exactly once
    // (upsert replaced the seed versions; the fresh-checkpoint replay
    // no-opped against the #epoch high-water), everything else is the seed
    "q_stream_mor_upsert" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(CASE WHEN event_type = 'click'
        |                          THEN value + 1000.0 ELSE value END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    // the declarative sink lands the same exactly-once corrections; the
    // fresh-checkpoint no-op is require()d inside the query (the hash
    // alone is value-idempotent to a re-application)
    "q_stream_table_upsert" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(CASE WHEN event_type = 'click'
        |                          THEN value + 1000.0 ELSE value END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    // the transactional sink must not change the answer either: full replay
    // into the manifest table lands exactly one copy of every event
    "q_stream_manifest_sink" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    // writeStream.toTable through the catalog: same contract by name
    "q_stream_table_sink" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    // and neither must consuming the commit log as a stream: the version-
    // offset source over three commits equals the one-pass batch aggregate
    "q_stream_manifest_source" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    // bronze→silver through stream + ACID sink + full replay = the batch
    // restatement of the cleaning transform
    "q_stream_medallion" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type <> 'error' GROUP BY event_type""".stripMargin,
    "q_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
        |       count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_stream_sliding" ->
      """WITH w AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, value FROM events
        |  UNION ALL
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR, value FROM events)
        |SELECT win_start, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1""".stripMargin,
    "q_stream_dedup" ->
      "SELECT count(DISTINCT event_id) AS n_events FROM events",
    "q_stream_static_join" ->
      """WITH dim(event_type, category) AS (VALUES
        |  ('click','interaction'), ('view','interaction'),
        |  ('purchase','commerce'), ('signup','commerce'), ('error','ops'))
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, category,
        |       count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN dim USING (event_type)
        |GROUP BY 1, 2""".stripMargin,
    "q_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts <= p.ts""".stripMargin,
    "q_stream_left_outer" ->
      """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
        |FROM events p LEFT JOIN events e
        |  ON p.user_id = e.user_id AND e.event_type = 'error'
        | AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts <= p.ts
        |WHERE p.event_type = 'purchase'""".stripMargin,
  )
}

package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The JVM side of the benchmark. It runs one workload in one closed loop
  * (one driver thread; each query or operation starts after the previous
  * one finished), timing its own calls into graft's public entry points,
  * and writes everything it measured as one JSON document. The Python
  * runner generates the plan (member order, lakehouse operations) from the
  * seed, checks the answers and computes the metrics.
  *
  * Usage: PerfBench <plan.json> <out.json>
  *        PerfBench --oracle <out.json>   (dumps SparkEntry.oracleSql)
  *        PerfBench --train <plan.json>   (loads the classes of set-up: the
  *                                         runner archives them for class
  *                                         data sharing)
  */
object PerfBench {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Nanosecond clock anchored to wall-clock milliseconds, so harness
    * spans and Spark's millisecond event stamps share one time line
    * (seconds since the anchor). */
  final class Clock {
    private val nano0 = System.nanoTime()
    val epochMs0: Long = System.currentTimeMillis()
    def now: Double = (System.nanoTime() - nano0) / 1e9
  }

  /** Peak heap occupancy right after a collection, over the measured
    * interval, from the collectors' notifications. It depends on when the
    * collector happens to run, so it is reported beside the steadier live
    * heap after a full collection at the end of the measured interval. */
  object HeapWatch {
    @volatile var measuring = false
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (measuring && n.getType == "com.sun.management.gc.notification") {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakBytes) peakBytes = used
        }
    }
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach { case e: NotificationEmitter => e.addNotificationListener(listener, null, null); case _ => () }
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** (steal, total) jiffies of the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) } finally src.close()
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Storage memory (MB) the block managers still hold. */
  def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / 1048576.0

  /** A warm-up that loads the scan, shuffle, join and aggregate code paths
    * on the fixture tables, and the harness's own sink, without running
    * any measured member. */
  def warmUp(spark: SparkSession, fixtures: String): Unit = {
    def t(name: String) = spark.read.parquet(s"$fixtures/$name.parquet")
    for (name <- Seq("lineitem", "events", "documents"))
      t(name).limit(1).collect()
    sink(t("customer").join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(sum(col("c_acctbal")), count(lit(1))), s"warm_up_$warmUps")
    warmUps += 1
  }
  private var warmUps = 0

  /** Column-wise fingerprint aggregates of a result: the row count, and per
    * column its non-null count plus a category-specific sum. The runner
    * computes the same aggregates over the oracle's answer in DuckDB. The
    * aggregates ride on the timed sink as an observation, so checking the
    * answer does not run the query a second time. */
  def category(dt: DataType): String = dt match {
    case _: NumericType => "num"
    case StringType | _: CharType | _: VarcharType => "str"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "ts"
    case DateType => "date"
    case _: ArrayType | _: MapType => "size"
    case BinaryType => "bin"
    case _ => "other"
  }

  def fingerprintExprs(schema: StructType): Seq[Column] =
    count(lit(1)).as("n") +: schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"c$i")
      val v = category(f.dataType) match {
        case "num" => Some(c.cast(DoubleType))
        case "str" | "bin" => Some(length(c).cast(DoubleType))
        case "bool" => Some(c.cast(IntegerType).cast(DoubleType))
        case "ts" => Some(unix_micros(c.cast(TimestampType)).cast(DoubleType))
        case "date" => Some(unix_date(c).cast(DoubleType))
        case "size" => Some(when(c.isNotNull, size(c)).cast(DoubleType))
        case _ => None
      }
      count(c).as(s"nn_$i") +: v.map(e => sum(e).as(s"v_$i")).toSeq
    }

  /** JSON has no NaN or infinity; such sums travel as strings. */
  def jsonNumber(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case other => other
  }

  /** Sinks `df` to `noop` and returns its fingerprint, observed on the way
    * (column `i` of the fingerprint is column `i` of `df`). */
  def sink(df: DataFrame, name: String): Map[String, Any] = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val exprs = fingerprintExprs(renamed.schema)
    val obs = Observation(name)
    renamed.observe(obs, exprs.head, exprs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val row = Await.result(obs.future, 60.seconds)
    row.schema.fieldNames.map(k => k -> jsonNumber(row.getAs[Any](k))).toMap
  }

  /** One pass over the workload's members in the plan's order. */
  def runMembers(spark: SparkSession, plan: JsonNode, fixtures: String,
      clock: Clock, traced: Boolean, seconds: Double): Map[String, Any] = {
    val registry = graft.SparkEntry.queries
    val members = plan.get("members").elements().asScala.map(m =>
      (m.get("name").asText, m.get("module").asText)).toSeq
    val items = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = clock.now
    var pass = 0
    while (pass == 0 || clock.now - t0 < seconds) {
      val p0 = clock.now
      for ((name, module) <- members) {
        val a = clock.now
        var b = a
        var err: String = null
        var fp: Map[String, Any] = null
        var schema: Seq[Map[String, String]] = Nil
        try {
          val df = registry(name)(spark, fixtures)
          b = clock.now
          schema = df.schema.fields.toSeq.map(f =>
            Map("name" -> f.name, "type" -> f.dataType.simpleString,
              "cat" -> category(f.dataType)))
          fp = sink(df, s"fp_${pass}_$name")
        } catch {
          case e: Throwable =>
            err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        val c = clock.now
        if (b == a) b = c
        items += Map("name" -> name, "module" -> module, "pass" -> pass,
          "t0" -> a, "t1" -> b, "t2" -> c, "error" -> err, "fp" -> fp,
          "schema" -> schema) ++
          (if (traced) Map("storage_mb" -> storageUsedMb(spark)) else Map.empty)
      }
      passes += Map("t0" -> p0, "t1" -> clock.now)
      pass += 1
    }
    Map("items" -> items.toSeq, "passes" -> passes.toSeq)
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "--oracle" => mapper.writeValue(new File(args(1)), graft.SparkEntry.oracleSql)
    case "--train" => train(mapper.readTree(new File(args(1))))
    case _ => run(args)
  }

  /** One warm-up and one lakehouse table load, then exit. */
  def train(plan: JsonNode): Unit = {
    val spark = session(plan.get("cpus").asInt, plan.get("work").asText)
    warmUp(spark, plan.get("fixtures").asText)
    new Lakehouse(spark, plan, new Clock).load()
    Runtime.getRuntime.halt(0)
  }

  def run(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val outPath = args(1)
    val workload = plan.get("workload").asText
    val fixtures = plan.get("fixtures").asText
    val work = plan.get("work").asText
    val traced = plan.get("trace").asBoolean
    val seconds = plan.get("seconds").asDouble
    val cpus = plan.get("cpus").asInt
    val setupReps = plan.get("setup_reps").asInt

    val clock = new Clock
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    HeapWatch.install()
    val recorder = if (traced) Some(new Recorder(spark)) else None

    // The repeated set-up step is the generic warm-up for the query
    // workloads and the table load for the lakehouse; the first repetition
    // is the cold one.
    val lake = if (workload == "lakehouse") Some(new Lakehouse(spark, plan, clock)) else None
    val warmS = if (lake.nonEmpty) Nil else (1 to setupReps).map { _ =>
      val a = clock.now; warmUp(spark, fixtures); clock.now - a
    }
    val loadS = lake.map(l => (1 to setupReps).map(_ => l.load())).getOrElse(Nil)

    recorder.foreach(_.register())
    val progress = new StreamProgress(spark)
    progress.register()
    val gc0 = gcMillis()
    val (st0, tot0) = cpuJiffies()
    HeapWatch.peakBytes = 0L
    HeapWatch.measuring = true
    val m0 = clock.now
    val result = lake match {
      case Some(l) => l.run(seconds, traced)
      case None => runMembers(spark, plan, fixtures, clock, traced, seconds)
    }
    val m1 = clock.now
    HeapWatch.measuring = false
    val (st1, tot1) = cpuJiffies()
    val gcS = (gcMillis() - gc0) / 1000.0
    // live heap the measured work left behind: used heap after full
    // collections, with pauses in which Spark's context cleaner drops the
    // blocks of broadcasts and shuffles whose references were collected
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val trace = recorder.map(_.dump()).getOrElse(Map.empty)
    val batches = progress.dump()
    val after = lake.map(_.finish()).getOrElse(Map.empty)

    val rt = ManagementFactory.getRuntimeMXBean
    val out = Map(
      "workload" -> workload,
      "epoch_ms0" -> clock.epochMs0,
      "measure" -> Map("t0" -> m0, "t1" -> m1),
      "setup" -> Map("session_s" -> sessionS, "warm_s" -> warmS, "load_s" -> loadS),
      "heap_live_mb" -> liveMb,
      "heap_peak_after_gc_mb" -> HeapWatch.peakBytes / 1048576.0,
      "gc_s" -> gcS,
      "steal" -> (if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_graft_cpus" -> cpus,
        "xmx" -> rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).lastOption.getOrElse(""),
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version),
      "result" -> result,
      "after" -> after,
      "batches" -> batches,
      "trace" -> trace)
    mapper.writeValue(new File(outPath), out)
    // Everything is recorded and the runner deletes the work directory, so
    // skip the session's orderly shutdown.
    Runtime.getRuntime.halt(0)
  }
}

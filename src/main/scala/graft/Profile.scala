package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Measurement-only harness (optimization rounds, guide §1): runs the named
  * queries and prints, per query, the Spark JOBS it launched (start offset,
  * duration, #tasks, callsite) plus the construction-vs-noop-sink split and
  * driver-only gaps. Lifecycle queries (manifest DML, catalog txn) do most
  * of their work at CONSTRUCTION through many small jobs; this makes that
  * distribution visible, which `Bench` (one wall number) cannot.
  *
  * Usage: Profile <sfDir> <query>[,query...] [reps]
  */
object Profile {
  private final case class JobRow(id: Int, t0: Long, var t1: Long = 0L,
      var tasks: Int = 0, var desc: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q1_pricing"))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val order = mutable.ArrayBuffer[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRow(e.jobId, System.nanoTime())
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        jobs.put(e.jobId, r)
        order.synchronized { order += e.jobId }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.t1 = System.nanoTime()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val r = jobs.get(jid)
        if (r != null) r.tasks += e.stageInfo.numTasks
      }
    })

    // warm the JVM the same way Bench does
    try spark.range(1000).selectExpr("sum(id)").count()
    catch { case _: Throwable => () }

    for (n <- names; rep <- 1 to reps) {
      SparkEntry.queries.get(n) match {
        case None => println(s"unknown query: $n")
        case Some(fn) =>
          jobs.clear(); order.synchronized { order.clear() }
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val tBuild = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val tSink = System.nanoTime()
          def s(a: Long, b: Long) = (b - a) / 1e9
          println(f"\n==== $n rep=$rep total=${s(t0, tSink)}%.3f " +
            f"build=${s(t0, tBuild)}%.3f sink=${s(tBuild, tSink)}%.3f ====")
          val rows = order.synchronized { order.toSeq }
            .flatMap(id => Option(jobs.get(id)))
          var prevEnd = t0
          var jobSum = 0.0
          for (r <- rows if r.t1 > 0) {
            val gap = s(prevEnd, r.t0).max(0)
            jobSum += s(r.t0, r.t1)
            println(f"  job ${r.id}%3d +${s(t0, r.t0)}%7.3f " +
              f"dur=${s(r.t0, r.t1)}%7.3f tasks=${r.tasks}%4d " +
              f"gap=$gap%6.3f  ${r.desc.take(70)}")
            prevEnd = r.t1
          }
          println(f"  jobs=${rows.size} jobSum=$jobSum%.3f " +
            f"driverGaps=${s(t0, tSink) - jobSum}%.3f")
      }
    }
    spark.stop()
  }
}

package graft.tools

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-JOB profiler for one or more SparkEntry queries (r19 measurement
  * harness — guide §1: attribute wall time before touching anything).
  *
  * The bench's per-entry task metrics say HOW MUCH executor time an
  * entry burns but not WHERE its wall goes: a ledger-lifecycle entry is
  * 30-80 sequential Spark jobs (checkpoints, counts, commits), and the
  * union of the job intervals vs the entry wall exposes the driver time
  * (file commits, listings, planning) that no task metric sees.
  *
  * Usage: runMain graft.tools.QueryProbe q136_neardup_audit[,more]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32). */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the bench's own session config, from the one shared home
    // (ADVICE r19: a hand-copied block would silently diverge the
    // profiler from the workload it attributes)
    val b0 = graft.Bench.sessionBuilder(cpus)
    // A/B experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    val builder = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
      .map(_.split(";").filter(_.contains("=")))
      .getOrElse(Array.empty)
      .foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class Job(var desc: String, var t0: Long = 0L, var t1: Long = 0L,
      var tasks: Int = 0, var runMs: Long = 0L, stages: mutable.Set[Int] = mutable.Set())
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage's name carries the action's call site
        // (e.g. "parquet at Dedup.scala:2092"); the job DESCRIPTION
        // (setJobDescription — the operators label their phases) says
        // which protocol phase it belongs to. Both are the attribution.
        val site = e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("?")
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(d => s"[$d] ").getOrElse("")
        val j = Job(desc + site, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        // guarded lookup: CHM[Int,Int].get on a missing stage unboxes
        // null to 0 and would misattribute the task to job 0 (ADVICE
        // r19) — check key presence first (a stage registered by
        // jobStart is never removed mid-job, so this is race-free here)
        val j = if (stageToJob.containsKey(e.stageId))
          jobs.get(stageToJob.get(e.stageId)) else null
        if (j != null && e.taskMetrics != null) {
          j.synchronized { j.tasks += 1; j.runMs += e.taskMetrics.executorRunTime }
        }
      }
    })

    // warmup (same shape as Bench)
    try {
      graft.SparkEntry.queries("q03_topk")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q136_neardup_audit"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt
    val detail = sys.env.getOrElse("SPARK_GRAFT_PROBE_DETAIL", "1") == "1"
    for (name <- names) {
      // cold run (codegen/planning) untimed — profile the WARM rep,
      // matching the bench's min-of-N methodology
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      var wall = Double.MaxValue
      // snapshot the jobs map OF THE MIN-WALL REP (ADVICE r19: printing
      // the last rep's jobs under the min rep's headline wall could
      // describe a different run than the reported number)
      var minJobs = Seq.empty[(Int, Job)]
      val walls = (1 to reps).map { _ =>
        jobs.clear(); stageToJob.clear()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        val w = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        if (w < wall) { wall = w; minJobs = jobs.asScala.toSeq.sortBy(_._1) }
        val run = jobs.asScala.valuesIterator.map(_.runMs).sum / 1e3
        (w, run)
      }
      println(s"[$name] walls " +
        walls.map { case (w, r) => f"$w%.2f/$r%.1f" }.mkString(" ") +
        f"  min $wall%.2f  minRun ${walls.map(_._2).min}%.1f")
      if (!detail) { () } else {
      val js = minJobs
      println(s"\n=== $name  wall ${f"$wall%.2f"} s  jobs ${js.size} ===")
      var prevEnd = 0L
      for ((id, j) <- js) {
        val w = (j.t1 - j.t0) / 1e3
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = j.t1
        println(f"job $id%3d  wall $w%6.3f  gap $gap%6.3f  tasks ${j.tasks}%4d  run ${j.runMs / 1e3}%7.2f  ${j.desc.take(110)}")
      }
      // jobs overlap, so their walls do not add up: the job share is
      // the union of their intervals and the driver has the rest
      val inJobs = unionSeconds(js.map { case (_, j) => (j.t0, j.t1) })
      println(f"[$name] entry wall $wall%.2f = union of job intervals $inJobs%.2f + driver time ${wall - inJobs}%.2f")
      }
    }
    spark.stop()
  }

  /** Length in seconds of the union of (start, end) intervals in ms. */
  private def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) if (e > end) {
      total += e - math.max(s, end); end = e
    }
    total / 1e3
  }
}

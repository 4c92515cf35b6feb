package graft.perfbench

import scala.collection.mutable
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters, fed by one SparkListener and one
  * QueryExecutionListener that the benchmark registers on its session.
  * A span snapshots them at entry and exit; the difference is what
  * accrued inside it. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTasks = mutable.Map.empty[Int, (Long, Long)] // sum, max ms
  /** (start ms, end ms) of every finished job. */
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  def add(k: String, v: Double): Unit = synchronized { totals(k) = totals(k) + v }

  def snapshot(): Map[String, Double] = synchronized {
    totals.toMap.withDefaultValue(0.0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    add("jobs", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_ms", m.executorRunTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("input_records", m.inputMetrics.recordsRead.toDouble)
      val (s, mx) = stageTasks.getOrElse(e.stageId, (0L, 0L))
      stageTasks(e.stageId) =
        (s + m.executorRunTime, math.max(mx, m.executorRunTime))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageTasks.remove(e.stageInfo.stageId).foreach { case (s, mx) =>
        add("stage_run_ms", s.toDouble)
        add("stage_max_task_ms", mx.toDouble)
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    add("planning_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    add("queries", 1)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized {
    add("planning_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    add("queries", 1)
  }

  /** Length of the union of job intervals clipped to [from, to] (ms). */
  def jobUnionMs(from: Long, to: Long): Long = synchronized {
    val iv = jobs.iterator.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

/** Hadoop FileSystem byte statistics summed over every scheme in the JVM
  * (local mode: executors are threads of this process), plus the
  * operation counts of [[CountingLocalFs]]. */
object FsStats {
  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map(
      "fs_bytes_read" -> all.map(_.getBytesRead).sum.toDouble,
      "fs_bytes_written" -> all.map(_.getBytesWritten).sum.toDouble,
      "fs_list_ops" -> CountingLocalFs.lists.get.toDouble,
      "fs_read_ops" -> CountingLocalFs.reads.get.toDouble,
      "fs_write_ops" -> CountingLocalFs.writes.get.toDouble)
  }
}

/** One recorded span: wall interval, parent, and counter deltas. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, deltas: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans at each layer's public entry points, kept in memory. Creating a
  * tracer registers its listeners; untraced runs create none. */
final class Tracer(spark: SparkSession) {
  val probe = new Probe
  spark.sparkContext.addSparkListener(probe)
  spark.listenerManager.register(probe)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private def counters(): Map[String, Double] = {
    GraftSparkBridge.drainListenerBus(spark.sparkContext)
    probe.snapshot() ++ FsStats.snapshot()
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = counters()
    val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
      val after = counters()
      val d = (after.map { case (k, v) => k -> (v - before(k)) } +
        ("job_union_ms" -> probe.jobUnionMs(m0, m1).toDouble)).withDefaultValue(0.0)
      spans += Span(id, parent, name, s0, s1, d)
    }
  }

  /** Self time of a span: its duration minus the union of its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (s.endNs - s.startNs - covered) / 1e9
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      val d = s.deltas.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${selfSeconds(s)},"counters":{$d}}""")
    } finally w.close()
  }
}

package graft.perfbench

import java.io.File
import scala.collection.mutable

/** The benchmark main loop: one process, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> [--cpus <n>] [--scale <x>] [--corrupt]
  * }}}
  *
  * Inputs are generated from the seed under `<dir>/inputs` (untimed). Set-up
  * runs three times, each on a fresh session, and reports the median; the
  * first set-up also warms the JVM up by running every operation once. The
  * operations then run back to back for `--seconds`, each timed from
  * outside and checked after its clock stops. The end-to-end metrics come
  * from this untraced pass.
  *
  * With `--trace 1` the untraced pass is followed by a replay: a fresh
  * workload on fresh sessions, set up the same way from the same seed, runs
  * the same operation indices again with spans recorded at every layer's
  * entry points. The per-layer metrics come from the replay, the tracing
  * overhead from comparing each pass's summed operation time. The last
  * stdout line is the JSON result.
  */
object Main {

  final case class Timed(kind: String, op: Int, seconds: Double, items: Long,
      ok: Boolean)

  private val Setups = 3

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  /** Maintenance samples: every maintenance cycle's operations, summed per
    * primary operation they follow, so each kind moves the median. */
  private def maintenanceCycles(ts: Seq[Timed]): Seq[Double] =
    ts.filter(_.kind != "op").groupBy(_.op).values.map(_.map(_.seconds).sum).toSeq

  /** One workload on its own sessions: inputs, set-ups and timed passes. */
  private final class Pass(val ctx: Ctx, val wl: Workload, cpus: String) {
    val timed = mutable.ArrayBuffer.empty[Timed]

    /** Generates the inputs under `dir/inputs`; returns the seconds taken. */
    def generate(dir: String): Double = {
      new File(s"$dir/inputs").mkdirs()
      val t0 = System.nanoTime()
      wl.generate(s"$dir/inputs")
      (System.nanoTime() - t0) / 1e9
    }

    /** The set-ups, each on a fresh session; returns their times. */
    def setUp(dir: String, countFs: Boolean): Seq[Double] = {
      val times = (0 until Setups).map { rep =>
        if (ctx.spark != null) ctx.spark.stop()
        val t0 = System.nanoTime()
        val builder = graft.Bench.sessionBuilder(cpus)
        if (countFs)
          builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
        ctx.spark = builder.getOrCreate()
        ctx.spark.sparkContext.setLogLevel("ERROR")
        wl.setup(s"$dir/state-$rep", rep)
        (System.nanoTime() - t0) / 1e9
      }
      wl.afterSetup()
      times
    }

    private def run(kind: String, op: Int, f: () => Outcome): Unit = {
      val t0 = System.nanoTime()
      val (outcome, ok0) =
        try (Some(ctx.span(if (kind == "op") "op" else s"maint.$kind") {
          val o = f(); ctx.rows(o.results); o
        }), true)
        catch { case e: Exception =>
          System.err.println(s"$kind failed: $e"); (None, false)
        }
      val s = (System.nanoTime() - t0) / 1e9
      val ok = ok0 && (try { outcome.get.verify(); true } catch {
        case e: Exception => System.err.println(s"$kind check failed: $e"); false
      })
      timed += Timed(kind, op, s, outcome.map(_.items).getOrElse(0L), ok)
    }

    /** Runs operations 0, 1, ... with their maintenance while `more(i)`. */
    def operations(more: Int => Boolean): Seq[Timed] = {
      var i = 0
      while (more(i)) {
        wl.prepare(i)
        run("op", i, () => wl.op(i))
        wl.maintenance(i).foreach { case (kind, f) => run(kind, i, f) }
        i += 1
      }
      timed.toSeq
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cpus = opts.getOrElse("cpus", "4")
    val scale = opts.getOrElse("scale", "1").toDouble
    def newPass(): Pass = {
      val ctx = new Ctx(seed, scale)
      val wl: Workload = name match {
        case "trace_lookup" => new TraceLookupWorkload(ctx)
        case "ledger_ingest" => new LedgerIngestWorkload(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      new Pass(ctx, wl, cpus)
    }
    graft.util.Fs.deleteRecursively(work)

    val first = newPass()
    val wl = first.wl
    val genSeconds = first.generate(work)
    val setupTimes = first.setUp(work, countFs = false)
    first.ctx.corrupt = args.contains("--corrupt")
    val m0 = System.nanoTime()
    val deadline = m0 + (seconds * 1e9).toLong
    // a run ends only at a cycle boundary, so it holds whole cycles
    val untraced = first.operations(i => System.nanoTime() < deadline || i % wl.cycle != 0)
    val measured = (System.nanoTime() - m0) / 1e9

    val ops = untraced.filter(_.kind == "op")
    val maint = maintenanceCycles(untraced)
    val lat = ops.map(_.seconds)
    val p90 = quantile(lat, 0.9)
    val storeBytes = wl.storeBytes
    val inputBytes = wl.inputBytes
    val recall = wl.recall
    val properties = wl.properties
    first.ctx.spark.stop()

    // the replay: same seed, same set-up, same operation indices, traced
    val replay = if (!traced) None else {
      // drop cached local filesystems so the replay's sessions count fs ops
      org.apache.hadoop.fs.FileSystem.closeAll()
      val p = newPass()
      p.generate(s"$work/replay")
      p.setUp(s"$work/replay", countFs = true)
      p.ctx.tracer = new Tracer(p.ctx.spark)
      p.operations(_ < ops.size)
      Some(p)
    }

    val all = untraced ++ replay.map(_.timed.toSeq).getOrElse(Nil)
    val attempted = all.size
    val failed = all.count(!_.ok)
    val e2e = Seq(
      ("setup_s", "s", median(setupTimes), setupTimes.size),
      ("op_p50_s", "s", median(lat), lat.size),
      ("op_p90_s", "s", p90, lat.size),
      ("items_per_s", "1/s", ops.map(_.items).sum / lat.sum, lat.size),
      ("maint_p50_s", "s", median(maint), maint.size),
      ("recall", "ratio", recall, 1),
      ("store_bytes_per_input_byte", "ratio",
        storeBytes.toDouble / math.max(1L, inputBytes), 1),
      ("ok_share", "ratio", 1.0 - failed.toDouble / attempted, attempted))

    println(f"workload $name seed $seed: inputs $genSeconds%.2f s, set-ups " +
      setupTimes.map(t => f"$t%.2f").mkString(" ") + f" s, measured $measured%.2f s")
    properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"  property $k%-28s $v%.4f") }
    println(f"  ${"metric"}%-28s ${"unit"}%-6s ${"value"}%14s  samples")
    e2e.foreach { case (m, u, v, n) => println(f"  $m%-28s $u%-6s $v%14.6f  $n") }
    println(f"  failed_share                 ratio  ${failed.toDouble / attempted}%14.6f  $attempted")
    println(s"  samples above op_p90_s: ${lat.count(_ > p90)}")

    val metrics: Seq[(String, String, Double)] = replay match {
      case None => e2e.map { case (m, u, v, _) => (m, u, v) }
      case Some(p) =>
        val replayed = p.timed.toSeq
        val tracer = p.ctx.tracer
        val layer = Layers.metrics(tracer, replayed, p.wl) :+
          (("trace.overhead_share", "ratio",
            replayed.map(_.seconds).sum / untraced.map(_.seconds).sum - 1))
        tracer.writeJsonl(s"$work/../spans-$name-$seed.jsonl")
        p.ctx.spark.stop()
        layer.foreach { case (m, u, v) => println(f"  $m%-36s $u%-6s $v%14.6f") }
        layer
    }
    graft.util.Fs.deleteRecursively(work)
    val body = metrics.map { case (m, u, v) =>
      s""""$m": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}

package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Observation, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.analysis.{CriticalPath, ServiceGraph}
import graft.model.CritSeg
import graft.operators.{Presentation, SpanOps, TraceOps}
import graft.sources.JaegerJsonSource

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** State shared by the main loop and the workloads. */
final class Ctx(val seed: Long, val scale: Double) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  /** Self-test hook: drop one element of the next checked result. */
  var corrupt = false

  def traced: Boolean = tracer != null
  def span[T](name: String)(body: => T): T =
    if (tracer == null) body else tracer.span(name)(body)
  /** Counts result rows returned inside the current span. */
  def rows(n: Long): Unit = if (tracer != null) tracer.probe.add("result_rows", n)
  def scaled(n: Int, min: Int): Int = math.max(min, (n * scale).toInt)
  def tamper[T](xs: Seq[T]): Seq[T] =
    if (corrupt && xs.nonEmpty) { corrupt = false; xs.tail } else xs
  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}

/** What one timed operation hands back: input items it consumed, rows it
  * returned, and the verification of its output, run after the clock
  * stops. */
final case class Outcome(items: Long, results: Long, verify: () => Unit)

trait Workload {
  /** Writes the seeded inputs under `dir`; not part of set-up time. */
  def generate(dir: String): Unit
  /** Starts from a fresh session and builds the starting state under `dir`.
    * Repetition 0 also warms up by running every operation once. */
  def setup(dir: String, rep: Int): Unit
  /** Untimed measurements of the starting state, after the last set-up. */
  def afterSetup(): Unit = ()
  /** Untimed preparation of primary operation `i`'s inputs. */
  def prepare(i: Int): Unit = ()
  def op(i: Int): Outcome
  /** Primary operations per maintenance cycle. A run ends only at a cycle
    * boundary, so every run holds the same mix of maintenance kinds. */
  def cycle: Int
  /** Maintenance and write operations due after primary operation `i`. */
  def maintenance(i: Int): Seq[(String, () => Outcome)] = Nil
  def recall: Double
  def storeBytes: Long
  def inputBytes: Long
  def properties: Map[String, Double]
  /** Per-layer values that are not span sums (ratios, censuses). */
  def layerValues: Map[String, Double] = Map.empty
}

object Util {
  def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** Materializes `df` through `sink` and returns the values of `exprs`
    * observed over the rows written. */
  def observed(df: DataFrame, sink: DataFrameWriter[Row] => Unit,
      exprs: Column*): Row = {
    val ob = Observation()
    val named = exprs.zipWithIndex.map { case (e, i) => e.as(s"c$i") }
    sink(df.observe(ob, named.head, named.tail: _*).write)
    val m = ob.get
    Row.fromSeq(exprs.indices.map(i => m(s"c$i")))
  }

  val noop: DataFrameWriter[Row] => Unit = _.format("noop").mode("overwrite").save()

  def long(r: Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.get(i).asInstanceOf[Number].longValue

  /** Tiling of one rooted trace's critical path: contiguous segments from
    * the root's start to the trace's last span end. */
  def tiles(segs: Seq[CritSeg], t: TraceTruth): Boolean =
    segs.nonEmpty && t.rootStart.contains(segs.head.startTime) &&
      segs.sliding(2).forall {
        case Seq(a, b) => a.startTime + a.duration == b.startTime
        case _ => true
      } && segs.last.startTime + segs.last.duration == t.end &&
      segs.forall(s => t.spanIDs.contains(s.span.spanID))
}

/** The paper's pipeline over one JSONL batch: read, summarize, flatten,
  * pivotTags, critical path and service edges. The traces and flat spans
  * frames are appended as parquet under `dir`, the raw and wide frames go
  * to the noop sink, each with observed checksums; the small results are
  * collected. In a traced run the raw and flat frames are checkpointed
  * inside their own spans, so each later span holds only its own layer's
  * execution. */
object TracePipeline {
  def run(ctx: Ctx, b: TraceBatch, dir: String): Outcome = {
    val spark = ctx.spark
    import Util._
    def cut(df: DataFrame) = if (ctx.traced) df.localCheckpoint() else df
    val ts = b.traces
    val (raw, r0) = ctx.span("sources.read") {
      val raw = cut(JaegerJsonSource.tracesJsonl(spark, b.path))
      (raw, observed(raw, noop, count(lit(1)), sum(size(col("spans")))))
    }
    val weight = conv(substring(col("traceID"), -6, 6), 16, 10).cast("long")
    def sink(name: String): DataFrameWriter[Row] => Unit =
      _.mode("append").parquet(s"$dir/$name")
    val r1 = ctx.span("shaping.summarize") {
      observed(TraceOps.summarize(raw), sink("traces"), count(lit(1)),
        sum(col("nspans")), sum(col("nspans").cast("long") * weight),
        sum(col("errspans")), count_if(col("iserror")))
    }
    val (flat, r2) = ctx.span("shaping.flatten") {
      val flat = cut(SpanOps.flatten(raw))
      (flat, observed(flat, sink("spans"), count(lit(1)),
        sum(when(col("parent") === "", 1).otherwise(0)), sum(size(col("tags")))))
    }
    val (wideCols, r3) = ctx.span("shaping.pivot_tags") {
      val wide = SpanOps.pivotTags(flat)
      (wide.columns.length, observed(wide, noop, count(lit(1))))
    }
    val crits = ctx.span("analysis.critical_path") {
      CriticalPath.segmentsFromFlat(flat).collect().toSeq
    }
    val edges = ctx.span("analysis.service_graph") {
      ServiceGraph.dependencyEdges(flat).collect().toSeq
    }
    val nSpans = b.nSpans.toLong
    val results = long(r1, 0) + long(r2, 0) + long(r3, 0) + crits.size + edges.size
    Outcome(nSpans, results, () => {
      ctx.check(long(r0, 0) == ts.size && long(r0, 1) == nSpans,
        s"read: ${r0} vs ${ts.size} traces, $nSpans spans")
      ctx.check(Seq(long(r1, 0), long(r1, 1), long(r1, 2), long(r1, 3),
        long(r1, 4)) == Seq(ts.size.toLong, nSpans,
        ts.map(t => t.spanIDs.size * t.weight).sum, ts.map(_.errTags).sum.toLong,
        ts.count(_.errTags > 0).toLong), s"summarize: $r1")
      ctx.check(long(r2, 0) == nSpans && long(r2, 1) == ts.map(_.nRoots).sum &&
        long(r2, 2) == ts.map(_.tagEntries).sum, s"flatten: $r2")
      ctx.check(long(r3, 0) == nSpans && wideCols == 11 + b.tagKeys.size,
        s"pivotTags: $r3, $wideCols columns")
      val byTrace = ctx.tamper(crits).groupBy(_.span.traceID)
      ts.filter(t => t.nRoots == 1 && t.rootStart.isDefined).foreach { t =>
        ctx.check(tiles(byTrace.getOrElse(t.traceID, Nil), t),
          s"critical path of ${t.traceID} does not tile its root")
      }
      ctx.check(edges.map(_.getLong(2)).sum == ts.map(_.nEdges).sum,
        s"service edges: ${edges.map(_.getLong(2)).sum} calls")
    })
  }
}

/** trace_lookup: generated traces persisted as a traces frame and a flat
  * spans frame (plain parquet writer), then one trace looked up per
  * operation: traceWithSpans, its critical path and the timeline prep.
  * Trace ids follow a seeded Zipf draw over the starting traces; one
  * lookup in ten asks for an unknown id, whose strict raise is the
  * expected outcome.
  * After every tenth lookup a new JSONL batch is ingested through the
  * paper's full pipeline and appended to both frames. */
final class TraceLookupWorkload(ctx: Ctx) extends Workload {
  private val nTraces = ctx.scaled(600, 40)
  private val perIngest = ctx.scaled(1000, 12)
  val cycle = 10
  private var inDir: String = _
  private var start: TraceBatch = _
  private var warmBatch: TraceBatch = _
  private val ingests = mutable.ArrayBuffer.empty[TraceBatch]
  private var ingested = 0
  private var byId: Map[String, TraceTruth] = _
  private var dir: String = _
  private var traceSchema: StructType = _
  private var spanSchema: StructType = _
  private var draws: java.util.SplittableRandom = _
  private var batchGen: java.util.SplittableRandom = _
  private var cdf: Array[Double] = _
  private var order: IndexedSeq[TraceTruth] = _
  private var expected = 0L
  private var found = 0L

  def generate(d: String): Unit = {
    inDir = d
    start = Inputs.writeTraceBatch(Inputs.rng(ctx.seed, 2), s"$d/traces.jsonl",
      nTraces, 0)
    byId = start.traces.map(t => t.traceID -> t).toMap
    warmBatch = Inputs.writeTraceBatch(Inputs.rng(ctx.seed, 13),
      s"$d/warm.jsonl", perIngest, 1L << 23)
    // hot traces are a seeded permutation, Zipf(1) over ranks
    val perm = Inputs.rng(ctx.seed, 10)
    order = start.traces.map(t => (perm.nextDouble(), t)).sortBy(_._1).map(_._2)
    val w = (1 to nTraces).map(k => 1.0 / k)
    cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** The i-th ingest batch, generated on first use. */
  private def ingestBatch(i: Int): TraceBatch = {
    while (ingests.size <= i) ingests += Inputs.writeTraceBatch(batchGen,
      s"$inDir/ingest-${ingests.size}.jsonl", perIngest,
      nTraces + ingests.size.toLong * perIngest)
    ingests(i)
  }

  def setup(d: String, rep: Int): Unit = {
    val spark = ctx.spark
    dir = d
    val raw = JaegerJsonSource.tracesJsonl(spark, start.path)
    TraceOps.summarize(raw).write.parquet(s"$d/traces")
    SpanOps.flatten(raw).write.parquet(s"$d/spans")
    traceSchema = spark.read.parquet(s"$d/traces").schema
    spanSchema = spark.read.parquet(s"$d/spans").schema
    if (rep == 0) {
      lookup(draw(Inputs.rng(ctx.seed, 12), 0)).verify()
      TracePipeline.run(ctx, warmBatch, d).verify()
    }
    batchGen = Inputs.rng(ctx.seed, 11); ingests.clear(); ingested = 0
    draws = Inputs.rng(ctx.seed, 3)
    expected = 0; found = 0
  }

  /** Every `cycle`-th lookup asks for an unknown id; the others draw a
    * known trace by Zipf rank. */
  private def draw(r: java.util.SplittableRandom, i: Int): String =
    if (i % cycle == cycle - 1) "ffff" + r.nextLong().toHexString
    else {
      val k = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      order(math.min(nTraces - 1, if (k >= 0) k else -k - 1)).traceID
    }

  private def lookup(id: String): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val traces = spark.read.schema(traceSchema).parquet(s"$dir/traces")
    val spans = spark.read.schema(spanSchema).parquet(s"$dir/spans")
    val rows = ctx.span("shaping.trace_with_spans") {
      try Some(SpanOps.traceWithSpans(traces, spans, id).collect().toSeq)
      catch { case _: NoSuchElementException => None }
    }
    val (crits, segs, critRows) = rows match {
      case None => (Nil, Nil, Nil)
      case Some(_) =>
        val mine = spans.filter(col("traceID") === id)
        val crits = ctx.span("analysis.critical_path") {
          CriticalPath.segmentsFromFlat(mine).collect().toSeq
        }
        ctx.span("presentation.prep") {
          (crits, Presentation.spanSegments(mine).collect().toSeq,
            Presentation.critSegments(spark.createDataset(crits)).collect().toSeq)
        }
    }
    Outcome(1, rows.map(_.size).getOrElse(0) + crits.size + segs.size +
        critRows.size, () => {
      (byId.get(id), rows) match {
        case (None, None) => ()
        case (None, Some(_)) => ctx.check(false, s"unknown id $id was found")
        case (Some(_), None) => ctx.check(false, s"known id $id raised")
        case (Some(t), Some(rs)) =>
          val got = ctx.tamper(rs.flatMap(_.getAs[scala.collection.Seq[Row]]("spans"))
            .map(_.getAs[String]("spanID")))
          expected += t.spanIDs.size
          found += got.toSet.intersect(t.spanIDs).size
          ctx.check(rs.size == (if (t.spanIDs.isEmpty) 0 else 1) &&
            got.size == t.spanIDs.size && got.toSet == t.spanIDs,
            s"traceWithSpans($id): ${got.size} spans, expected ${t.spanIDs.size}")
          if (t.nRoots == 1 && t.rootStart.isDefined)
            ctx.check(Util.tiles(crits, t), s"critical path of $id")
          ctx.check(segs.size == t.spanIDs.size && critRows.size == crits.size,
            s"timeline prep of $id: ${segs.size} spans, ${critRows.size} segments")
      }
    })
  }

  def op(i: Int): Outcome = lookup(draw(draws, i))
  override def maintenance(i: Int): Seq[(String, () => Outcome)] =
    if (i % cycle != cycle - 1) Nil
    else {
      val b = ingestBatch(ingested) // generated before the clock starts
      ingested += 1
      Seq("ingest" -> (() => TracePipeline.run(ctx, b, dir)))
    }
  /** Share of the looked-up known traces' generated spans returned. */
  def recall: Double = found.toDouble / math.max(1L, expected)
  def storeBytes: Long = Util.du(s"$dir/traces") + Util.du(s"$dir/spans")
  def inputBytes: Long = start.bytes + ingests.take(ingested).map(_.bytes).sum
  def properties: Map[String, Double] =
    Inputs.traceProperties(start +: ingests.toSeq) +
      ("unknown_id_share" -> 1.0 / cycle) + ("ingest_batches" -> ingested.toDouble)
}

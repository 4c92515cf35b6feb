package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom
import scala.collection.mutable

/** Ground truth of one generated Jaeger trace, kept by the generator so
  * every operation's output can be checked against what was planted. */
final case class TraceTruth(
    traceID: String,
    weight: Long, // distinct per trace in a batch; encoded in the id's tail
    spanIDs: Set[String],
    rootStart: Option[Long], // start of the span with no reference
    end: Long, // latest span end in the trace
    nRoots: Int, // spans with no CHILD_OF reference
    nEdges: Int, // spans whose parent span is present in the trace
    errTags: Int,
    depth: Int,
    maxFanOut: Int,
    tagEntries: Int) // distinct tag keys summed over the spans

/** One generated JSONL batch and its truth. */
final case class TraceBatch(path: String, bytes: Long,
    traces: IndexedSeq[TraceTruth], tagKeys: Set[String]) {
  def nSpans: Int = traces.map(_.spanIDs.size).sum
}

/** A document of the dedup stream with its embedding. `kind` is "fresh",
  * "exact" (a copy of an earlier fresh document) or "near" (an earlier
  * fresh text with one word replaced, Jaccard ~0.9 on word 3-shingles, and
  * its embedding slightly perturbed). */
final case class Doc(id: Long, text: String, kind: String, vec: Array[Double])

/** Seeded input generators. Every generator draws from its own
  * `SplittableRandom` derived from the run seed, so the same seed gives
  * byte-identical inputs whatever else the run does. The engine sees
  * only the files written here. */
object Inputs {

  private val Services = Vector("web", "api", "auth", "db", "cache",
    "queue", "search", "billing")
  private val Ops = Map(
    "web" -> Vector("/home", "/checkout", "/product"),
    "api" -> Vector("/v1/list", "/v1/get", "/v1/put"),
    "auth" -> Vector("/login", "/verify"),
    "db" -> Vector("SELECT", "INSERT", "UPDATE"),
    "cache" -> Vector("GET", "SET"),
    "queue" -> Vector("publish", "consume"),
    "search" -> Vector("/query"),
    "billing" -> Vector("/charge", "/refund"))
  private val BaseUs = 1700000000000000L

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append("0123456789abcdef".charAt(r.nextInt(16))))
    sb.toString
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T =
    xs(r.nextInt(xs.size))

  private final case class GSpan(spanID: String, parent: Option[String],
      svc: String, op: String, start: Long, dur: Long,
      tags: Seq[(String, String, String)], depth: Int)

  private def tagJson(t: (String, String, String)): String = {
    val v = if (t._2 == "string") "\"" + t._3 + "\"" else t._3
    s"""{"key":"${t._1}","type":"${t._2}","value":$v}"""
  }

  /** Writes `nTraces` Jaeger traces, one JSON object per line, to `path`.
    * Trace `i` of the batch has weight `base + i + 1`, the last six hex
    * digits of its traceID. Keeps the edge cases of the bundled
    * fixture: positions 7, 8 and 9 are a missing-root trace, an empty
    * trace and a single-span trace; every tenth trace from 3 on has an
    * error span (the first with two error tags), from 4 on a duplicate
    * tag key, and from 5 on an async tail that ends after the root. */
  def writeTraceBatch(r: SplittableRandom, path: String, nTraces: Int,
      base: Long): TraceBatch = {
    val out = new BufferedWriter(new FileWriter(path))
    val truths = mutable.ArrayBuffer.empty[TraceTruth]
    val keys = mutable.Set.empty[String]
    try (0 until nTraces).foreach { i =>
      val w = base + i + 1
      require(w < (1L << 24), "trace weight must fit six hex digits")
      val tid = hex(r, 10) + f"$w%06x"
      val start = BaseUs + w * 7000000L + r.nextInt(999983)
      val spans = mutable.ArrayBuffer.empty[GSpan]
      def tags(svc: String, op: String, root: Boolean, err: Boolean,
          dupKey: Boolean, extraErr: Boolean) = {
        val b = mutable.ArrayBuffer(("internal.span.format", "string",
          "proto"), ("component", "string", svc))
        if (svc == "web" || svc == "api") {
          b += (("http.method", "string", if (r.nextBoolean()) "GET" else "POST"))
          b += (("http.url", "string", s"http://$svc.svc$op"))
          b += (("http.status_code", "int64", if (err) "500" else "200"))
        }
        if (root) {
          b += (("sampler.type", "string", "const"))
          b += (("sampler.param", "bool", "true"))
        }
        if (r.nextInt(10) < 3)
          b += (("region", "string", if (r.nextBoolean()) "us-east" else "eu-west"))
        if (err) b += (("error", "bool", "true"))
        if (dupKey) b += (("region", "string", "ap-south"))
        if (extraErr) b += (("error", "string", "true"))
        b.toSeq
      }
      def add(svc: String, op: String, t0: Long, dur: Long,
          parent: Option[String], depth: Int, root: Boolean = false,
          err: Boolean = false, dupKey: Boolean = false,
          extraErr: Boolean = false): String = {
        val sid = if (root) tid else hex(r, 16)
        spans += GSpan(sid, parent, svc, op, t0, dur,
          tags(svc, op, root, err, dupKey, extraErr), depth)
        sid
      }
      // children strictly inside their parent: [t0, t0 + budget)
      def grow(pid: String, psvc: String, t0: Long, budget: Long,
          depth: Int): Unit = {
        var cursor = t0
        val n = if (depth < 4) 1 + r.nextInt(3) else 0
        var k = 0
        while (k < n && t0 + budget - cursor >= 4000) {
          val left = t0 + budget - cursor
          val svc = pick(r, Services.filter(_ != psvc))
          val cStart = cursor + 100 + r.nextInt(800)
          val dur = 1000 + r.nextLong(math.max(1L, left / 2 - 1000))
          val cid = add(svc, pick(r, Ops(svc)), cStart, dur, Some(pid), depth)
          grow(cid, svc, cStart + 200, dur - 400, depth + 1)
          if (r.nextInt(4) == 0) {
            // async sibling overlapping the previous child, still nested
            val s2 = pick(r, Services)
            val aStart = cStart + 50
            val aEnd = t0 + budget - 10
            if (aEnd - aStart > 600)
              add(s2, pick(r, Ops(s2)), aStart,
                500 + r.nextLong(aEnd - aStart - 500), Some(pid), depth)
          }
          cursor = cStart + dur + 200 + r.nextInt(1800)
          k += 1
        }
      }
      val kind = i % 10
      if (i == 7) {
        val ghost = hex(r, 16) // missing root: children of an absent span
        add("api", "/v1/get", start, 50000, Some(ghost), 1)
        add("db", "SELECT", start + 5000, 20000, Some(ghost), 1)
      } else if (i == 8) {
        () // empty trace, which still has a process table
      } else if (i == 9) {
        add("web", "/home", start, 12345, None, 0, root = true)
      } else {
        val rootSvc = if (r.nextBoolean()) "web" else "api"
        val rootDur = 80000L + r.nextInt(320000)
        val rid = add(rootSvc, pick(r, Ops(rootSvc)), start, rootDur, None,
          0, root = true, dupKey = kind == 4)
        grow(rid, rootSvc, start + 500 + r.nextInt(2500), rootDur - 5000, 1)
        if (kind == 3)
          add("db", "SELECT", start + rootDur / 2, 1000 + r.nextInt(8000),
            Some(rid), 1, err = true, extraErr = i == 3)
        if (kind == 5) // async tail: ends after the root returns
          add("queue", "publish", start + rootDur - 1000,
            20000 + r.nextInt(40000), Some(rid), 1)
      }
      val svcs = (if (i == 8) Seq("web") else spans.map(_.svc)).distinct
      val pids = svcs.zipWithIndex.map { case (s, j) => s -> s"p${j + 1}" }.toMap
      val procJson = svcs.map { s =>
        s""""${pids(s)}":{"serviceName":"$s","tags":[{"key":"hostname","type":"string","value":"host-$s-${i % 3}"}]}"""
      }.mkString(",")
      val spanJson = spans.map { s =>
        val refs = s.parent.map(p =>
          s"""[{"refType":"CHILD_OF","traceID":"$tid","spanID":"$p"}]""")
          .getOrElse("[]")
        s"""{"traceID":"$tid","spanID":"${s.spanID}","flags":1,""" +
          s""""operationName":"${s.op}","references":$refs,""" +
          s""""startTime":${s.start},"duration":${s.dur},""" +
          s""""tags":[${s.tags.map(tagJson).mkString(",")}],"logs":[],""" +
          s""""processID":"${pids(s.svc)}","warnings":null}"""
      }.mkString(",")
      out.write(s"""{"traceID":"$tid","spans":[$spanJson],""" +
        s""""processes":{$procJson},"warnings":null}""")
      out.write('\n')
      spans.foreach(s => keys ++= s.tags.map(_._1))
      val ids = spans.map(_.spanID).toSet
      val fan = spans.groupBy(_.parent).collect { case (Some(p), cs) => cs.size }
      truths += TraceTruth(tid, w, ids,
        spans.find(_.parent.isEmpty).map(_.start),
        if (spans.isEmpty) 0L else spans.map(s => s.start + s.dur).max,
        spans.count(_.parent.isEmpty),
        spans.count(s => s.parent.exists(ids.contains)),
        spans.map(_.tags.count(_._1 == "error")).sum,
        if (spans.isEmpty) 0 else spans.map(_.depth).max,
        if (fan.isEmpty) 0 else fan.max,
        spans.map(_.tags.map(_._1).distinct.size).sum)
    } finally out.close()
    TraceBatch(path, new File(path).length(), truths.toIndexedSeq, keys.toSet)
  }

  /** Properties of the generated traces recorded in the result. */
  def traceProperties(batches: Seq[TraceBatch]): Map[String, Double] = {
    val ts = batches.flatMap(_.traces)
    val nonEmpty = ts.filter(_.spanIDs.nonEmpty)
    Map(
      "traces" -> ts.size.toDouble,
      "spans_per_trace" -> ts.map(_.spanIDs.size).sum.toDouble / ts.size,
      "max_depth" -> nonEmpty.map(_.depth).max.toDouble,
      "mean_depth" -> nonEmpty.map(_.depth).sum.toDouble / nonEmpty.size,
      "max_fan_out" -> ts.map(_.maxFanOut).max.toDouble,
      "error_trace_share" -> ts.count(_.errTags > 0).toDouble / ts.size,
      "tag_keys" -> batches.flatMap(_.tagKeys).distinct.size.toDouble)
  }

  private val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(7L) // fixed vocabulary, independent of seed
    (0 until 4000).map(_ => (0 until 3 + r.nextInt(6)).map(_ =>
      ('a' + r.nextInt(26)).toChar).mkString)
  }

  /** One epoch of the document stream: `n` docs with ids from `firstId`.
    * `exactShare` of them copy an earlier fresh text, `nearShare` copy
    * one with a single word replaced. Sources come from `history` (all
    * earlier fresh docs) plus the epoch's own earlier fresh docs. */
  def docEpoch(r: SplittableRandom, firstId: Long, n: Int,
      history: mutable.ArrayBuffer[Doc], exactShare: Double,
      nearShare: Double, centers: IndexedSeq[Array[Double]],
      words: Int = 60): IndexedSeq[Doc] =
    (0 until n).map { j =>
      val id = firstId + j
      val u = r.nextDouble()
      val d =
        if (history.nonEmpty && u < exactShare) {
          val src = history(r.nextInt(history.size))
          Doc(id, src.text, "exact", src.vec)
        } else if (history.nonEmpty && u < exactShare + nearShare) {
          val src = history(r.nextInt(history.size))
          val toks = src.text.split(' ')
          val at = 3 + r.nextInt(toks.length - 6)
          toks(at) = "zz" + hex(r, 8) // a word no fresh text contains
          Doc(id, toks.mkString(" "), "near",
            src.vec.map(x => x + 0.02 * gaussian(r)))
        } else
          Doc(id, (0 until words).map(_ => pick(r, Vocab)).mkString(" "),
            "fresh", clusteredVectors(r, centers, 1, 0.35).head)
      if (d.kind == "fresh") history += d
      d
    }

  /** `n` vectors of dimension `dim` around `centers`, unit-free gaussian
    * noise of scale `noise`; returned with the cluster each came from. */
  def clusteredVectors(r: SplittableRandom, centers: IndexedSeq[Array[Double]],
      n: Int, noise: Double): IndexedSeq[Array[Double]] =
    (0 until n).map { _ =>
      val c = centers(r.nextInt(centers.size))
      c.map(x => x + noise * gaussian(r))
    }

  def centers(r: SplittableRandom, k: Int, dim: Int): IndexedSeq[Array[Double]] =
    (0 until k).map(_ => Array.fill(dim)(gaussian(r)))

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

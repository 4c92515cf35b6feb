package graft.perfbench

import java.io.PrintWriter
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.util.Gen

/** ledger_ingest: a seeded document stream with planted exact and near
  * duplicates, feeding both dedup ledgers and an IVF-SQ8 index on the
  * same generation-store protocol. Each operation is one epoch: the
  * streamed exact admit, the streamed near-dup admit, the admitted
  * documents' vectors appended to the index, and one top-k batch served
  * for the newly admitted documents. Every epoch is followed by an epoch
  * ack and sweep, a forget (ledger identity scrub plus index delete), an
  * expiry of all older epochs (ledger and index) and a compaction of the
  * three stores. */
final class LedgerIngestWorkload(ctx: Ctx) extends Workload {
  val cycle = 1
  private val batchDocs = ctx.scaled(200, 40)
  private val seedVectors = ctx.scaled(1000, 200)
  private val exactShare = 0.1
  private val nearShare = 0.1
  private val recallEpochs = 2 // near-dup recall over the seed and first epoch
  private val dim = 32
  private val clusters = 16
  private val k = 10
  private val queriesPerOp = 16
  private val probes = 32
  private val vecType = ArrayType(DoubleType)
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", vecType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", vecType)))
  private var inDir: String = _
  private var dir: String = _ // ledgers and vectors, built by set-up 0
  private var idxDir: String = _ // the index, rebuilt by every set-up
  private var centers: IndexedSeq[Array[Double]] = _
  private var seedCorpus: IndexedSeq[Array[Double]] = _
  private var gen: java.util.SplittableRandom = _
  private val history = mutable.ArrayBuffer.empty[Doc]
  private val epochs = mutable.ArrayBuffer.empty[IndexedSeq[Doc]]
  private var nextEpoch = 0
  private var bytesIn = 0L
  private var admittedNear = 0L
  private var offered = 0L
  private var planted = 0
  private var rejected = 0
  private var probeHits = 0
  private val indexed = mutable.Map.empty[Long, Array[Double]]
  private val deleted = mutable.Set.empty[Long]

  private def exact = s"$dir/exact"
  private def near = s"$dir/near"
  private def exactEpochs = s"$dir/exact_epochs"
  private def nearEpochs = s"$dir/near_epochs"
  private def idx = s"$idxDir/idx"
  private def vectors = s"$dir/vectors"
  private def stores = Seq(near, Dedup.ndlBandsPath(near), exact, idx)

  def generate(d: String): Unit = {
    inDir = d
    val r = Inputs.rng(ctx.seed, 5)
    centers = Inputs.centers(r, clusters, dim)
    seedCorpus = Inputs.clusteredVectors(r, centers, seedVectors, 0.35)
    val w = new PrintWriter(s"$d/seed_vectors.jsonl")
    try seedCorpus.zipWithIndex.foreach { case (v, i) =>
      w.println(s"""{"vec_id":${seedId(i)},"embedding":[${v.mkString(",")}]}""")
    } finally w.close()
    gen = Inputs.rng(ctx.seed, 4)
    ensureEpoch(0)
  }

  private def seedId(i: Int): Long = 1000000000L + i

  /** Writes epochs up to `e` as JSONL; called before the clock starts. */
  private def ensureEpoch(e: Int): Unit =
    while (epochs.size <= e) {
      val n = epochs.size
      val docs = Inputs.docEpoch(gen, n.toLong * batchDocs, batchDocs, history,
        exactShare, nearShare, centers)
      val w = new PrintWriter(s"$inDir/epoch-$n.jsonl")
      try docs.foreach(d => w.println(s"""{"doc_id":${d.id},"text":"${d.text}",""" +
        s""""embedding":[${d.vec.mkString(",")}]}"""))
      finally w.close()
      epochs += docs
    }

  override def prepare(i: Int): Unit = ensureEpoch(nextEpoch)

  private def nextBatch(): (Long, IndexedSeq[Doc], DataFrame) = {
    val e = nextEpoch; nextEpoch += 1
    val docs = epochs(e)
    bytesIn += docs.map(d => 8L + 8L * dim + d.text.getBytes("UTF-8").length).sum
    (e.toLong, docs, ctx.spark.read.schema(docSchema).json(s"$inDir/epoch-$e.jsonl"))
  }

  /** Set-up 0 writes the seed vectors, builds the index and runs the seed
    * epoch through every operation, which warms up and seeds both ledgers.
    * Later set-ups rebuild the index over the vectors stored so far. */
  def setup(d: String, rep: Int): Unit = {
    val spark = ctx.spark
    idxDir = d
    if (rep == 0) {
      dir = d
      bytesIn = seedVectors.toLong * (8L + 8L * dim)
      spark.read.schema(vecSchema).json(s"$inDir/seed_vectors.jsonl")
        .write.parquet(vectors)
    }
    Similarity.saveIvfSq8Index(Similarity.buildIvfSq8Index(
      spark.read.schema(vecSchema).parquet(vectors), "vec_id", "embedding"), idx)
    if (rep == 0) {
      seedCorpus.indices.foreach(i => indexed(seedId(i)) = seedCorpus(i))
      epoch().verify()
    }
  }

  private def serve(qs: Seq[(Long, Array[Double])]): Seq[(Long, Long)] = {
    val spark = ctx.spark
    import spark.implicits._
    val index = ctx.span("similarity.load")(Similarity.loadIvfSq8Index(spark, idx))
    ctx.span("similarity.topk") {
      val res = Similarity.ivfSq8TopKFromIndex(index,
          spark.read.schema(vecSchema).parquet(vectors),
          qs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      ctx.rows(res.size)
      res
    }
  }

  /** recall@10 of the served index against exact cosine top-10 over the
    * vectors it holds, on a probe set fixed by the seed. */
  override def afterSetup(): Unit = {
    val r = Inputs.rng(ctx.seed, 9)
    val probe = Inputs.clusteredVectors(r, centers, probes, 0.35).zipWithIndex
      .map { case (v, i) => (2000000000L + i, v) }
    def unit(v: Array[Double]) = { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    val live = indexed.toSeq.filterNot(p => deleted.contains(p._1))
      .map { case (id, v) => (id, unit(v)) }
    val exactTop = probe.map { case (id, q) =>
      val u = unit(q)
      id -> live.sortBy { case (vid, v) => (-v.zip(u).map(p => p._1 * p._2).sum, vid) }
        .take(k).map(_._1).toSet
    }.toMap
    val got = serve(probe).groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    probeHits = exactTop.map { case (q, e) =>
      got.getOrElse(q, Set.empty[Long]).intersect(e).size }.sum
  }

  private def epoch(): Outcome = {
    val spark = ctx.spark
    val (e, docs, batch) = nextBatch()
    val ex = ctx.span("dedup.exact_admit") {
      Dedup.ledgerAdmitStreamBatch(spark, exact, exactEpochs, batch, "doc_id",
        "text", e).select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    val ndDf = ctx.span("dedup.neardup_admit") {
      Dedup.nearDupLedgerAdmitStreamBatch(spark, near, nearEpochs, batch,
        "doc_id", "text", e)
    }
    val nd = ndDf.select("doc_id").collect().map(_.getLong(0)).toSeq
    val vecs = ndDf.select(col("doc_id").as("vec_id"), col("embedding"))
    vecs.write.mode("append").parquet(vectors)
    val appended = ctx.span("similarity.append") {
      Similarity.appendToIvfSq8Index(spark, idx, vecs, "vec_id", "embedding")
    }
    val byId = docs.map(d => d.id -> d).toMap
    nd.foreach(id => indexed(id) = byId(id).vec)
    val qs = nd.filter(id => byId(id).kind == "fresh").take(queriesPerOp)
      .map(id => id -> byId(id).vec)
    val served = serve(qs)
    admittedNear += nd.size; offered += docs.size
    if (e < recallEpochs) {
      val nearIds = docs.filter(_.kind == "near").map(_.id)
      planted += nearIds.size
      rejected += nearIds.count(id => !nd.contains(id))
    }
    val gone = deleted.toSet
    Outcome(docs.size, ex.size + nd.size + served.size, () => {
      val ids = byId.keySet
      val exactDups = docs.filter(_.kind == "exact").map(_.id).toSet
      val fresh = docs.filter(_.kind == "fresh").map(_.id).toSet
      val exAdm = ctx.tamper(ex)
      Seq("exact" -> exAdm, "near-dup" -> nd).foreach { case (which, adm) =>
        val a = adm.toSet
        ctx.check(a.size == adm.size && a.subsetOf(ids),
          s"$which admit of epoch $e: admitted is not a subset of the batch")
        ctx.check(a.intersect(exactDups).isEmpty,
          s"$which admit of epoch $e admitted a planted exact duplicate")
        ctx.check(fresh.subsetOf(a),
          s"$which admit of epoch $e rejected a fresh document")
      }
      // near-dups differ in one word, so the exact ledger admits them all
      val nearIds = docs.filter(_.kind == "near").map(_.id).toSet
      ctx.check(nearIds.subsetOf(exAdm.toSet),
        s"exact admit of epoch $e rejected a near-duplicate")
      ctx.check(appended == nd.size, s"index appended $appended of ${nd.size}")
      val byQ = served.groupBy(_._1)
      qs.foreach { case (q, _) =>
        val ns = byQ.getOrElse(q, Nil).map(_._2)
        ctx.check(ns.size == k, s"query $q returned ${ns.size} rows")
        ctx.check(ns.forall(id => indexed.contains(id) && !gone.contains(id)),
          s"query $q served a deleted or unknown id")
      }
    })
  }

  def op(i: Int): Outcome = epoch()

  /** Documents of the near-dup ledger's current generation matching
    * `cond`; used by the output checks, so it records no spans. */
  private def primaryDocs(cond: Column): Long =
    Gen.read(ctx.spark, Gen.resolve(ctx.spark, near)).filter(cond).count()

  private def deleteFromIndex(ids: Seq[Long]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.span("similarity.delete") {
      Similarity.deleteFromIvfSq8Index(spark, idx, ids.toDF("vec_id"), "vec_id")
    }
    deleted ++= ids
  }

  override def maintenance(i: Int): Seq[(String, () => Outcome)] = {
    val spark = ctx.spark
    import spark.implicits._
    val e = nextEpoch - 1 // newest sealed epoch
    val ackSweep = "ack_sweep" -> (() => {
      ctx.span("dedup.epoch_ack_sweep") {
        Seq(exactEpochs, nearEpochs).foreach { root =>
          Dedup.ackAdmitEpochs(spark, root, (e - 1).toLong)
          Dedup.sweepAdmitEpochs(spark, root, keepLast = 2)
        }
      }
      Outcome(0, 0, () => ())
    })
    val forget = "forget" -> (() => {
      // a forget names documents the ledger holds: the three lowest fresh
      // ids of the newest epoch, read from its current generation
      val fresh = epochs(e).filter(_.kind == "fresh").map(_.id)
      val cur = ctx.span("gen.resolve")(Gen.resolve(spark, near))
      val ids = Gen.read(spark, cur).filter(col("doc").isin(fresh: _*))
        .select(col("doc").cast("long")).orderBy("doc").limit(3).collect()
        .map(_.getLong(0)).toSeq
      ctx.span("dedup.forget") {
        Dedup.nearDupLedgerForget(spark, near, ids.toDF("doc_id"), "doc_id")
      }
      deleteFromIndex(ids)
      Outcome(0, 0, () => {
        ctx.check(ids == fresh.sorted.take(3), s"forget picked $ids from the ledger")
        ctx.check(primaryDocs(col("doc").isin(ids: _*)) == 0,
          s"forgotten ids $ids remain")
      })
    })
    val expire = "expire" -> (() => {
      val before = e.toLong * batchDocs // every epoch before the newest
      ctx.span("dedup.expire")(Dedup.nearDupLedgerExpire(spark, near, before))
      val old = indexed.keys.filter(id => id < before && !deleted.contains(id)).toSeq
      if (old.nonEmpty) deleteFromIndex(old)
      Outcome(0, 0, () => ctx.check(
        primaryDocs(col("doc") >= 0 && col("doc") < before) == 0,
        s"documents below $before remain after expiry"))
    })
    val compaction = "compact" -> (() => {
      ctx.span("dedup.compact") {
        Dedup.compactNearDupLedger(spark, near)
        Dedup.compactDedupLedger(spark, exact)
      }
      ctx.span("similarity.compact")(Similarity.compactIvfSq8Index(spark, idx))
      ctx.span("gen.sweep")(stores.foreach(p => Gen.sweepGenerations(spark, p)))
      Outcome(0, 0, () => ())
    })
    Seq(ackSweep, forget, expire, compaction)
  }

  /** Share of the planted ground truth recovered: the planted near-duplicates
    * of the first epochs that were rejected, plus the probe set's true
    * top-10 neighbors that were served. */
  def recall: Double = (rejected + probeHits).toDouble / (planted + probes * k)
  def storeBytes: Long =
    Util.du(idx) + new java.io.File(dir).listFiles()
      .filterNot(f => Set("vectors", "idx").contains(f.getName))
      .map(f => Util.du(f.getPath)).sum
  def inputBytes: Long = bytesIn
  def properties: Map[String, Double] = Map(
    "docs_per_epoch" -> batchDocs.toDouble, "exact_dup_share" -> exactShare,
    "near_dup_share" -> nearShare, "epochs" -> nextEpoch.toDouble,
    "seed_vectors" -> seedVectors.toDouble, "dim" -> dim.toDouble,
    "clusters" -> clusters.toDouble, "k" -> k.toDouble,
    "near_dup_recall" -> rejected.toDouble / math.max(1, planted),
    "recall_at_10" -> probeHits.toDouble / (probes * k))
  override def layerValues: Map[String, Double] = Map(
    "dedup.admitted_share" -> admittedNear.toDouble / math.max(1, offered),
    "gen.generations_live" -> stores.map(p =>
      Gen.generationCensus(ctx.spark, p).filter(col("committed")).count()).sum.toDouble)
}

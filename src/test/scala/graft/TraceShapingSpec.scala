package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{SpanOps, TraceOps}
import graft.sources.JaegerJsonSource

/** Trace/span shaping over the synthetic fixture (tools/gen_fixture.py):
  * covers T1 (summarize), T2-T4 (flatten + tag map), pivot, traceWithSpans,
  * and the reference quirks: per-TAG error counting, spans[0] root fallback,
  * empty-trace fallbacks, duplicate-tag-key last-wins. */
class TraceShapingSpec extends SparkTestBase {

  private lazy val raw = JaegerJsonSource.traces(spark, fixturePath).cache()
  private lazy val traces = TraceOps.summarize(raw).cache()
  private lazy val flat = SpanOps.flatten(raw).cache()

  test("summarize: 40 traces, 8 columns, stable schema") {
    assert(traces.count() === 40)
    assert(traces.columns.toSeq === Seq("traceID", "traceName", "nspans",
      "errspans", "duration", "startTime", "processes", "iserror"))
  }

  test("summarize: error TAGS counted (span with 2 error tags counts 2)") {
    val errs = traces.select("traceID", "errspans").where(col("errspans") > 0)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(errs === Map(
      "4f31115257dcdd56" -> 2, // one span carrying two error tags
      "ea098322cd9109d1" -> 1,
      "721e1c61c4bd0f72" -> 1,
      "b687915f8686e111" -> 1))
    assert(traces.where(col("iserror")).count() === 4)
  }

  test("summarize: empty trace falls back to traceID name, epoch 0, 0 duration") {
    val r = traces.where(col("traceID") === "cc2883e37242fbb8")
      .select("traceName", "nspans", "duration", "startTime").head()
    assert(r.getString(0) === "cc2883e37242fbb8")
    assert(r.getInt(1) === 0)
    assert(r.getLong(2) === 0L)
    assert(r.getTimestamp(3).getTime === 0L)
  }

  test("summarize: missing-root trace uses spans[0] (reference quirk)") {
    val r = traces.where(col("traceID") === "c08fe0919e0def0c")
      .select("traceName", "duration").head()
    assert(r.getString(0) === "api: /v1/get")
    assert(r.getLong(1) === 50000L)
  }

  test("summarize: sorted by startTime descending") {
    val times = traces.select("startTime").collect().map(_.getTimestamp(0).getTime)
    assert(times.toSeq === times.sortBy(-_).toSeq)
  }

  test("flatten: 331 spans, map-typed tags, service resolved, parent extracted") {
    assert(flat.count() === 331)
    assert(flat.where(col("service").isNull).count() === 0)
    // roots have parent ""
    val single = flat.where(col("traceID") === "073a675ee5118cde").head()
    assert(single.getAs[String]("parent") === "")
    assert(single.getAs[String]("service") === "web")
  }

  test("flatten: duplicate tag key keeps the LAST value (dict overwrite parity)") {
    val tags = flat.where(col("spanID") === "df33d5e931f6da5f")
      .select(try_element_at(col("tags"), lit("region"))).head().getString(0)
    assert(tags === "ap-south")
  }

  test("pivotTags: 11 fixed + 9 tag-key columns") {
    val wide = SpanOps.pivotTags(flat)
    assert(wide.columns.length === 20)
    assert(wide.count() === 331)
    assert(wide.columns.contains("http.status_code"))
    // absent tag -> null (ragged keys)
    assert(wide.where(col("`sampler.type`").isNull).count() > 0)
  }

  test("traceWithSpans: nested single-trace row with deduped spans") {
    import org.apache.spark.sql.types._
    val nested = SpanOps.traceWithSpans(traces, flat.union(flat), "073a675ee5118cde")
    val row = nested.head()
    assert(nested.count() === 1)
    assert(row.getAs[Seq[Any]]("spans").size === 1) // dupes removed
    // the schema of the inner join it replaces: trace columns, then a
    // non-null spans array of non-null structs
    val str = StringType
    val tag = StructType(Seq(StructField("key", str), StructField("type", str),
      StructField("value", str)))
    assert(nested.schema === StructType(Seq(
      StructField("traceID", str), StructField("traceName", str),
      StructField("nspans", IntegerType, nullable = false),
      StructField("errspans", IntegerType, nullable = false),
      StructField("duration", LongType, nullable = false),
      StructField("startTime", TimestampType, nullable = false),
      StructField("processes", MapType(str, StructType(Seq(
        StructField("serviceName", str),
        StructField("tags", ArrayType(tag)))))),
      StructField("iserror", BooleanType, nullable = false),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("spanID", str), StructField("operationName", str),
        StructField("startTime", LongType), StructField("duration", LongType),
        StructField("processID", str), StructField("parent", str, nullable = false),
        StructField("service", str))), containsNull = false),
        nullable = false))))
    // spans come back sorted by (startTime, spanID); this trace's input
    // order is not sorted
    val id = "3f70456c238d4753"
    val spans = SpanOps.traceWithSpans(traces, flat, id).head()
      .getAs[collection.Seq[Row]]("spans").map(s => (s.getAs[Long]("startTime"),
        s.getAs[String]("spanID")))
    assert(spans.size === 16)
    assert(spans === spans.sorted)
    // a duplicated trace row gives one output row each
    assert(SpanOps.traceWithSpans(traces.union(traces), flat, id).count() === 2)
  }

  test("traceWithSpans: a duplicate spanID keeps the earliest copy; " +
      "ties pick the same copy whatever the input order") {
    import SparkTestBase.session.implicits._
    val id = "3f70456c238d4753"
    val mine = flat.where(col("traceID") === id)
    val target = mine.orderBy("spanID").limit(1)
    val (sid, t0) = target.select("spanID", "startTime").as[(String, Long)]
      .head()
    def copy(dt: Long, op: String) = target
      .withColumn("startTime", lit(t0 + dt))
      .withColumn("operationName", lit(op))
    def kept(spans: org.apache.spark.sql.DataFrame) =
      SpanOps.traceWithSpans(traces, spans, id).head()
        .getAs[collection.Seq[Row]]("spans")
    def pick(spans: org.apache.spark.sql.DataFrame): String =
      kept(spans).filter(_.getAs[String]("spanID") == sid)
        .map(_.getAs[String]("operationName")).mkString(",")
    // the earliest of three copies survives, and only one copy does
    val three = copy(5, "late").union(mine).union(copy(-1, "early"))
    assert(kept(three).size === 16)
    assert(pick(three) === "early")
    // equal (startTime, duration): the other fields break the tie
    val (a, b) = (copy(-1, "tie-b"), copy(-1, "tie-a"))
    assert(pick(a.union(b).union(mine)) === "tie-a")
    assert(pick(b.union(a).union(mine)) === "tie-a")
  }

  test("traceWithSpans: unknown traceID raises (reference parity)") {
    intercept[NoSuchElementException](
      SpanOps.traceWithSpans(traces, flat, "nope"))
    // non-strict opt-out yields an empty frame
    assert(SpanOps.traceWithSpans(traces, flat, "nope", strict = false)
      .count() === 0)
    // a trace row without spans is found (no raise) but gives no row,
    // as the inner join did
    assert(SpanOps.traceWithSpans(traces, flat, "cc2883e37242fbb8")
      .count() === 0)
  }

  test("traceWithSpans: one Spark job and no shuffle per lookup, " +
      "found or not, strict or not") {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler._
    import org.apache.spark.GraftSparkBridge.drainListenerBus
    val jobs = new AtomicLong
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    // fill both caches first, so their building is not counted
    traces.count(); flat.count()
    drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (id <- Seq("3f70456c238d4753", "nope"); strict <- Seq(true, false)) {
        jobs.set(0); shuffled.set(0)
        try SpanOps.traceWithSpans(traces, flat, id, strict).collect()
        catch { case _: NoSuchElementException => assert(strict && id == "nope") }
        drainListenerBus(spark.sparkContext)
        assert((jobs.get, shuffled.get) === (1L, 0L), s"$id strict=$strict")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pivotTags: columns are typed by the tag discriminator") {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
    val wide = SpanOps.pivotTags(flat)
    val types = wide.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("sampler.param") === BooleanType)
    assert(types("http.status_code") === LongType)
    assert(types("http.url") === StringType)
    // the fixture's `error` key appears with BOTH bool and string
    // discriminators (the two-error-tag span) → degrades to string, the
    // honest analog of pandas' mixed-type object column
    assert(types("error") === StringType)
    // typed columns compare natively, as the reference's wide frame does
    // (numeric comparison — "200" >= 100 lexically would be false)
    assert(wide.where(col("`http.status_code`") >= 100).count() > 0)
    assert(wide.where(col("`sampler.param`")).count() > 0)
  }

  test("pivotTags: key-cardinality guard refuses hostile key counts") {
    intercept[IllegalArgumentException](
      SpanOps.pivotTags(flat, maxKeys = 3))
  }

  test("API-response and JSONL readers produce the same traces") {
    // wrap the fixture array into the /api/traces response shape
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.readTree(new java.io.File(fixturePath))
    val wrapped = mapper.createObjectNode()
    wrapped.set[com.fasterxml.jackson.databind.JsonNode]("data", arr)
    val f = java.io.File.createTempFile("graft_api", ".json")
    f.deleteOnExit()
    mapper.writeValue(f, wrapped)
    val viaApi = graft.sources.JaegerJsonSource
      .tracesFromApiResponse(spark, f.getAbsolutePath)
    assert(viaApi.count() === 40)
    // JSONL: one trace per line
    val jl = java.io.File.createTempFile("graft_jsonl", ".json")
    jl.deleteOnExit()
    val w = new java.io.PrintWriter(jl)
    (0 until arr.size()).foreach(i => w.println(mapper.writeValueAsString(arr.get(i))))
    w.close()
    val viaJsonl = graft.sources.JaegerJsonSource
      .tracesJsonl(spark, jl.getAbsolutePath)
    assert(viaJsonl.count() === 40)
    assert(TraceOps.summarize(viaJsonl).drop("processes")
      .collect().map(_.toString).sorted.toSeq ===
      traces.drop("processes").collect().map(_.toString).sorted.toSeq)
  }

  test("typed tag accessors: str/int/bool with null-safe misses") {
    import graft.functions.TagFunctions._
    val http = flat.where(col("spanID") === "073a675ee5118cde").select(
      tagStr(col("tags"), "http.method").as("m"),
      tagInt(col("tags"), "http.status_code").as("code"),
      tagBool(col("tags"), "sampler.param").as("sampled"),
      tagInt(col("tags"), "component").as("not_a_number"),
      tagStr(col("tags"), "absent").as("missing")).head()
    assert(Set("GET", "POST").contains(http.getAs[String]("m")))
    assert(http.getAs[Long]("code") === 200L)
    assert(http.getAs[Boolean]("sampled"))
    assert(http.isNullAt(3)) // non-numeric value -> null, no ANSI throw
    assert(http.isNullAt(4)) // absent key -> null
  }

  test("service PageRank: hand graph satisfies the fixpoint equations, " +
      "mass conserved") {
    import SparkTestBase.session.implicits._
    import graft.analysis.ServiceGraph
    // A→B (2 calls), A→C (1), B→C (1), C→A (1): weighted, no danglers
    val edges = Seq(("A", "B", 2L), ("A", "C", 1L), ("B", "C", 1L),
      ("C", "A", 1L)).toDF("src", "dst", "calls")
    val got = ServiceGraph.pageRank(edges, iters = 100).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    val (ra, rb, rc) = (got("A"), got("B"), got("C"))
    // stationary equations with d = 0.85, (1-d)/3 = 0.05
    assert(math.abs(ra - (0.05 + 0.85 * rc)) < 1e-5)
    assert(math.abs(rb - (0.05 + 0.85 * (2.0 / 3 * ra))) < 1e-5)
    assert(math.abs(rc - (0.05 + 0.85 * (1.0 / 3 * ra + rb))) < 1e-5)
  }

  test("dependencyEdges: total edge weight equals resolvable " +
      "parent-child links") {
    import graft.analysis.ServiceGraph
    val edges = ServiceGraph.dependencyEdges(flat)
    val rows = edges.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("calls") > 0))
    val links = flat.filter(col("parent") =!= "").as("c")
      .join(flat.as("p"), col("c.traceID") === col("p.traceID") &&
        col("c.parent") === col("p.spanID"))
      .count()
    assert(rows.map(_.getAs[Long]("calls")).sum === links)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.analysis.CriticalPath
import graft.model.CritSeg
import graft.operators.{SpanOps, TraceOps}
import graft.sources.JaegerJsonSource

/** Public facade mirroring the reference's API surface
  * (`/root/reference/traceframe/__init__.py:4-15`) in Spark-native form:
  * every function returns a lazy `DataFrame`/`Dataset` plan instead of a
  * materialized pandas frame — except [[traceWithSpans]], an eager point
  * lookup like the reference's (which returns one dict): it runs its one
  * Spark job when called and returns a local frame.
  *
  * Reference → graft mapping:
  *   - `traces_from_jaeger_file`  → [[tracesFromJaegerFile]]
  *   - `spans_from_jaeger_file`   → [[spansFromJaegerFile]]
  *   - `process_traces`           → [[operators.TraceOps.summarize]]
  *   - `traceWithSpans`           → [[traceWithSpans]]
  *   - `get_critical_segments`    → [[criticalSegments]] (distributed A2 form)
  *   - `traces_from_jaeger`       → [[tracesFromJaeger]] (DSv2 "jaeger")
  *   - `spans_from_jaeger`        → [[spansFromJaeger]]
  *   - `known_services`           → [[knownServices]]
  *   - `internal_spans_from_es` / `spans_from_es` / `traces_from_es`
  *                                → [[spansFromEs]] / [[tracesFromEs]]
  *                                  (DSv2 "es-spans")
  */
object TraceFrame {

  /** Traces summary frame from a Jaeger-UI-export JSON file. */
  def tracesFromJaegerFile(spark: SparkSession, path: String): DataFrame =
    TraceOps.summarize(JaegerJsonSource.traces(spark, path))

  /** Flat spans frame (map-typed tags) from a Jaeger JSON file. */
  def spansFromJaegerFile(spark: SparkSession, path: String): DataFrame =
    SpanOps.flatten(JaegerJsonSource.traces(spark, path))

  /** Wide (tag-pivoted) spans frame — the reference's exact spans shape. */
  def spansFromJaegerFileWide(spark: SparkSession, path: String): DataFrame =
    SpanOps.pivotTags(spansFromJaegerFile(spark, path))

  /** Single nested trace, looked up eagerly: summary row + deduplicated
    * spans array; raises on an unknown traceID like the reference
    * (`strict = false` opts out). */
  def traceWithSpans(traces: DataFrame, flatSpans: DataFrame,
      traceID: String, strict: Boolean = true): DataFrame =
    SpanOps.traceWithSpans(traces, flatSpans, traceID, strict)

  /** Critical-path segments for every trace in the spans frame. */
  def criticalSegments(flatSpans: DataFrame): Dataset[CritSeg] =
    CriticalPath.segmentsFromFlat(flatSpans)

  // --- HTTP / Elasticsearch entry points (DSv2 connectors) ----------------

  /** `traces_from_jaeger`: summary frame off the Jaeger HTTP API
    * (bisecting partitioned fetch; options: service, limit, start, end,
    * operation, mindur, maxdur — see sources/jaeger). */
  def tracesFromJaeger(spark: SparkSession, endpoint: String,
      options: Map[String, String] = Map.empty): DataFrame =
    graft.sources.jaeger.JaegerSource.traces(spark, endpoint, options)

  /** `spans_from_jaeger`: flat spans for the given services (reference
    * quirk preserved: no cross-service dedup). */
  def spansFromJaeger(spark: SparkSession, endpoint: String,
      services: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame =
    graft.sources.jaeger.JaegerSource.spansForServices(
      spark, endpoint, services, options)

  /** `known_services`: the Jaeger service catalog (driver-side metadata
    * call, like the reference). */
  def knownServices(endpoint: String): Seq[String] =
    graft.sources.jaeger.JaegerSource.knownServices(endpoint)

  /** `spans_from_es` / `internal_spans_from_es`: flat spans off an
    * Elasticsearch span index (slice-parallel scroll scan). */
  def spansFromEs(spark: SparkSession, endpoint: String,
      options: Map[String, String] = Map.empty): DataFrame =
    graft.sources.es.EsSpanOps.flatSpans(
      options.foldLeft(
        spark.read.format("es-spans").option("endpoint", endpoint)) {
        case (r, (k, v)) => r.option(k, v)
      }.load())

  /** `traces_from_es`: summary frame re-assembled from ES span docs. */
  def tracesFromEs(spark: SparkSession, endpoint: String,
      options: Map[String, String] = Map.empty): DataFrame =
    graft.sources.es.EsSpanOps.traces(spark, endpoint, options)
}

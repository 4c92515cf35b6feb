package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** Span-shaping operators: raw traces → flat spans frame
  * (reference `spans_from_jaeger_file` / `append_spans`,
  * `/root/reference/traceframe/traceframe.py:436-495`).
  *
  * Core schema decision (SURVEY.md §1.3): the reference pivots every distinct
  * tag key into its own column (71 columns on its fixture; unbounded at
  * scale). Our core model keeps `tags` as a stable `MapType(String,String)`
  * column — schema-stable at 100 TB — and offers [[pivotTags]] as an explicit
  * two-job wide pivot for interactive use.
  */
object SpanOps {

  /** T3 `parent_span` (`traceframe.py:429-433`): first CHILD_OF reference's
    * spanID, else "". */
  def parentExpr(span: Column): Column =
    coalesce(
      get(filter(span.getField("references"),
        r => r.getField("refType") === "CHILD_OF"), lit(0))
        .getField("spanID"),
      lit(""))

  /** T4 `taglist_to_tags` (`traceframe.py:261-265`): tag entry array → map
    * with duplicate keys resolved LAST-wins, like the reference's dict
    * overwrite — expressed directly in the plan (keep each key's final
    * occurrence, then `map_from_entries` over now-unique keys), so no
    * session-global `spark.sql.mapKeyDedupPolicy` mutation is needed and
    * the operator composes under any session config. Tag lists are tiny
    * (≤ tens of entries) so the quadratic last-occurrence scan is noise. */
  def lastWinMap(entries: Column, valueField: String): Column = {
    val withIdx = transform(entries, (t, i) =>
      struct(t.getField("key").as("key"),
        t.getField(valueField).as("value"), i.as("i")))
    val kept = filter(withIdx, e =>
      !exists(withIdx, o =>
        o.getField("key") === e.getField("key") &&
          o.getField("i") > e.getField("i")))
    map_from_entries(transform(kept, e =>
      struct(e.getField("key").as("key"), e.getField("value").as("value"))))
  }

  private val emptyTags =
    array().cast("array<struct<key:string,type:string,value:string>>")

  /** T2 span flatten (`traceframe.py:455-471,485-495`): explode `spans`, add
    * `service` (processes-map lookup — a co-located map access, not a join)
    * and `parent`, fold the tag list into a map (T4 `taglist_to_tags`,
    * last-key-wins like the reference's dict overwrite). `tagTypes` keeps
    * the per-key Jaeger type discriminator (string/bool/int64/float64) so
    * [[pivotTags]] can emit typed columns like the reference's wide frame.
    *
    * Output: traceID, spanID, flags, operationName, startTime, duration,
    * logs, processID, warnings, service, parent, tags(map), tagTypes(map).
    * Narrow transformation — zero shuffles; nested-column pruning drops
    * untouched span fields at the parquet/JSON scan.
    */
  def flatten(rawTraces: DataFrame): DataFrame =
    rawTraces
      .select(col("processes"), explode(col("spans")).as("s"))
      .select(
        col("s.traceID"),
        col("s.spanID"),
        col("s.flags"),
        col("s.operationName"),
        col("s.startTime"),
        col("s.duration"),
        col("s.logs"),
        col("s.processID"),
        col("s.warnings"),
        try_element_at(col("processes"), col("s.processID"))
          .getField("serviceName").as("service"),
        parentExpr(col("s")).as("parent"),
        lastWinMap(coalesce(col("s.tags"), emptyTags), "value").as("tags"),
        lastWinMap(coalesce(col("s.tags"), emptyTags), "type").as("tagTypes"))

  /** Spark type per Jaeger tag-type discriminator. A key observed with
    * conflicting discriminators degrades to string (pandas' `object` analog). */
  private def sparkTypeFor(jaegerTypes: Set[String]): String =
    if (jaegerTypes.size != 1) "string"
    else jaegerTypes.head match {
      case "bool" => "boolean"
      case "int64" => "long"
      case "float64" => "double"
      case _ => "string"
    }

  /** Wide tag pivot: one column per tag key, TYPED by the Jaeger tag `type`
    * discriminator (bool/int64/float64/string) so the frame matches the
    * reference's per-key dtypes (`traceframe.py:466`, README.md:29-60) —
    * `df.filter($"http.status_code" > 400)` compares numerically, not
    * lexically. Two jobs, same shape as Spark's own `Pivot`: job 1 collects
    * the distinct (key, type) set to the driver (skipped when `keys` is
    * given), job 2 is a pure projection with `try_cast` per key. `maxKeys`
    * guards against hostile key cardinality at scale (analogous to
    * `spark.sql.pivotMaxValues`). */
  def pivotTags(flatSpans: DataFrame, keys: Option[Seq[String]] = None,
      maxKeys: Int = 10000): DataFrame = {
    val hasTypes = flatSpans.columns.contains("tagTypes")
    val keyTypes: Seq[(String, String)] = keys match {
      case Some(ks) => ks.map(_ -> "string")
      case None if hasTypes =>
        // aggregate per KEY (not per (key,type) pair) so the cardinality
        // guard counts keys deterministically: orderBy + limit over keys,
        // conflicting discriminators detected via countDistinct — a
        // hostile corpus can overflow the key limit (require below fires)
        // but can never silently mistype or drop a surviving key
        flatSpans
          .select(explode(map_entries(col("tagTypes"))).as("e"))
          .select(col("e.key").as("k"), col("e.value").as("t"))
          .groupBy(col("k"))
          .agg(countDistinct(col("t")).as("nt"), min(col("t")).as("t"))
          .orderBy(col("k")).limit(maxKeys + 1)
          .collect()
          .map(r => (r.getString(0),
            if (r.getLong(1) > 1) "string"
            else sparkTypeFor(Set(r.getString(2)))))
          .toSeq
      case None =>
        flatSpans.select(explode(map_keys(col("tags"))).as("k"))
          .distinct().orderBy("k").limit(maxKeys + 1)
          .collect().map(_.getString(0) -> "string").toSeq
    }
    require(keyTypes.size <= maxKeys,
      s"tag pivot would create ${keyTypes.size} columns (> $maxKeys); " +
        "pass an explicit key list or use the map-typed core schema")
    val fixed = flatSpans.columns
      .filterNot(c => c == "tags" || c == "tagTypes").map(col).toSeq
    val pivoted = keyTypes.map { case (k, t) =>
      val v = try_element_at(col("tags"), lit(k))
      (if (t == "string") v else v.try_cast(t)).as(k)
    }
    flatSpans.select(fixed ++ pivoted: _*)
  }

  /** Inverse of [[flatten]]: reassemble nested trace rows from a flat spans
    * frame — the shape of the reference's ES ingestion (`traces_from_es`,
    * `traceframe.py:268-317`), which groups raw span documents into traces
    * before summarizing. The reference hand-rolls a sort-based group-by
    * (sort by traceID + adjacency scan); the Spark shape is a plain hash
    * aggregation — one shuffle on traceID, no global sort (SURVEY.md §2.1 S9).
    *
    * Reconstructs the raw trace schema (references from `parent`, tag list
    * from the tag map with string types, processes map from per-span
    * service) so [[TraceOps.summarize]] runs on the result unchanged. */
  def assembleTraces(flatSpans: DataFrame): DataFrame = {
    val spanStruct = struct(
      col("traceID"), col("spanID"), col("flags"), col("operationName"),
      when(col("parent") === "",
        array().cast("array<struct<refType:string,traceID:string,spanID:string>>"))
        .otherwise(array(struct(
          lit("CHILD_OF").as("refType"),
          col("traceID").as("traceID"),
          col("parent").as("spanID")))).as("references"),
      col("startTime"), col("duration"),
      transform(map_entries(col("tags")),
        e => struct(e.getField("key").as("key"),
          lit("string").as("type"),
          e.getField("value").as("value"))).as("tags"),
      col("logs"), col("processID"), col("warnings"))
    flatSpans
      .groupBy(col("traceID"))
      .agg(
        collect_list(spanStruct).as("spans"),
        map_from_entries(array_distinct(collect_list(
          struct(col("processID"),
            struct(col("service").as("serviceName"),
              array().cast("array<struct<key:string,type:string,value:string>>")
                .as("tags")))))).as("processes"))
      .withColumn("warnings", lit(null).cast("array<string>"))
  }

  /** Span fields [[traceWithSpans]] keeps, in the result's struct order. */
  private val lookupSpanFields = Seq("spanID", "operationName", "startTime",
    "duration", "processID", "parent", "service")

  /** Ascending field-by-field comparison with nulls first (Spark's default
    * ascending order); every compared field is a scalar, so `Comparable`. */
  private def byFields(names: Seq[String]): Ordering[Row] = (x, y) =>
    names.iterator.map { n =>
      (x.getAs[Any](n), y.getAs[Any](n)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
      }
    }.find(_ != 0).getOrElse(0)

  /** Which copy of a duplicated spanID survives: the smallest
    * (startTime, duration), remaining ties broken on the other fields,
    * so the pick does not depend on input order. */
  private val spanPick = byFields(Seq("startTime", "duration",
    "operationName", "processID", "parent", "service"))
  private val spanOrder = byFields(Seq("startTime", "spanID"))

  /** T13 `traceWithSpans` (`traceframe.py:620-632`): one trace's summary
    * row with its deduplicated spans nested as an array of
    * (spanID, operationName, startTime, duration, processID, parent,
    * service) structs, sorted by (startTime, spanID).
    *
    * Eager, like the reference, which returns a dict: one Spark job scans
    * the trace rows and the span rows of `traceID` (both keep the pushed
    * filter) as a union, and the driver assembles the answer, returned as
    * a local frame. The collect is bounded by `spark.driver.maxResultSize`.
    * Dedup keeps one span per spanID, the smallest (startTime, duration)
    * with nulls first, remaining ties broken on the other fields, so the
    * pick is deterministic — pandas' `drop_duplicates` keep-first depends
    * on row order, which has no stable distributed analog.
    *
    * One row per matching trace row when the trace has at least one span,
    * none otherwise (inner-join semantics). Reference parity: raises
    * `NoSuchElementException` when no trace row matches
    * (`traceframe.py:625`); `strict = false` returns the empty frame. */
  def traceWithSpans(traces: DataFrame, flatSpans: DataFrame,
      traceID: String, strict: Boolean = true): DataFrame = {
    val traceRows = traces.filter(col("traceID") === traceID)
      .select(struct(col("*")).as("t"))
    val spanRows = flatSpans.filter(col("traceID") === traceID)
      .select(struct(lookupSpanFields.map(col): _*).as("s"))
    val (ts, ss) = traceRows.unionByName(spanRows, allowMissingColumns = true)
      .collect().toSeq.partition(r => !r.isNullAt(r.fieldIndex("t")))
    if (strict && ts.isEmpty)
      throw new NoSuchElementException(
        s"No trace with traceID=$traceID") // traceframe.py:625 raises
    val spans = ss.map(_.getAs[Row]("s"))
      .groupBy(_.getAs[Any]("spanID")).values.map(_.min(spanPick))
      .toSeq.sorted(spanOrder)
    val spanType = spanRows.schema("s").dataType
    val schema = StructType(traces.schema.fields :+
      StructField("spans", ArrayType(spanType, containsNull = false),
        nullable = false))
    val rows = if (spans.isEmpty) Nil
      else ts.map(r => Row.fromSeq(r.getAs[Row]("t").toSeq :+ spans))
    traces.sparkSession.createDataFrame(rows.asJava, schema)
  }
}

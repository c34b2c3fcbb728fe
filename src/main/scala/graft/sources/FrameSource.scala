package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.EventModel

/** S1-S3: ingestion of the binary wire stream into a typed envelope table.
  *
  * The reference's reader polls Kafka byte[] records and lazily decodes
  * marker → header → body (reference: readers/common/src/main/java/.../reader/
  * GarmadonReader.java:162-239). Our Spark shape: the Kafka source DataFrame
  * (`value: binary`, `offset: long`, ...) → [[decodeFrames]] → a DataFrame
  * with (event_type, timestamp, kafka_offset, header, body) where corrupt
  * frames become nulls and are filtered (counted upstream via metrics),
  * and all type predicates land on the small `event_type` column before
  * any body decode — Catalyst orders the filter before the projection.
  */
object FrameSource {

  final case class DecodedFrame(
      event_type: String,
      type_marker: Int,
      timestamp_millis: Long,
      header: Array[Byte],
      body: Array[Byte],
      kafka_offset: Long)

  /** Decode a stream/batch of (value, offset) binary records into envelope
    * rows, dropping corrupt frames (PERMISSIVE semantics). Works on both
    * batch and streaming Datasets.
    */
  def decodeFrames(spark: SparkSession, raw: DataFrame,
                   valueCol: String = "value", offsetCol: String = "offset"): DataFrame = {
    import spark.implicits._
    val pairs = raw.select(col(valueCol).as("v"), col(offsetCol).cast("long").as("o"))
      .as[(Array[Byte], Long)]
    pairs.flatMap { case (bytes, off) =>
      EventModel.decode(bytes).map { f =>
        DecodedFrame(EventModel.typeMarkers.getOrElse(f.typeMarker, s"UNKNOWN_${f.typeMarker}"),
          f.typeMarker, f.timestampMillis, f.header, f.body, off)
      }
    }.toDF()
      .withColumn("timestamp", timestamp_millis(col("timestamp_millis")))
  }

  /** Fast relational decode: envelope fields extracted by native codegen
    * expressions ([[graft.functions.FrameExpressions]]); the marker/type
    * filter runs over raw bytes with no array copies, and header/body are
    * materialized only for surviving rows — the reference's lazy
    * deserialization, expressed as Catalyst projection ordering.
    * Measured (ThroughputBench, per-variant warmup, median round-robin):
    * ~1.2-1.3× the Dataset-flatMap path on the full decode-filter-aggregate
    * slice (both are an order of magnitude above the BASELINE 45 k
    * ev/s/core target); the gap widens when downstream prunes columns,
    * since unreferenced header/body copies are never materialized —
    * the flatMap path always copies both. Corrupt frames null out and are
    * filtered.
    */
  def decodeFramesFast(raw: DataFrame, valueCol: String = "value", offsetCol: String = "offset",
                       acceptedTypes: Seq[String] = Nil): DataFrame = {
    import graft.functions.FrameExpressions._
    val markerMap = typedlit(EventModel.typeMarkers)
    val withMarker = raw.select(
      frame_marker(col(valueCol)).as("type_marker"),
      col(valueCol).as("_v"),
      col(offsetCol).cast("long").as("kafka_offset"))
      .where(col("type_marker").isNotNull)
    // Filter on the 4-byte marker int BEFORE the string mapping: dropped
    // rows never touch the registry map or build a UTF8String.
    val accepted = acceptedTypes.flatMap(EventModel.markerForName.get)
    val typed = (if (acceptedTypes.isEmpty) withMarker
      else withMarker.where(col("type_marker").isin(accepted: _*)))
      .withColumn("event_type",
        coalesce(element_at(markerMap, col("type_marker")),
          concat(lit("UNKNOWN_"), col("type_marker"))))
    typed.select(
      col("event_type"), col("type_marker"),
      frame_ts_millis(col("_v")).as("timestamp_millis"),
      frame_header(col("_v")).as("header"),
      frame_body(col("_v")).as("body"),
      col("kafka_offset"))
      .withColumn("timestamp", timestamp_millis(col("timestamp_millis")))
  }

  /** S2 completion: envelope frames → ONE typed per-type table
    * `header ++ body ++ (timestamp, kafka_offset, event_type)` — the row
    * shape every downstream operator (Dashboards, HeuristicAggs, JvmStats)
    * consumes, matching the reference's flattened event
    * (reference: readers/common/src/main/java/.../protobuf/
    * ProtoConcatenator.java:81-168, readers/hdfs/.../EventsWithHeader.java:126-135).
    *
    * Plan shape: the `event_type` equality filter prunes on the small
    * string column BEFORE either proto decode runs (Catalyst orders the
    * predicate below the projection), so non-matching rows never pay a
    * parse — the reference's lazy deserialization. Both decodes and the
    * struct flatten stay inside one whole-stage-codegen stage.
    *
    * Each row is decoded once. The decodes sit inside a one-row `inline`
    * generator because the optimizer pushes a filter through a projection
    * by substituting its aliases: over a plain `select`, the
    * `_h/_b IS NOT NULL` drop below would run both decodes in the Filter
    * and again in the Project. It cannot push a predicate on a
    * generator's output below the generator.
    */
  def typedTable(frames: DataFrame, eventType: String): DataFrame = {
    import graft.functions.ProtoExpressions.proto_decode
    import graft.model.ProtoDescriptors
    frames.where(col("event_type") === eventType)
      .select(inline(array(struct(
        proto_decode(col("header"), ProtoDescriptors.header).as("_h"),
        proto_decode(col("body"), ProtoDescriptors.byEventType(eventType)).as("_b"),
        col("timestamp"), col("kafka_offset"), col("event_type")))))
      .where(col("_h").isNotNull && col("_b").isNotNull)
      .select(typedColumns(col("_h"), col("_b"), eventType) :+ col("event_type"): _*)
  }

  /** The flattened typed row of `eventType`, read off its decoded header
    * and body structs: `header ++ body ++ (timestamp, kafka_offset)`.
    * [[typedTable]] selects through it. [[graft.streaming.EventRouter]]
    * builds no such projection: it writes the decoded header and body
    * rows joined with (timestamp, kafka_offset) under [[typedSchema]],
    * which is this row field for field.
    */
  def typedColumns(header: Column, body: Column, eventType: String): Seq[Column] = {
    import graft.model.ProtoDescriptors
    def fields(schema: org.apache.spark.sql.types.StructType, struct: Column) =
      schema.fieldNames.toSeq.map(f => struct.getField(f).as(f))
    fields(ProtoDescriptors.header.schema, header) ++
      fields(ProtoDescriptors.byEventType(eventType).schema, body) ++
      Seq(col("timestamp"), col("kafka_offset"))
  }

  /** [[typedTable]]'s schema without `event_type`, read off the schema of
    * its `frames` instead of analysing its plan: the header's and the
    * body's fields as their descriptors declare them (typedTable reads
    * them off structs it has made non-null), then the frames' own
    * `timestamp` and `kafka_offset` fields, nullability and metadata
    * included. Analysing typedTable for all 20 types takes ~100 ms of
    * driver time even when warm (4-core VM); this takes well under 1 ms.
    */
  def typedSchema(frames: StructType, eventType: String): StructType = {
    import graft.model.ProtoDescriptors
    StructType(ProtoDescriptors.header.schema.fields ++
      ProtoDescriptors.byEventType(eventType).schema.fields ++
      Seq(frames("timestamp"), frames("kafka_offset")))
  }

  /** All typed tables present in a frame stream — feed to
    * [[EventTables.unionView]] for the cross-type view.
    */
  def typedTables(frames: DataFrame,
                  types: Seq[String] = EventModel.typeMarkers.values.toSeq): Map[String, DataFrame] =
    types.map(t => t -> typedTable(frames, t)).toMap

  /** The schema the `kafka` streaming source produces — pinned here so the
    * decode seam can be CONTRACT-TESTED without a broker: a stream with
    * exactly this shape must flow through [[decodeFramesFast]] →
    * [[typedTable]] unchanged when the real source replaces it
    * (`FrameSourceSpec` drives it through the streaming engine).
    */
  val kafkaSourceSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("key", BinaryType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("timestamp", TimestampType),
      StructField("timestampType", IntegerType)))
  }

  /** The option map [[kafkaStream]] passes to the `kafka` source —
    * exposed so the consumer semantics can be asserted against the
    * reference without a broker in the environment:
    *
    *  - `startingOffsets = earliest`: the reference consumer runs with
    *    `auto.offset.reset = earliest` (no committed offset → read from
    *    the beginning; reference readers/common/src/main/java/com/criteo/
    *    hadoop/garmadon/reader/GarmadonReader.java:301-307);
    *  - `failOnDataLoss = false`: on out-of-range offsets (retention
    *    expired past the committed position) the reference's reset policy
    *    re-anchors and KEEPS CONSUMING rather than dying — skipped ranges
    *    surface in the lag metrics ([[graft.streaming.IngestLagListener]]),
    *    not as a dead pipeline. Pass `failOnDataLoss = true` for
    *    pipelines that prefer a loud stop;
    *  - offset tracking lives in the streaming checkpoint (ST1), never in
    *    Kafka group commits — Spark's source always disables auto-commit,
    *    matching the reference's own committed-offset store
    *    (GarmadonReader.java:162-239);
    *  - `maxOffsetsPerTrigger` bounds a catch-up batch (ST6 backpressure).
    */
  def kafkaSourceOptions(bootstrap: String, topic: String,
                         startingOffsets: String = "earliest",
                         failOnDataLoss: Boolean = false,
                         maxOffsetsPerTrigger: Option[Long] = None): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> failOnDataLoss.toString) ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)

  /** Kafka streaming source for the event topic (S1). Never executed in
    * the offline build environment (no broker AND no kafka connector jars
    * — see COVERAGE.md §S1 for the waiver); the seam it feeds is contract-
    * tested instead: [[kafkaSourceOptions]] pins the consumer semantics,
    * [[kafkaSourceSchema]] pins the row shape the decode chain is proven
    * against in `FrameSourceSpec`.
    */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest",
                  failOnDataLoss: Boolean = false,
                  maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(bootstrap, topic, startingOffsets,
        failOnDataLoss, maxOffsetsPerTrigger))
      .load()
}

package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.ProtoExpressions.proto_decode
import graft.model.{EventModel, ProtoDescriptors}
import graft.serving.HeuristicsSink
import graft.sources.FrameSource
import graft.streaming.{EventRouter, EventSink, Sessionizer, StreamingEnrichment}

/** A reader started again on the same session reuses the classes its
  * first start compiled: each start runs on a clone of the session, and
  * the reader entry points turn artifact isolation off so the clones share
  * one class loader, the key of Spark's codegen cache.
  */
class ReaderRestartSpec extends SparkSpecBase {
  import spark.implicits._

  private val types = Seq("FS_EVENT", "GC_EVENT", "STATE_EVENT")

  private def header(app: String) = ProtoDescriptors.header.encode(Seq(
    app, "1", "restart", "u", "c_1", "h", "", "YARN", "EXECUTOR", "",
    Seq("YARN_APPLICATION"), "", "", "", 0, ""))

  private val day = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime

  /** Frames of three apps: FS and GC events, then each app's END. */
  private lazy val input: String = {
    val frames = (0 until 30).map { i =>
      val app = s"app_${i % 3}"
      val ts = day + i * 1000L
      val frame =
        if (i >= 27) EventModel.Frame(3, ts, header(app), ProtoDescriptors.stateEvent.encode(Seq("END")))
        else if (i % 2 == 0) EventModel.Frame(1, ts, header(app), ProtoDescriptors.fsEvent.encode(Seq(
          "/src", "", "READ", "hdfs://root", 5L, "u", "SUCCESS")))
        else EventModel.Frame(1000, ts, header(app), ProtoDescriptors.gcStatisticsData.encode(
          Seq("PS Scavenge", i.toLong, "Allocation Failure") ++ Seq.fill(10)(0L) ++ Seq(0.0f)))
      (EventModel.encode(frame), i.toLong)
    }
    val dir = Files.createTempDirectory("restart_in").toString
    spark.sparkContext.parallelize(frames, 2).toDF("value", "offset")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def raw: DataFrame =
    spark.readStream.schema("value BINARY, offset LONG").parquet(input)

  private def route(out: String): DataStreamWriter[org.apache.spark.sql.Row] =
    EventRouter.routeTyped(raw, s"$out/tables", s"$out/ckpt", types,
      trigger = Trigger.AvailableNow(), monitorLag = false)

  /** Typed headers → per-app attributes state → day-partitioned sink. */
  private def enrich(out: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    val input = FrameSource.decodeFramesFast(raw, acceptedTypes = types)
      .select(proto_decode(col("header"), ProtoDescriptors.header).as("h"), col("event_type"),
        col("timestamp_millis"))
      .where(col("h").isNotNull)
      .select(col("h.application_id").as("applicationId"), lit(false).as("isAppEvent"),
        lit(null).cast("struct<applicationName:string,framework:string,username:string," +
          "amContainerId:string,yarnTags:array<string>>").as("attrs"),
        col("event_type").as("eventType"), col("h.container_id").as("containerId"),
        col("h.component").as("component"), col("timestamp_millis").as("tsMillis"))
      .as[StreamingEnrichment.EnrichInput]
    val enriched = StreamingEnrichment.enrich(input).toDF()
      .withColumn("timestamp", timestamp_millis(col("tsMillis")))
      .withColumn("event_type", col("eventType"))
    EventSink.partitionedStreamWriter(enriched, s"$out/enriched", s"$out/ckpt",
      trigger = Trigger.AvailableNow(), monitorLag = false)
  }

  /** GC pauses folded per app session, closed by END, into JDBC rows. */
  private def heuristics(out: String, table: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    val et = col("event_type")
    val events = FrameSource.decodeFramesFast(raw, acceptedTypes = types)
      .select(proto_decode(col("header"), ProtoDescriptors.header).as("h"),
        when(et === "GC_EVENT", proto_decode(col("body"), ProtoDescriptors.gcStatisticsData)
          .getField("pause_time")).as("pause"),
        when(et === "STATE_EVENT", proto_decode(col("body"), ProtoDescriptors.stateEvent)
          .getField("state")).as("state"),
        et, col("timestamp"))
      .where(col("h").isNotNull)
      .select(concat(col("h.application_id"), lit("#"), col("h.attempt_id")).as("appKey"),
        col("h.container_id").as("containerId"), et.as("eventType"),
        coalesce(col("state"), lit("")).as("state"), unix_millis(col("timestamp")).as("tsMillis"),
        coalesce(col("pause"), lit(0L)).cast("double").as("metric"), col("timestamp"))
      .withWatermark("timestamp", "26 hours")
      .as[Sessionizer.SessionEvent]
    val closed = Sessionizer.sessionAggregate(events).toDF()
      .select(split(col("appKey"), "#").getItem(0).as("application_id"),
        split(col("appKey"), "#").getItem(1).as("attempt_id"),
        when(col("max") > 20, 2).otherwise(0).as("severity"),
        col("count").as("score"), col("closedBy"))
    HeuristicsSink.streamWriter(
      HeuristicsSink.resultRows(closed, "graft.GcPause", scoreCol = Some("score"),
        instanceCol = Some("closedBy")),
      "jdbc:derby:memory:restartdb;create=true", table,
      driver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))
      .option("checkpointLocation", s"$out/ckpt").trigger(Trigger.AvailableNow())
  }

  /** Classes compiled by starting `reader` on a fresh output dir and
    * running it to the end of the input.
    */
  private def compiles(reader: String => DataStreamWriter[org.apache.spark.sql.Row]): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    reader(Files.createTempDirectory("restart_out").toString).start().awaitTermination()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second start of the route reader compiles no class") {
    compiles(route)
    assert(compiles(route) == 0)
  }

  test("second starts of the enrichment and heuristics readers compile fewer than 5 classes each") {
    compiles(enrich)
    assert(compiles(enrich) < 5)
    compiles(heuristics(_, "HEUR_RESTART_1"))
    assert(compiles(heuristics(_, "HEUR_RESTART_2")) < 5)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, date_trunc, octet_length, to_date, when}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.ProtoExpressions.proto_decode
import graft.model.{EventModel, ProtoDescriptors}
import graft.sources.FrameSource

/** The multi-type streaming read path: ONE pass over the wire stream,
  * fanned out to per-type typed tables inside a single `foreachBatch`.
  *
  * The reference runs one consumer that dispatches each decoded message to
  * every registered per-type writer (reference: readers/hdfs/src/main/java/
  * .../HdfsExporter.java:91-140 — 18 event writers behind one
  * GarmadonReader). The naive Spark translation — N independent
  * `typedTable` streaming queries — re-reads the Kafka topic N times.
  *
  * The router's cost is per micro-batch, not per row: every Spark job and
  * every parquet append carries a fixed cost that a small batch never
  * amortises. So each batch is decoded once (header and each row's own
  * body) and cached; one job over the cache finds the types present and
  * their bytes; then each present type writes one file per day from the
  * cache, concurrently with the other types.
  *
  * Day-partitioned layout and the day-close markers ride along: after each
  * batch, days the watermark has passed get their `_DONE` markers
  * ([[EventSink.writeDayCloseMarkers]]).
  */
object EventRouter {

  /** Route a raw wire stream (`value` binary, `offset` long) to
    * `basePath/<event_type>/` typed day-partitioned parquet tables.
    *
    * The envelope decode runs INSIDE the streaming plan (before
    * foreachBatch) so the stream carries a real event-time `timestamp`
    * column and `withWatermark(lateness)` applies — the query's
    * `lastProgress.eventTime("watermark")` is then populated with the
    * lateness-adjusted watermark, which is exactly the input
    * [[closeDays]] needs.
    *
    * Delivery is at-least-once per micro-batch, like the reference's
    * offset-tracked writers (COVERAGE ST8): if the fan-out fails midway
    * (some types appended, one write failed), the retried micro-batch
    * re-appends the already-written types. Downstream dedups on
    * (kafka_offset) or tolerates duplicates, exactly as it must for the
    * reference's replay-from-offset recovery.
    *
    * @param types the event types to materialize (default: all known)
    * @param lateness watermark grace for the day-close markers
    * @param monitorLag register the session's shared [[IngestLagListener]]
    *   (ST11 — the reference's footer `latest_timestamp` analog is
    *   always-on, so lag observability defaults ON; pass false only when
    *   the caller runs its own listener wiring)
    */
  def routeTyped(raw: DataFrame, basePath: String, checkpoint: String,
                 types: Seq[String] = EventModel.typeMarkers.values.toSeq.sorted,
                 lateness: String = "26 hours",
                 trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                 monitorLag: Boolean = true)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    if (monitorLag) IngestLagListener.forSession(raw.sparkSession)
    FrameSource.decodeFramesFast(raw, acceptedTypes = types)
      .withWatermark("timestamp", lateness)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        routeDecodedBatch(batch, basePath, types)
      }
  }

  /** Batch/backfill entry over raw wire frames: decode, then fan out. */
  def routeBatch(batch: DataFrame, basePath: String, types: Seq[String]): Unit =
    routeDecodedBatch(FrameSource.decodeFramesFast(batch, acceptedTypes = types),
      basePath, types)

  /** One envelope-decoded micro-batch → per-type day-partitioned appends.
    *
    *  - Decode once, then cache: each row keeps its header struct and,
    *    through a per-type CASE, only its own body struct. Rows whose
    *    header or own body fails to decode are dropped when read back from
    *    the cache, so a type whose frames are all corrupt is absent below
    *    and never creates an (unreadable, schema-less) table directory.
    *    The drop stays out of the cached plan on purpose: the optimizer
    *    would push it below the decode projection and decode each row
    *    twice.
    *  - One job over the cache returns the types present and their wire
    *    bytes.
    *  - Each present type writes from the cache, coalesced (no exchange) to
    *    one writer per `spark.sql.files.maxPartitionBytes` of its bytes, at
    *    least one: a small batch writes one file per (type, day), a
    *    catch-up batch still writes in parallel. Types write concurrently
    *    into disjoint table directories.
    */
  def routeDecodedBatch(frames: DataFrame, basePath: String, types: Seq[String]): Unit = {
    if (types.isEmpty) return
    val spark = frames.sparkSession
    import spark.implicits._
    val body = types.map(t => t -> s"_body_$t").toMap
    val bodies = types.map(t => when(col("event_type") === t,
      proto_decode(col("body"), ProtoDescriptors.byEventType(t))).as(body(t)))
    val decoded = frames
      .select(Seq(col("event_type"),
        proto_decode(col("header"), ProtoDescriptors.header).as("_header")) ++ bodies ++
        Seq(col("timestamp"), col("kafka_offset"),
          (octet_length(col("header")) + octet_length(col("body"))).cast("long").as("_bytes")): _*)
      .persist()
    try {
      val valid = col("_header").isNotNull && types.map(t => col(body(t)).isNotNull).reduce(_ || _)
      // per-partition sums merged on the driver: a groupBy would add a
      // shuffle, i.e. a second job under AQE
      val bytesByType = decoded.where(valid).select(col("event_type"), col("_bytes")).as[(String, Long)]
        .mapPartitions { rows =>
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          rows.foreach { case (t, n) => m(t) = m.getOrElse(t, 0L) + n }
          m.iterator
        }.collect().groupMapReduce(_._1)(_._2)(_ + _)
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      graft.operators.Maintenance.parallelSweep(
        types.filter(bytesByType.contains), s"routeDecodedBatch at $basePath") { tpe =>
        // per-type tables partition by day only — the type IS the
        // directory (reference's one-table-per-descriptor layout);
        // unionView re-tags event_type when reading across types
        decoded.where(col("event_type") === tpe && col("_header").isNotNull && col(body(tpe)).isNotNull)
          .select(FrameSource.typedColumns(col("_header"), col(body(tpe)), tpe): _*)
          .coalesce(math.max(1L, (bytesByType(tpe) + maxBytes - 1) / maxBytes).toInt)
          .withColumn("day", to_date(date_trunc("day", col("timestamp"))))
          .sortWithinPartitions(col("day"), col("timestamp"))
          .write.mode(SaveMode.Append)
          .partitionBy("day").parquet(s"$basePath/$tpe")
      }
    } finally decoded.unpersist()
  }

  /** Watermark epilogue: write `_DONE` markers for all routed tables once
    * the watermark (already lateness-adjusted by Spark) passes a day.
    * Call from a `StreamingQueryListener` or after `processAllAvailable`
    * with the query's `lastProgress.eventTime("watermark")` — which
    * [[routeTyped]]'s in-plan watermark guarantees is populated.
    */
  def closeDays(spark: SparkSession, basePath: String, types: Seq[String],
                watermarkMillis: Long): Seq[String] = {
    val closedBefore = EventSink.closedDayFromWatermark(watermarkMillis)
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // typed tables are partitioned by day only (type is the directory)
    EventSink.markClosedDayDirs(fs,
      types.map(t => new org.apache.hadoop.fs.Path(s"$basePath/$t")), closedBefore)
  }
}

package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, date_trunc, octet_length, struct, to_date, when}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.GraftSession
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
  * The router's cost is per micro-batch, not per row: every Spark job, and
  * every class a job compiles, carries a fixed cost that a small batch never
  * amortises. So a batch runs two jobs over its decoded, cached rows: one
  * finds the types present and their bytes, and ONE write job holds a
  * Parquet writer per (type, day) in each task, like the reference's
  * per-type writers behind one consumer. Its files are staged under
  * `basePath/_staging-<batch>` (Spark's file listing skips `_` dirs) and
  * committed by the driver with renames; each file is named after its
  * batch, so a replayed batch replaces its own files and delivery is
  * exactly-once, the reference's offset-based recovery
  * (HdfsExporter.java:56-136).
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
    * Delivery is exactly-once per micro-batch (COVERAGE ST8): the files of
    * batch `b` are named after the query's id (which survives restarts
    * from the checkpoint) and `b`, so if a batch fails after some of its
    * renames, the retried batch replaces those files instead of adding
    * copies.
    *
    * Starting the query configures the CALLER's session
    * ([[GraftSession.configure]]), which the query then clones: artifact
    * isolation goes off, so the query finds the code earlier queries
    * compiled, and the `file:` scheme becomes graft's fork-free local file
    * system, so its checkpoint logs, staged files and commit directories
    * are created without forking `chmod`.
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
    GraftSession.configure(raw.sparkSession)
    if (monitorLag) IngestLagListener.forSession(raw.sparkSession)
    FrameSource.decodeFramesFast(raw, acceptedTypes = types)
      .withWatermark("timestamp", lateness)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the query id is a local property of the stream thread, and it
        // persists across restarts from the checkpoint
        val query = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        routeDecodedBatch(batch, basePath, types, f"$query-$batchId%010d")
      }
  }

  /** Batch/backfill entry over raw wire frames: decode, then fan out. Each
    * call is a new batch, so calls append.
    */
  def routeBatch(batch: DataFrame, basePath: String, types: Seq[String]): Unit =
    routeDecodedBatch(FrameSource.decodeFramesFast(batch, acceptedTypes = types),
      basePath, types, java.util.UUID.randomUUID().toString)

  /** One envelope-decoded batch → per-type day-partitioned files, named
    * after `batch`: routing the same batch again replaces them.
    *
    *  - Decode once, then cache: each row keeps its header struct and,
    *    through a per-type CASE, only its own body struct. Rows whose
    *    header or own body fails to decode are dropped when read back from
    *    the cache, so a type whose frames are all corrupt writes no file
    *    and creates no (unreadable, schema-less) table directory. The drop
    *    stays out of the cached plan on purpose: the optimizer would push
    *    it below the decode projection and decode each row twice.
    *  - One job over the cache returns the types present and their wire
    *    bytes.
    *  - One write job, coalesced (no exchange) to one writer per
    *    `spark.sql.files.maxPartitionBytes` of the batch's bytes, at least
    *    one: a small batch writes one file per (type, day), a catch-up
    *    batch still writes in parallel. Each task sorts its rows by (type,
    *    day, time), so every file is time-ordered and the task holds one
    *    open Parquet writer at a time.
    *  - The driver commits the staged files by rename ([[commitStaged]]).
    */
  def routeDecodedBatch(frames: DataFrame, basePath: String, types: Seq[String],
                        batch: String): Unit = {
    if (types.isEmpty) return
    val spark = frames.sparkSession
    // the session's conf, so graft's fork-free `file:` FS (`GraftSession.configure`)
    val fs = new Path(basePath).getFileSystem(spark.sessionState.newHadoopConf())
    commitStaged(fs, basePath, batch, stageBatch(frames, basePath, types, batch))
  }

  /** Where the files of `batch` wait for their commit. */
  private def stagingDir(basePath: String, batch: String): Path =
    new Path(s"$basePath/_staging-$batch")

  /** A file of one batch: where a task wrote it, and its table-relative
    * final place `<type>/day=<d>/part-<batch>-<writer>.<ext>`.
    */
  private[graft] final case class Staged(path: String, target: String)

  /** Decode, cache and write one batch into its staging dir; the files
    * are not visible until [[commitStaged]]. A left-over staging dir of the
    * same batch (a crashed attempt) is removed first.
    */
  private[graft] def stageBatch(frames: DataFrame, basePath: String, types: Seq[String],
                                batch: String): Seq[Staged] = {
    val spark = frames.sparkSession
    import spark.implicits._
    val stage = stagingDir(basePath, batch)
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stage, true)
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
      val present = types.filter(bytesByType.contains)
      if (present.isEmpty) return Seq.empty
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val writers = math.max(1L, (bytesByType.values.sum + maxBytes - 1) / maxBytes).toInt
      // each row carries its typed row as the struct column of its type;
      // the write job hands that struct to the type's writer as is
      val rows = decoded.where(valid)
        .select(Seq(col("event_type"), to_date(date_trunc("day", col("timestamp"))).as("day"),
          col("timestamp")) ++ present.map(t => when(col("event_type") === t,
          struct(FrameSource.typedColumns(col("_header"), col(body(t)), t): _*))): _*)
        .coalesce(writers)
        .sortWithinPartitions(col("event_type"), col("day"), col("timestamp"))
      val schemas = rows.schema.fields.drop(3).map(_.dataType.asInstanceOf[StructType])
      // the Parquet write settings of each type: one shared Hadoop conf
      // plus what `prepareWrite` sets for the type (its row schema)
      val base = spark.sessionState.newHadoopConf()
      val formats = schemas.map { schema =>
        val job = Job.getInstance(new Configuration(base))
        val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
        val conf = job.getConfiguration
        factory -> conf.iterator().asScala.map(_.getKey)
          .filter(k => conf.getRaw(k) != base.getRaw(k)).map(k => k -> conf.getRaw(k)).toMap
      }
      val shared = new SerializableConfiguration(base)
      val stageRoot = stage.toString
      val typeIndex = present.zipWithIndex.toMap
      val qe = rows.queryExecution
      SQLExecution.withNewExecutionId(qe, Some(s"route batch $batch")) {
        qe.toRdd.mapPartitionsWithIndex { (writer, it) =>
          val attempt = TaskContext.get().attemptNumber()
          val contexts = scala.collection.mutable.HashMap.empty[Int, TaskAttemptContextImpl]
          def context(i: Int) = contexts.getOrElseUpdate(i, {
            val conf = new Configuration(shared.value)
            formats(i)._2.foreach { case (k, v) => conf.set(k, v) }
            new TaskAttemptContextImpl(conf,
              new TaskAttemptID("graftroute", 0, TaskType.MAP, writer, attempt))
          })
          val staged = scala.collection.mutable.ArrayBuffer.empty[Staged]
          var out: OutputWriter = null
          var curType: org.apache.spark.unsafe.types.UTF8String = null
          var curDay = 0
          var i = -1
          try {
            it.foreach { r =>
              val day = if (r.isNullAt(1)) Int.MinValue else r.getInt(1)
              if (out == null || day != curDay || r.getUTF8String(0) != curType) {
                if (out != null) out.close()
                out = null
                curType = r.getUTF8String(0).clone()
                curDay = day
                i = typeIndex(curType.toString)
                val factory = formats(i)._1
                val ctx = context(i)
                val dir = s"${present(i)}/day=" +
                  (if (day == Int.MinValue) "__HIVE_DEFAULT_PARTITION__"
                   else java.time.LocalDate.ofEpochDay(day.toLong).toString)
                val name = f"part-$batch-$writer%05d${factory.getFileExtension(ctx)}"
                val path = s"$stageRoot/$dir/$name.$attempt"
                out = factory.newInstance(path, schemas(i), ctx)
                staged += Staged(path, s"$dir/$name")
              }
              out.write(r.getStruct(3 + i, schemas(i).length))
            }
          } finally if (out != null) out.close()
          Iterator.single(staged.toSeq)
        }.collect().toSeq.flatten
      }
    } finally decoded.unpersist()
  }

  /** Move one batch's staged files into their tables and drop its staging
    * dir. A replay of the batch (after a crash part-way through these
    * renames, or after its commit) first deletes the files the batch
    * committed before from each target dir, so the tables then hold every
    * row of the batch exactly once.
    */
  private[graft] def commitStaged(fs: FileSystem, basePath: String, batch: String,
                                  staged: Seq[Staged]): Unit = {
    val targets = staged.map(s => new Path(s"$basePath/${s.target}"))
    targets.map(_.getParent).distinct.foreach { dir =>
      if (fs.exists(dir))
        fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith(s"part-$batch-"))
          .foreach(fs.delete(_, false))
      else fs.mkdirs(dir)
    }
    staged.zip(targets).foreach { case (s, target) =>
      if (!fs.rename(new Path(s.path), target))
        throw new java.io.IOException(s"route commit: cannot rename ${s.path} to $target")
    }
    fs.delete(stagingDir(basePath, batch), true)
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

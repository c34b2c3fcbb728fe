package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, date_trunc, octet_length, to_date}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.GraftSession
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
  * amortises. So a batch runs at most two jobs over its envelope rows, and
  * their plans are the same on every batch, so they compile nothing after
  * a query's first: one sums the batch's wire bytes, and ONE write job
  * holds a Parquet writer per (type, day) in each task and hands it each
  * row's header and own body as decoded from the wire descriptors, like
  * the reference's per-type writers behind one consumer. Its files are
  * staged under `basePath/_staging-<batch>` (Spark's file listing skips
  * `_` dirs) and committed by the driver with renames; each file is named
  * after its batch, so a replayed batch replaces its own files and
  * delivery is exactly-once, the reference's offset-based recovery
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
    * are created without forking `chmod`. The types' write settings
    * ([[TypedWrite]]) are built once for the query, by its first batch.
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
    // built by the query's first batch, on the stream thread, so the
    // caller goes on to start its other readers meanwhile
    var write: TypedWrite = null
    FrameSource.decodeFramesFast(raw, acceptedTypes = types)
      .withWatermark("timestamp", lateness)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (write == null) write = TypedWrite(batch, types)
        // the query id is a local property of the stream thread, and it
        // persists across restarts from the checkpoint
        val query = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        route(batch, basePath, write, f"$query-$batchId%010d")
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
    *  - One job sums the batch's envelope bytes (header and body) per
    *    partition; the driver adds the sums. No body is decoded, nothing is
    *    cached and nothing is shuffled.
    *  - One write job, coalesced (no exchange) to one writer per
    *    `spark.sql.files.maxPartitionBytes` of those bytes, at least one: a
    *    small batch writes one file per (type, day), a catch-up batch still
    *    writes in parallel. Each task sorts its envelope rows by (type, day,
    *    time), so every file is time-ordered and the task holds one open
    *    Parquet writer at a time, and decodes each row as it writes it
    *    ([[TypedWrite.stage]]). A row whose header or own body fails to
    *    decode is dropped, so a type whose frames are all corrupt writes no
    *    file and creates no (unreadable, schema-less) table directory.
    *  - The driver commits the staged files by rename ([[commitStaged]]).
    */
  def routeDecodedBatch(frames: DataFrame, basePath: String, types: Seq[String],
                        batch: String): Unit =
    route(frames, basePath, TypedWrite(frames, types), batch)

  private def route(frames: DataFrame, basePath: String, write: TypedWrite,
                    batch: String): Unit = {
    if (write.types.isEmpty) return
    val fs = sessionFs(frames.sparkSession, basePath)
    commitStaged(fs, basePath, batch, stageBatch(frames, fs, basePath, write, batch))
  }

  /** The file system of `path` under the session's conf, so graft's
    * fork-free `file:` FS ([[GraftSession.configure]]); Hadoop caches no
    * `file:` instance for it, so a batch looks it up once and passes it on.
    */
  private def sessionFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Where the files of `batch` wait for their commit. */
  private def stagingDir(basePath: String, batch: String): Path =
    new Path(s"$basePath/_staging-$batch")

  /** A file of one batch: where a task wrote it, and its table-relative
    * final place `<type>/day=<d>/part-<batch>-<writer>.<ext>`.
    */
  private[graft] final case class Staged(path: String, target: String)

  /** The Parquet write settings of a route's types, built once per query
    * ([[routeTyped]]) or per call ([[routeDecodedBatch]]) and shipped to
    * each write task. Per type: its typed row schema,
    * [[FrameSource.typedSchema]] of the same frames, so nullability and
    * field metadata are typedTable's; the writer factory `prepareWrite` made for
    * that schema; and the Hadoop settings `prepareWrite` added for it. The
    * session's Hadoop conf under them is shared by all types.
    */
  private[graft] final class TypedWrite private (
      val types: IndexedSeq[String],
      schemas: IndexedSeq[StructType],
      factories: IndexedSeq[OutputWriterFactory],
      settings: IndexedSeq[Map[String, String]],
      shared: SerializableConfiguration) extends Serializable {

    /** One write task: envelope rows `(event_type, day, timestamp,
      * kafka_offset, header, body)`, sorted by (type, day, time), to files
      * under `stageRoot` named after `batch` and the task's `writer`
      * index. Each row's header and own body are decoded here; the row is
      * dropped if either is corrupt or its type is not routed, else
      * `header ++ body ++ (timestamp, kafka_offset)` goes to the writer of
      * its (type, day), opened on the first such row.
      */
    def stage(rows: Iterator[InternalRow], writer: Int, stageRoot: String,
              batch: String): Seq[Staged] = {
      val attempt = TaskContext.get().attemptNumber()
      val index = types.zipWithIndex.toMap
      val bodies = types.map(ProtoDescriptors.byEventType)
      val contexts = new Array[TaskAttemptContextImpl](types.size)
      def context(i: Int) = {
        if (contexts(i) == null) {
          val conf = new Configuration(shared.value)
          settings(i).foreach { case (k, v) => conf.set(k, v) }
          contexts(i) = new TaskAttemptContextImpl(conf,
            new TaskAttemptID("graftroute", 0, TaskType.MAP, writer, attempt))
        }
        contexts(i)
      }
      val staged = scala.collection.mutable.ArrayBuffer.empty[Staged]
      val tail = new GenericInternalRow(2)
      val headerBody = new JoinedRow
      val typed = new JoinedRow
      var rowType: UTF8String = null
      var i = -1 // rowType's index in `types`, -1 if it is not routed
      var out: OutputWriter = null
      var outType = -1
      var outDay = 0
      try {
        rows.foreach { r =>
          if (rowType == null || r.getUTF8String(0) != rowType) {
            rowType = r.getUTF8String(0).clone()
            i = index.getOrElse(rowType.toString, -1)
          }
          val header = if (i < 0 || r.isNullAt(4)) null
            else ProtoDescriptors.header.decode(r.getBinary(4))
          val body = if (header == null || r.isNullAt(5)) null else bodies(i).decode(r.getBinary(5))
          if (body != null) {
            val day = if (r.isNullAt(1)) Int.MinValue else r.getInt(1)
            if (out == null || i != outType || day != outDay) {
              if (out != null) out.close()
              out = null
              outType = i
              outDay = day
              val ctx = context(i)
              val dir = s"${types(i)}/day=" +
                (if (day == Int.MinValue) "__HIVE_DEFAULT_PARTITION__"
                 else java.time.LocalDate.ofEpochDay(day.toLong).toString)
              val name = f"part-$batch-$writer%05d${factories(i).getFileExtension(ctx)}"
              val path = s"$stageRoot/$dir/$name.$attempt"
              out = factories(i).newInstance(path, schemas(i), ctx)
              staged += Staged(path, s"$dir/$name")
            }
            tail.update(0, if (r.isNullAt(2)) null else r.getLong(2))
            tail.update(1, if (r.isNullAt(3)) null else r.getLong(3))
            out.write(typed(headerBody(header, body), tail))
          }
        }
      } finally if (out != null) out.close()
      staged.toSeq
    }
  }

  private[graft] object TypedWrite {
    def apply(frames: DataFrame, types: Seq[String]): TypedWrite = {
      val spark = frames.sparkSession
      val schemas = types.toIndexedSeq.map(FrameSource.typedSchema(frames.schema, _))
      val base = spark.sessionState.newHadoopConf()
      val (factories, settings) = schemas.map { schema =>
        val job = Job.getInstance(new Configuration(base))
        val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
        val conf = job.getConfiguration
        factory -> conf.iterator().asScala.map(_.getKey)
          .filter(k => conf.getRaw(k) != base.getRaw(k)).map(k => k -> conf.getRaw(k)).toMap
      }.unzip
      new TypedWrite(types.toIndexedSeq, schemas, factories, settings,
        new SerializableConfiguration(base))
    }
  }

  /** Write one batch into its staging dir; the files are not visible
    * until [[commitStaged]]. A left-over staging dir of the same batch (a
    * crashed attempt) is removed first.
    */
  private[graft] def stageBatch(frames: DataFrame, basePath: String, types: Seq[String],
                                batch: String): Seq[Staged] =
    stageBatch(frames, sessionFs(frames.sparkSession, basePath), basePath,
      TypedWrite(frames, types), batch)

  private def stageBatch(frames: DataFrame, fs: FileSystem, basePath: String,
                         write: TypedWrite, batch: String): Seq[Staged] = {
    val stage = stagingDir(basePath, batch)
    fs.delete(stage, true)
    // per-partition (rows, bytes) merged on the driver: an aggregate would
    // add a shuffle, i.e. a second job under AQE
    val sized = frames.select(
      (octet_length(col("header")) + octet_length(col("body"))).cast("long"))
    val (rows, bytes) = run(sized, s"route batch $batch: bytes") { rdd =>
      rdd.mapPartitions { it =>
        var n, b = 0L
        it.foreach { r => n += 1; if (!r.isNullAt(0)) b += r.getLong(0) }
        Iterator.single((n, b))
      }.collect().foldLeft((0L, 0L)) { case ((n, b), (n1, b1)) => (n + n1, b + b1) }
    }
    if (rows == 0) return Seq.empty
    val maxBytes = frames.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val writers = math.max(1L, (bytes + maxBytes - 1) / maxBytes).toInt
    val envelopes = frames
      .select(col("event_type"), to_date(date_trunc("day", col("timestamp"))).as("day"),
        col("timestamp"), col("kafka_offset"), col("header"), col("body"))
      .coalesce(writers)
      .sortWithinPartitions(col("event_type"), col("day"), col("timestamp"))
    val stageRoot = stage.toString
    run(envelopes, s"route batch $batch") { rdd =>
      rdd.mapPartitionsWithIndex((writer, it) =>
        Iterator.single(write.stage(it, writer, stageRoot, batch))).collect().toSeq.flatten
    }
  }

  /** Run `job` over the rows of `df` as one SQL execution named `name`. */
  private def run[T](df: DataFrame, name: String)(job: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(job(qe.toRdd))
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
    val fs = sessionFs(spark, basePath)
    // typed tables are partitioned by day only (type is the directory)
    EventSink.markClosedDayDirs(fs,
      types.map(t => new org.apache.hadoop.fs.Path(s"$basePath/$t")), closedBefore)
  }
}

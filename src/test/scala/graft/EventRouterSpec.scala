package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.{EventModel, ProtoDescriptors}
import graft.sources.{EventTables, FrameSource}
import graft.streaming.EventRouter

/** Decode-once multi-type routing: one wire stream → N typed day-partitioned
  * tables in a single foreachBatch pass (the scale-correct multi-writer).
  */
class EventRouterSpec extends SparkSpecBase {
  import spark.implicits._

  private val header = ProtoDescriptors.header.encode(Seq(
    "app_r", "1", "router", "u", "c_1", "h", "", "YARN", "EXECUTOR", "",
    Seq("YARN_APPLICATION"), "", "", "", 0, ""))

  private def fsFrame(ts: Long, action: String, off: Long): (Array[Byte], Long) =
    (EventModel.encode(EventModel.Frame(1, ts,
      header, ProtoDescriptors.fsEvent.encode(Seq(
        "/src", "", action, "hdfs://root", 5L, "u", "SUCCESS")))), off)

  private def gcFrame(ts: Long, pause: Long, off: Long): (Array[Byte], Long) =
    (EventModel.encode(EventModel.Frame(1000, ts,
      header, ProtoDescriptors.gcStatisticsData.encode(
        Seq("PS Scavenge", pause, "Allocation Failure") ++ Seq.fill(10)(0L) ++ Seq(0.0f)))), off)

  private def stateFrame(ts: Long, state: String, off: Long): (Array[Byte], Long) =
    (EventModel.encode(EventModel.Frame(3, ts,
      header, ProtoDescriptors.stateEvent.encode(Seq(state)))), off)

  private def memFrame(ts: Long, value: Float, off: Long): (Array[Byte], Long) =
    (EventModel.encode(EventModel.Frame(2000, ts,
      header, ProtoDescriptors.containerResourceEvent.encode(Seq("MEMORY", 4096L, value)))), off)

  private def corruptGcFrame(ts: Long, off: Long): (Array[Byte], Long) =
    (EventModel.encode(EventModel.Frame(1000, ts, header, Array[Byte](0xFF.toByte))), off)

  private val day1 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime
  private val day2 = java.sql.Timestamp.valueOf("2024-03-02 10:00:00").getTime

  test("streaming: one wire stream fans out to typed per-type day tables") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("router").toString
    val ckpt = Files.createTempDirectory("router_ckpt").toString
    val in = MemoryStream[(Array[Byte], Long)]
    val q = EventRouter.routeTyped(in.toDF().toDF("value", "offset"), base, ckpt,
      types = Seq("FS_EVENT", "GC_EVENT")).start()
    try {
      in.addData(fsFrame(day1, "WRITE", 1), fsFrame(day2, "READ", 2), gcFrame(day1, 12, 3))
      q.processAllAvailable()
    } finally q.stop()

    val fs = spark.read.parquet(s"$base/FS_EVENT")
    assert(fs.count() == 2)
    assert(fs.select("action").as[String].collect().toSet == Set("WRITE", "READ"))
    assert(fs.select("application_id").as[String].collect().toSet == Set("app_r"))
    // day partitioning prunes
    assert(fs.where(col("day") === "2024-03-01").count() == 1)
    val gc = spark.read.parquet(s"$base/GC_EVENT")
    assert(gc.count() == 1 && gc.select("pause_time").as[Long].head() == 12L)

    // cross-type union view over the routed tables
    val union = EventTables.unionView(Map(
      "FS_EVENT" -> fs.drop("day"), "GC_EVENT" -> gc.drop("day")))
    assert(union.count() == 3)
    assert(union.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("FS_EVENT" -> 2L, "GC_EVENT" -> 1L))

    // day-close epilogue: watermark inside day 2 closes day 1 only
    val closed = EventRouter.closeDays(spark, base, Seq("FS_EVENT", "GC_EVENT"), day2)
    assert(closed.size == 2) // FS_EVENT day1 + GC_EVENT day1
    assert(closed.forall(p => p.contains("day=2024-03-01") && p.endsWith("_DONE")))
  }

  test("routeTyped's in-plan watermark populates query progress (closeDays' input)") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("router_wm").toString
    val ckpt = Files.createTempDirectory("router_wm_ckpt").toString
    val in = MemoryStream[(Array[Byte], Long)]
    val q = EventRouter.routeTyped(in.toDF().toDF("value", "offset"), base, ckpt,
      types = Seq("FS_EVENT"), lateness = "1 hour").start()
    try {
      in.addData(fsFrame(day1, "WRITE", 1))
      q.processAllAvailable()
      in.addData(fsFrame(day2, "READ", 2))
      q.processAllAvailable()
      // the decode+withWatermark lives INSIDE the streaming plan, so the
      // progress carries the lateness-adjusted watermark closeDays needs
      val wm = q.lastProgress.eventTime.get("watermark")
      assert(wm != null, "no watermark entry in query progress")
      val wmMillis = java.time.Instant.parse(wm).toEpochMilli
      assert(wmMillis == day1 - 3600 * 1000L,
        s"watermark $wmMillis should be first batch's max event time minus the 1h grace")
      // and it drives the day-close markers end to end
      val closed = EventRouter.closeDays(spark, base, Seq("FS_EVENT"), wmMillis)
      assert(closed.isEmpty) // watermark still inside day 1 — nothing closes
    } finally q.stop()
  }

  test("a type whose only frames fail proto decode creates no table directory") {
    val base = Files.createTempDirectory("router_corrupt").toString
    // valid envelope (marker 1000 = GC_EVENT, real timestamp) but a body
    // the proto decoder nulls out (truncated varint tag): the type is in
    // the pre-decode present set yet yields zero typed rows — must not
    // leave a schema-less empty table dir behind
    val corrupt = (EventModel.encode(EventModel.Frame(1000, day1,
      header, Array[Byte](0xFF.toByte))), 1L)
    val b = Seq(fsFrame(day1, "WRITE", 2), corrupt).toDF("value", "offset")
    EventRouter.routeBatch(b, base, Seq("FS_EVENT", "GC_EVENT"))
    assert(spark.read.parquet(s"$base/FS_EVENT").count() == 1)
    assert(!new java.io.File(s"$base/GC_EVENT").exists(),
      "corrupt-only GC_EVENT batch must not create an empty table dir")
  }

  private val mixedTypes =
    Seq("FS_EVENT", "GC_EVENT", "STATE_EVENT", "CONTAINER_MONITORING_EVENT")

  /** Four types over two days, interleaved across four input partitions. */
  private lazy val mixedFrames = {
    val frames = (0 until 24).map { i =>
      val ts = (if (i / 4 % 2 == 0) day1 else day2) + i * 1000L
      i % 4 match {
        case 0 => fsFrame(ts, s"A$i", i)
        case 1 => gcFrame(ts, i, i)
        case 2 => stateFrame(ts, s"S$i", i)
        case _ => memFrame(ts, i.toFloat, i)
      }
    }
    spark.sparkContext.parallelize(frames, 4).toDF("value", "offset")
  }

  private lazy val mixedBase = {
    val base = Files.createTempDirectory("router_mixed").toString
    EventRouter.routeBatch(mixedFrames, base, mixedTypes)
    base
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.getName.startsWith("part-"))

  test("routed rows and schema equal typedTable's, without event_type and with day") {
    val decoded = FrameSource.decodeFramesFast(mixedFrames, acceptedTypes = mixedTypes)
    mixedTypes.foreach { t =>
      val expected = FrameSource.typedTable(decoded, t).drop("event_type")
        .withColumn("day", to_date(col("timestamp")))
      val routed = spark.read.parquet(s"$mixedBase/$t")
      assert(routed.schema.catalogString == expected.schema.catalogString, t)
      assert(routed.count() == 6 && expected.count() == 6, t)
      assert(routed.exceptAll(expected).isEmpty && expected.exceptAll(routed).isEmpty, t)
    }
  }

  test("each (type, day) of a multi-partition batch holds exactly one data file") {
    mixedTypes.foreach { t =>
      val days = new java.io.File(s"$mixedBase/$t").listFiles().filter(_.getName.startsWith("day="))
      assert(days.map(_.getName).toSet == Set("day=2024-03-01", "day=2024-03-02"), t)
      days.foreach(d => assert(dataFiles(d).length == 1, s"$t/${d.getName}"))
    }
  }

  test("a type with valid and corrupt bodies routes only its valid rows") {
    val base = Files.createTempDirectory("router_mixed_corrupt").toString
    val b = Seq(gcFrame(day1, 5, 1), corruptGcFrame(day1, 2), gcFrame(day2, 9, 3),
      corruptGcFrame(day2, 4), fsFrame(day1, "READ", 5)).toDF("value", "offset")
    EventRouter.routeBatch(b, base, Seq("FS_EVENT", "GC_EVENT"))
    val gc = spark.read.parquet(s"$base/GC_EVENT")
    assert(gc.select("kafka_offset", "pause_time").as[(Long, Long)].collect().toSet ==
      Set((1L, 5L), (3L, 9L)))
    assert(spark.read.parquet(s"$base/FS_EVENT").count() == 1)
  }

  test("a type's writer count is its batch bytes over maxPartitionBytes") {
    val base = Files.createTempDirectory("router_wide").toString
    val frames = spark.sparkContext.parallelize(
      (0 until 40).map(i => fsFrame(day1 + i, s"A$i", i)), 4).toDF("value", "offset")
    val bytes = FrameSource.decodeFramesFast(frames)
      .select(sum(octet_length(col("header")) + octet_length(col("body")))).as[Long].head()
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    // just over half the batch: two writers for the four input partitions
    spark.conf.set(key, (bytes / 2 + 1).toString)
    try EventRouter.routeBatch(frames, base, Seq("FS_EVENT"))
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(dataFiles(new java.io.File(s"$base/FS_EVENT/day=2024-03-01")).length == 2)
    assert(spark.read.parquet(s"$base/FS_EVENT").count() == 40)
  }

  test("batch routeBatch appends without duplicating other types") {
    val base = Files.createTempDirectory("router_b").toString
    val b1 = Seq(fsFrame(day1, "WRITE", 1)).toDF("value", "offset")
    val b2 = Seq(fsFrame(day1, "DELETE", 2), gcFrame(day1, 7, 3)).toDF("value", "offset")
    EventRouter.routeBatch(b1, base, Seq("FS_EVENT", "GC_EVENT"))
    EventRouter.routeBatch(b2, base, Seq("FS_EVENT", "GC_EVENT"))
    assert(spark.read.parquet(s"$base/FS_EVENT").count() == 2)
    assert(spark.read.parquet(s"$base/GC_EVENT").count() == 1)
  }

  /** Routed kafka offsets per type, each once per copy on disk. */
  private def routedOffsets(base: String): Map[String, Seq[Long]] =
    mixedTypes.map(t => t -> spark.read.parquet(s"$base/$t").select("kafka_offset").as[Long]
      .collect().toSeq.sorted).toMap

  /** The offsets of `mixedFrames` per type, `copies` times each. */
  private def mixedOffsets(copies: Int): Map[String, Seq[Long]] =
    mixedTypes.zipWithIndex.map { case (t, k) =>
      t -> (0 until 24).filter(_ % 4 == k).flatMap(i => Seq.fill(copies)(i.toLong))
    }.toMap

  private def stagingLeft(base: String): Boolean =
    new java.io.File(base).list().exists(_.startsWith("_staging"))

  test("a replayed batch, after a full or a part-way commit, holds every row exactly once") {
    val base = Files.createTempDirectory("router_replay").toString
    val decoded = FrameSource.decodeFramesFast(mixedFrames, acceptedTypes = mixedTypes)
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    EventRouter.routeDecodedBatch(decoded, base, mixedTypes, "b1")
    EventRouter.routeDecodedBatch(decoded, base, mixedTypes, "b2")
    assert(routedOffsets(base) == mixedOffsets(2))
    // replay after a full commit: b2 replaces its own files, b1 is untouched
    EventRouter.routeDecodedBatch(decoded, base, mixedTypes, "b2")
    assert(routedOffsets(base) == mixedOffsets(2))
    assert(!stagingLeft(base))

    // a commit that stops after three of its renames
    val staged = EventRouter.stageBatch(decoded, base, mixedTypes, "b3")
    assert(staged.size == 8, staged) // 4 types x 2 days, one writer
    var renames = 3
    val crashing = new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean = {
        if (renames == 0) throw new java.io.IOException("crash")
        renames -= 1
        super.rename(src, dst)
      }
    }
    intercept[java.io.IOException](EventRouter.commitStaged(crashing, base, "b3", staged))
    assert(stagingLeft(base))
    val partial = routedOffsets(base).values.map(_.size).sum
    assert(partial > 48 && partial < 72, partial)
    // the retried batch completes it
    EventRouter.routeDecodedBatch(decoded, base, mixedTypes, "b3")
    assert(routedOffsets(base) == mixedOffsets(3))
    assert(!stagingLeft(base))
  }

  test("routeTyped: a batch replayed from the checkpoint replaces its files") {
    val work = Files.createTempDirectory("router_stream_replay").toString
    mixedFrames.write.parquet(s"$work/in")
    def run(): Unit = {
      val raw = spark.readStream.schema(mixedFrames.schema).parquet(s"$work/in")
      EventRouter.routeTyped(raw, s"$work/out", s"$work/ckpt", mixedTypes,
        trigger = Trigger.AvailableNow(), monitorLag = false).start().awaitTermination()
    }
    run()
    assert(routedOffsets(s"$work/out") == mixedOffsets(1))
    // forget batch 0's commit: the restarted query routes it again
    Seq("0", ".0.crc").foreach(f => new java.io.File(s"$work/ckpt/commits/$f").delete())
    run()
    assert(new java.io.File(s"$work/ckpt/commits/0").exists())
    assert(routedOffsets(s"$work/out") == mixedOffsets(1))
    assert(!stagingLeft(s"$work/out"))
  }

  /** The Parquet schema in the footer of the first data file under `dir`. */
  private def footerSchema(dir: String): MessageType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val file = root.getFileSystem(conf).listFiles(root, true)
    var found: Path = null
    while (found == null && file.hasNext) {
      val p = file.next().getPath
      if (p.getName.startsWith("part-")) found = p
    }
    assert(found != null, s"no data file under $dir")
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(found, conf))
    try reader.getFooter.getFileMetaData.getSchema finally reader.close()
  }

  test("a routed file's Parquet schema is typedTable's as written by write.parquet") {
    val decoded = FrameSource.decodeFramesFast(mixedFrames, acceptedTypes = mixedTypes)
    mixedTypes.foreach { t =>
      val written = Files.createTempDirectory("router_footer").toString + "/t"
      FrameSource.typedTable(decoded, t).drop("event_type").write.parquet(written)
      val expected = footerSchema(written)
      // the wire offset is never null here: the spec then also pins nullability
      assert(expected.getType(expected.getFieldIndex("kafka_offset"))
        .isRepetition(Type.Repetition.REQUIRED), expected)
      assert(footerSchema(s"$mixedBase/$t") == expected, t)
    }
  }

  /** One batch of `frames` over the four mixed types, two input partitions. */
  private def mixedBatch(frames: (Array[Byte], Long)*) =
    spark.sparkContext.parallelize(frames, 2).toDF("value", "offset")

  test("a batch whose present types differ from the last batch's compiles no class") {
    val base = Files.createTempDirectory("router_codegen").toString
    EventRouter.routeBatch(mixedBatch(fsFrame(day1, "READ", 1), gcFrame(day1, 3, 2)),
      base, mixedTypes)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    EventRouter.routeBatch(mixedBatch(stateFrame(day2, "END", 3), memFrame(day2, 1f, 4)),
      base, mixedTypes)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
    assert(spark.read.parquet(s"$base/STATE_EVENT").count() == 1)
  }

  test("a routed batch runs at most two jobs") {
    val base = Files.createTempDirectory("router_jobs").toString
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("router-jobs", "route one batch")
      EventRouter.routeBatch(mixedFrames, base, mixedTypes)
      // the bus delivers events in order: once this job's start is seen,
      // so are the route's
      sc.setJobGroup("router-jobs-end", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("router-jobs-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("router-jobs-end"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val jobs = groups.toArray.count(_ == "router-jobs")
    assert(jobs >= 1 && jobs <= 2, jobs)
    assert(routedOffsets(base) == mixedOffsets(1))
  }
}

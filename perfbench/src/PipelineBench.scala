package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.functions.FrameExpressions.frame_marker
import graft.functions.ProtoExpressions.proto_decode
import graft.model.{EventModel, ProtoDescriptors}
import graft.operators.JvmStats
import graft.serving.{Dashboards, HeuristicsSink}
import graft.sources.FrameSource
import graft.streaming.{EventRouter, EventSink, IngestLagListener, Sessionizer, StreamingEnrichment}

/** The reader-pipeline benchmark. One JVM runs one workload for one seed:
  * Spark `local[4]` hosts the three garmadon readers (route/HDFS dump,
  * enrichment, heuristics) on one frame directory, one generator thread
  * feeds them open-loop, a pre-staged backlog measures drain throughput,
  * the dashboards then read the stored tables closed-loop and compaction
  * maintains today's partitions. Every phase calls the program's public
  * functions; the benchmark only generates input, times and checks.
  *
  * Usage: `PipelineBench <workload> <seed> <seconds> <trace 0|1> <workDir>
  * <artifactDir> <resultFile> <build>`, where `build` names the compiled
  * sources (the runner passes their hash).
  */
object PipelineBench {

  val Cores = 4
  val ReferenceEps = 45000.0
  val KnownTypes: Seq[String] = EventModel.typeMarkers.values.toSeq.sorted
  val Panels: Seq[String] = Seq("fsOpsPerUser", "fsOpsPerAction", "containerMemory", "gcPause",
    "gcCpuTime", "topUsers", "sparkStageDurations", "appContainerMemory", "stateAnnotations")
  val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  /** Event time of the open-loop input's first file: noon of a fixed day. */
  val BaseTs: Long = java.time.Instant.parse("2026-03-10T12:00:00Z").toEpochMilli
  val DayMs = 86400000L

  /** A workload: its generator profile, the open-loop rate (frames/s)
    * and the size of the drain backlog's files.
    */
  final case class Workload(name: String, profile: FrameGen.Profile, openRate: Int,
                            drainFramesPerFile: Int)

  val DrainFiles = 8
  val PanelPasses = 2
  val TriggerMs = 500

  val workloads: Map[String, Workload] = Seq(
    // per-frame costs dominate: many short apps, whose containers send
    // small frames; three small Spark apps feed the Spark panels
    Workload("ingest_small", FrameGen.Profile(shortApps = 100, longApps = 3, executors = 4),
      openRate = 200, drainFramesPerFile = 500),
    // bytes dominate: a few long-lived Spark apps, whose executors send
    // JVMSTATS and heavy-tailed SPARK_TASK/STAGE bodies, over a lighter
    // short-app churn
    Workload("ingest_large", FrameGen.Profile(shortApps = 20, longApps = 12, executors = 8),
      openRate = 100, drainFramesPerFile = 300)
  ).map(w => w.name -> w).toMap

  // ------------------------------------------------------------ helpers

  private def now(): Long = System.currentTimeMillis()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** Weighted quantile over (value, weight) samples. */
  def wquantile(xs: Seq[(Double, Int)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) return 0.0
    val total = s.map(_._2.toLong).sum
    val target = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.get._1
  }

  /** Parquet files under `root`, skipping hidden and metadata dirs. */
  private def dataFiles(root: File): Seq[File] =
    if (!root.exists()) Nil
    else Files.walk(root.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p) &&
        root.toPath.relativize(p).iterator().asScala.forall(c =>
          !c.toString.startsWith(".") && !c.toString.startsWith("_")))
      .map(_.toFile).toSeq

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  private def footerRows(f: File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), hadoopConf))
    try r.getRecordCount finally r.close()
  }

  private val rawSchema = StructType(Seq(StructField("value", BinaryType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  // ------------------------------------------------------------ readers

  final case class Readers(route: StreamingQuery, enrich: StreamingQuery, heur: StreamingQuery) {
    def all: Seq[StreamingQuery] = Seq(route, enrich, heur)
  }

  final case class Dirs(input: String, store: String, enrichOut: String, ckpt: String,
                        heurTable: String)

  /** Start the three readers on one frame directory. */
  def startReaders(spark: SparkSession, d: Dirs, trigger: Trigger, derbyUrl: String): Readers = {
    import spark.implicits._
    def raw = spark.readStream.schema(rawSchema).parquet(d.input)
    val route = EventRouter.routeTyped(raw, d.store, s"${d.ckpt}/route", KnownTypes,
      trigger = trigger).queryName(s"route").start()

    // enrichment reader: typed header (+ the APPLICATION_EVENT body for
    // the app attributes) -> keyed state -> day-partitioned sink
    val frames = FrameSource.decodeFramesFast(raw, acceptedTypes = KnownTypes)
    val isApp = col("event_type") === "APPLICATION_EVENT"
    val input = frames
      .select(proto_decode(col("header"), ProtoDescriptors.header).as("h"),
        when(isApp, proto_decode(col("body"), ProtoDescriptors.applicationEvent)).as("a"),
        col("event_type"), col("timestamp_millis"))
      .where(col("h").isNotNull && (!isApp || col("a").isNotNull))
      .select(col("h.application_id").as("applicationId"), isApp.as("isAppEvent"),
        when(isApp, struct(col("h.application_name").as("applicationName"),
          col("h.framework").as("framework"), col("h.username").as("username"),
          col("a.am_container_id").as("amContainerId"), col("a.yarn_tags").as("yarnTags")))
          .as("attrs"),
        col("event_type").as("eventType"), col("h.container_id").as("containerId"),
        col("h.component").as("component"), col("timestamp_millis").as("tsMillis"))
      .as[StreamingEnrichment.EnrichInput]
    val enriched = StreamingEnrichment.enrich(input).toDF()
      .withColumn("timestamp", timestamp_millis(col("tsMillis")))
      .withColumn("event_type", col("eventType"))
    val enrich = EventSink.partitionedStreamWriter(enriched, d.enrichOut, s"${d.ckpt}/enrich",
      trigger = trigger).queryName("enrich").start()

    // heuristics reader: GC / JVMSTATS / STATE rows -> per-app session
    // fold -> one result row per closed session into the JDBC store. One
    // pass over the frames: each row decodes the body its type carries.
    val sframes = FrameSource.decodeFramesFast(raw, acceptedTypes = FrameGen.SessionTypes.toSeq)
    val et = col("event_type")
    val sessionEvents = sframes
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
    val closed = Sessionizer.sessionAggregate(sessionEvents, timeoutMillis = Some(30L * 60000L))
      .toDF()
      .select(split(col("appKey"), "#").getItem(0).as("application_id"),
        split(col("appKey"), "#").getItem(1).as("attempt_id"),
        when(col("max") > 250, 3).when(col("max") > 150, 2).otherwise(0).as("severity"),
        col("count").as("score"), col("closedBy"))
    val rows = HeuristicsSink.resultRows(closed, "perfbench.GcPauseSession",
      scoreCol = Some("score"), instanceCol = Some("closedBy"))
    val heur = HeuristicsSink.streamWriter(rows, derbyUrl, d.heurTable, driver = Some(DerbyDriver))
      .option("checkpointLocation", s"${d.ckpt}/heur").trigger(trigger)
      .queryName("heuristics").start()
    Readers(route, enrich, heur)
  }

  /** file name -> batch id, from the file source's offset log, and batch
    * id -> commit time (ms), from the commit log of one reader checkpoint.
    */
  def commitLog(ckpt: String): (Map[String, Long], Map[Long, Long]) = {
    val srcDir = new File(s"$ckpt/sources/0")
    val entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    val files = Option(srcDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => scala.util.Try(Files.readAllLines(f.toPath).asScala.toSeq).getOrElse(Nil))
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
      .toMap
    val commits = Option(new File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> Files.getLastModifiedTime(f.toPath).toMillis).toMap
    (files, commits)
  }

  /** Commit time (ms) of each input file for one reader; files without a
    * committed batch are absent.
    */
  def fileCommits(ckpt: String): Map[String, Long] = {
    val (files, commits) = commitLog(ckpt)
    files.flatMap { case (f, b) => commits.get(b).map(f -> _) }
  }

  // ------------------------------------------------------------ serving

  /** One panel over the store. `read` resolves a type's table; `appId`
    * is the application an app-scoped panel shows.
    */
  def panel(name: String, read: String => DataFrame, appId: String): DataFrame = name match {
    case "fsOpsPerUser" => Dashboards.fsOpsPerUser(read("FS_EVENT"), "hdfs://root")
    case "fsOpsPerAction" => Dashboards.fsOpsPerAction(read("FS_EVENT"), "hdfs://prod-ns")
    case "containerMemory" => Dashboards.containerMemory(read("CONTAINER_MONITORING_EVENT"))
    case "gcPause" => Dashboards.gcPause(read("GC_EVENT"))
    case "gcCpuTime" => Dashboards.gcCpuTime(read("JVMSTATS_EVENT"),
      element_at(JvmStats.toPropsMap(col("sections")),
        s"gc(${FrameGen.collectors.head})_time").cast("long"))
    case "topUsers" => Dashboards.topUsers(read("FS_EVENT"))
    case "sparkStageDurations" => Dashboards.sparkStageDurations(read("SPARK_STAGE_EVENT"), appId)
    case "appContainerMemory" =>
      Dashboards.appContainerMemory(read("CONTAINER_MONITORING_EVENT"), appId)
    case "stateAnnotations" => Dashboards.stateAnnotations(
      read("SPARK_STAGE_STATE_EVENT").withColumn("event_type", lit("SPARK_STAGE_STATE_EVENT")),
      appId, "BEGIN")
  }

  private def rowsKey(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  // ------------------------------------------------------------ the run

  final class Out {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val checks = ArrayBuffer.empty[(String, Long, Long)] // name, expected, actual
    var attempted = 0L
    var failed = 0L
    def m(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def check(name: String, expected: Long, actual: Long): Unit = {
      checks += ((name, expected, actual))
      failed += math.abs(expected - actual)
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(wName, seedS, secondsS, traceS, work, artifactDir, resultFile, build) = args
    val w = workloads.getOrElse(wName, sys.error(s"unknown workload $wName; known: " +
      workloads.keys.toSeq.sorted.mkString(", ")))
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    System.setProperty("derby.system.home", s"$work/derby")
    System.setProperty("derby.stream.error.file", s"$work/derby.log")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // no background state-store snapshotting inside a one-minute run
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionStart = secs(t0)

    val out = new Out
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val progress = if (traced) Some(new ProgressLog) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    progress.foreach(spark.streams.addListener)
    try run(spark, w, seed, seconds, work, out, trace, progress, sessionStart)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        out.info("error") = e.toString
        out.failed += math.max(1L, out.attempted)
        out.attempted = math.max(1L, out.attempted)
    }
    val correct = out.failed == 0 && !out.info.contains("error")
    val stamp = java.time.Instant.now().toString.replace(":", "")
    val artifact = new File(artifactDir,
      s"${w.name}-seed$seed-trace${traceS}-$stamp-${ProcessHandle.current().pid()}.json")
    artifact.getParentFile.mkdirs()
    if (traced) out.info("trace_overhead") = tracingOverhead(out, w.name, seed, build, artifactDir)
    // every metric goes out; the runner keeps the ones the run reports
    val metrics = Json.obj(out.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> v, "unit" -> u)) })
    val result = Json.obj(Seq(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics))
    val full = Json.obj(Seq(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced, "build" -> build,
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics,
      "checks" -> out.checks.map { case (n, e, a) =>
        Json.obj(Seq("check" -> n, "expected" -> e, "actual" -> a, "ok" -> (e == a))) },
      "info" -> Json.obj(out.info.toSeq)))
    // create-new: an artifact is never overwritten
    Files.write(artifact.toPath, (full + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    Files.write(Paths.get(resultFile), (result + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Double, work: String, out: Out,
          trace: Option[Trace], progress: Option[ProgressLog], sessionStart: Double): Unit = {
    val p = w.profile
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var phaseT = System.nanoTime()
    def phase(name: String): Unit = { phases(name) = secs(phaseT); phaseT = System.nanoTime() }
    out.info("phase_s") = phases
    val fpf = w.openRate * FrameGen.FileMs / 1000
    val openFiles = math.max(10, (seconds * 1000 / FrameGen.FileMs).toInt)
    val warmupFiles = openFiles / 5
    val derbyUrl = s"jdbc:derby:$work/derby/heur;create=true;territory=en_US"
    val store = s"$work/store"
    val today = java.time.LocalDate.ofEpochDay(Math.floorDiv(BaseTs, DayMs)).toString

    // ---- set-up: input staging, each input set timed in equal chunks;
    // set-up time = session start + chunks x median chunk
    val setupParts = ArrayBuffer.empty[(String, Seq[Double])]
    val (openLedger, openChunks) = FrameGen.generate(p, seed, "open", s"$work/stage/open",
      openFiles, fpf, BaseTs, 0L, chunks = 4)
    setupParts += "stage_open" -> openChunks
    val drainLedgers = Seq(0, 1).map { d =>
      val (l, c) = FrameGen.generate(p, seed, s"drain$d", s"$work/in/drain$d",
        if (d == 0) 2 else DrainFiles,
        w.drainFramesPerFile, BaseTs + d * 3600000L, d * 100000000L, chunks = 2)
      setupParts += s"stage_drain$d" -> c
      l
    }
    val setup = sessionStart + setupParts.map { case (_, c) => c.length * median(c) }.sum
    out.m("setup_s", setup, "s")
    out.info("setup_parts_s") = Json.obj(setupParts.toSeq.map { case (k, v) => k -> v })
    out.info("session_start_s") = sessionStart
    phase("setup")
    val heap = ArrayBuffer.empty[Double]

    // ---- drain phase: fixed pre-staged backlogs, all readers from
    // scratch, until every reader has committed all of it; drain 0 warms
    // the readers' code paths and is not timed, drain 1 is
    val drainEps = drainLedgers.indices.map { d =>
      val dirs = Dirs(s"$work/in/drain$d", s"$work/drain$d/store", s"$work/drain$d/enrich",
        s"$work/ckpt/drain$d", s"HEUR_DRAIN$d")
      val td = System.nanoTime()
      val r = startReaders(spark, dirs, Trigger.AvailableNow(), derbyUrl)
      r.all.foreach(_.awaitTermination())
      val wall = secs(td)
      out.attempted += drainLedgers(d).frames
      phase(s"drain$d")
      drainLedgers(d).frames / wall
    }.last
    out.m("ingest_eps", drainEps, "1/s")
    out.info("ingest_eps_per_core") = drainEps / Cores
    out.info("reference_eps") = ReferenceEps
    out.info("ingest_eps_per_core_vs_reference") = drainEps / Cores / ReferenceEps

    // ---- canaries before (Bench's two shapes)
    val canaryBefore = canaries(spark, warm = true)

    phase("canary_before")
    // ---- open-loop phase
    val openDirs = Dirs(s"$work/in/open", store, s"$work/enrich/open", s"$work/ckpt/open", "HEUR_OPEN")
    new File(openDirs.input).mkdirs()
    var openStartWall = 0L
    val lag = progress.map { _ =>
      // the generator's clock: event time runs with wall time from the
      // first due file on
      val l = new IngestLagListener(() => BaseTs + (now() - openStartWall))
      spark.streams.addListener(l); l
    }
    val readers = startReaders(spark, openDirs, Trigger.ProcessingTime(TriggerMs), derbyUrl)
    trace.foreach { t =>
      t.registerQuery(readers.route.id, "route")
      t.registerQuery(readers.enrich.id, "enrich")
      t.registerQuery(readers.heur.id, "session")
    }
    openStartWall = now() + 500
    val due = (0 until openFiles).map(k => openStartWall + (k + 1).toLong * FrameGen.FileMs)
    val actual = new Array[Long](openFiles)
    val gen = new Thread(() => {
      (0 until openFiles).foreach { k =>
        val wait = due(k) - now()
        if (wait > 0) Thread.sleep(wait)
        val name = openLedger.files(k).name
        Files.move(Paths.get(s"$work/stage/open/$name"), Paths.get(s"${openDirs.input}/$name"),
          StandardCopyOption.ATOMIC_MOVE)
        actual(k) = now()
      }
    }, "frame-generator")
    gen.start()
    gen.join()
    val openEnd = now()
    val eventLagMax = lag.flatMap(_.maxEventTimeLagMs).getOrElse(0L)
    // catch-up: every reader commits every file, or the rest fails
    val names = openLedger.files.map(_.name).toSet
    val deadline = now() + 30000
    def commits = Seq("route", "enrich", "heur").map(r => r -> fileCommits(s"${openDirs.ckpt}/$r")).toMap
    var cm = commits
    while (now() < deadline && !cm.values.forall(c => names.subsetOf(c.keySet))) {
      Thread.sleep(100); cm = commits
    }
    val routeWm = Option(readers.route.lastProgress).flatMap(pr =>
      Option(pr.eventTime.get("watermark"))).map(s => java.time.Instant.parse(s).toEpochMilli)
    readers.all.foreach(_.stop())
    lag.foreach(spark.streams.removeListener)
    routeWm.foreach(wm => EventRouter.closeDays(spark, store, KnownTypes, wm))
    val uncommitted = cm.values.map(c => openLedger.files.filterNot(f => c.contains(f.name))
      .map(_.frames.toLong).sum).max
    out.failed += uncommitted
    out.attempted += openLedger.frames
    // latency from each file's due time to the reader's batch commit
    def lat(reader: String, weight: FrameGen.FileInfo => Int): Seq[(Double, Int)] =
      openLedger.files.indices.drop(warmupFiles).flatMap { k =>
        val f = openLedger.files(k)
        cm(reader).get(f.name).map(c => ((c - due(k)).toDouble, weight(f)))
      }
    val routeLat = lat("route", _.frames)
    val enrichLat = lat("enrich", _.frames)
    val closeLat = lat("heur", _.endedApps)
    Seq("route" -> routeLat, "enrich" -> enrichLat, "session_close" -> closeLat).foreach {
      case (r, l) =>
        out.m(s"${r}_latency_mean_ms", l.map { case (v, n) => v * n }.sum / math.max(1, l.map(_._2).sum), "ms")
        out.m(s"${r}_latency_p50_ms", wquantile(l, 0.5), "ms")
        out.m(s"${r}_latency_p99_ms", wquantile(l, 0.99), "ms")
    }
    out.info("latency_samples") = Json.obj(Seq("route" -> routeLat.map(_._2.toLong).sum,
      "enrich" -> enrichLat.map(_._2.toLong).sum, "session_close" -> closeLat.map(_._2.toLong).sum))
    // backlog: frames due but not yet committed by the slowest reader,
    // at each quarter of the measured window and at the phase end
    def backlogAt(t: Long): Long = cm.values.map { c =>
      openLedger.files.indices.filter(k => due(k) <= t &&
        c.get(openLedger.files(k).name).forall(_ > t)).map(k => openLedger.files(k).frames.toLong).sum
    }.max
    val quarters = (1 to 4).map(q => backlogAt(due(warmupFiles) + (openEnd - due(warmupFiles)) * q / 4))
    val backlogEnd = backlogAt(openEnd)
    out.info("backlog_frames_quarters") = quarters
    // sustainability: a micro-batch reader keeps up, and its backlog stays
    // bounded, exactly when each frame costs it less than the time between
    // frames, i.e. when the offered rate is below the rate it drains a
    // backlog at. Drain 1 measured that capacity for the slowest reader.
    // Above it the backlog grows without bound: the phase fails rather than
    // reading as slow. (The backlog itself cannot tell: the route reader's
    // batches take 5-6 s, so the whole open loop lies in its start-up
    // transient, in which the backlog rises at any rate.)
    val offered = openLedger.frames / (openFiles * FrameGen.FileMs / 1000.0)
    out.info("open_loop_offered_eps") = offered
    out.info("open_loop_utilisation") = offered / drainEps
    if (offered >= drainEps) {
      out.failed += openLedger.frames; out.info("open_loop") = "offered rate above capacity"
    }
    val genLate = actual.indices.map(k => (actual(k) - due(k)).toDouble)
    out.m("lag.backlog_frames_end", backlogEnd.toDouble, "count")
    out.m("lag.event_time_lag_ms_max", eventLagMax.toDouble, "ms")
    out.m("gen.late_ms_p99", quantile(genLate, 0.99), "ms")
    heap += heapAfterGc()

    phase("open_loop")
    // ---- serving: the panel list closed-loop from one client
    val sinkFiles = dataFiles(new File(store))
    // each app-scoped panel shows the app with the most rows it selects,
    // from the generator's ledger (the late-data app aside)
    def busiest(tpe: String, sub: String): String = openLedger.rowsByApp.collect {
      case ((app, t, s), n) if t == tpe && s == sub && !app.endsWith("_late") => (-n, app) }.min._2
    val apps = Map(
      "sparkStageDurations" -> busiest("SPARK_STAGE_EVENT", ""),
      "appContainerMemory" -> busiest("CONTAINER_MONITORING_EVENT", "MEMORY"),
      "stateAnnotations" -> busiest("SPARK_STAGE_STATE_EVENT", "BEGIN"))
    out.info("panel_apps") = apps
    def appOf(name: String): String = apps.getOrElse(name, "")
    var listMs = 0.0; var listed = 0L; var scanned = 0L
    def isolated(t: String): DataFrame = {
      val tl = System.nanoTime()
      val df = EventSink.readIsolated(spark, s"$store/$t")
      listMs += secs(tl) * 1000
      val n = df.inputFiles.length
      listed += n; scanned += n
      df
    }
    // correctness reference first: each panel over a plain directory
    // read, untimed; it also plans and compiles every panel once
    val expected = Panels.map(name =>
      name -> rowsKey(panel(name, t => spark.read.parquet(s"$store/$t"), appOf(name)).collect().toSeq)).toMap
    // an empty reference would make the panel's check vacuous
    Panels.foreach { n =>
      out.info(s"panel_rows_$n") = expected(n).length
      out.check(s"open.panel_nonempty.$n", 1L, math.min(1L, expected(n).length.toLong))
    }
    val panelLat = ArrayBuffer.empty[(String, Int, Double)]
    (1 to PanelPasses).foreach { pass =>
      Panels.foreach { name =>
        out.attempted += 1
        val tp = System.nanoTime()
        try {
          val rows = trace.fold(panel(name, isolated, appOf(name)).collect().toSeq)(t =>
            t.tag("dash", s"$name-$pass")(panel(name, isolated, appOf(name)).collect().toSeq))
          panelLat += ((name, pass, secs(tp) * 1000))
          if (rowsKey(rows) != expected(name)) {
            out.failed += 1; out.info(s"panel_mismatch_$name") = true
          }
        } catch { case NonFatal(e) => out.failed += 1; out.info(s"panel_error_$name") = e.toString }
      }
    }
    val lats = panelLat.map(_._3).toSeq
    // each panel's best pass: the first timed pass still warms the
    // isolated-read path, and host noise only ever slows an execution
    val perPanel = Panels.map(n => panelLat.filter(_._1 == n).map(_._3).minOption.getOrElse(0.0))
    out.info("panel_pass_mean_ms") = (1 to PanelPasses).map(k =>
      panelLat.filter(_._2 == k).map(_._3).sum / Panels.length)
    out.m("panel_latency_mean_ms", perPanel.sum / perPanel.length, "ms")
    out.m("panel_latency_p50_ms", quantile(lats, 0.5), "ms")
    out.m("panel_latency_p90_ms", quantile(lats, 0.9), "ms")
    out.info("panel_samples") = lats.length
    Panels.zip(perPanel).foreach { case (n, v) => out.m(s"dash.${n}_ms", v, "ms") }
    heap += heapAfterGc()

    phase("serving")
    // ---- maintenance: compact today's fragmented partitions
    // a partition already in one file has nothing to compact
    val todayParts = KnownTypes.filter(t => dataFiles(new File(s"$store/$t/day=$today")).length > 1)
    val filesIn = todayParts.map(t => dataFiles(new File(s"$store/$t/day=$today")).length).sum
    // one maintenance sweep, partitions compacted concurrently on the
    // program's shared sweep pool (as its sink-maintenance lifecycle does)
    val tc = System.nanoTime()
    val compacted = graft.operators.Maintenance.parallelSweep(todayParts, "perfbench compaction") { t =>
      val body = () => EventSink.compactPartition(spark, s"$store/$t", Map("day" -> today), maxFiles = 1)
      t -> trace.fold(body())(tr => tr.tag("compact", t)(body()))
    }
    val compactS = secs(tc)
    out.attempted += todayParts.length
    compacted.filterNot(_._2).foreach { case (t, _) =>
      out.failed += 1; out.info(s"compact_refused_$t") = true }
    out.m("compact_s", compactS, "s")
    val todayFiles = todayParts.flatMap(t => dataFiles(new File(s"$store/$t/day=$today")))
    out.m("compact.files_in", filesIn, "count")
    out.m("compact.files_out", todayFiles.length, "count")
    out.m("compact.bytes", todayFiles.map(_.length()).sum.toDouble, "B")
    out.m("heap_peak_mb", heap.max, "MB")

    phase("compaction")
    // ---- output checks
    // committed rows from the parquet footers: no job per table
    def routed(base: String): Map[String, Long] =
      KnownTypes.filter(t => new File(s"$base/$t").exists()).map(t =>
        t -> dataFiles(new File(s"$base/$t")).map(footerRows).sum).toMap
    def expectRows(ls: Seq[FrameGen.Ledger]): Map[String, Long] =
      KnownTypes.map(t => t -> ls.map(l => l.perType.getOrElse(t, 0L) -
        l.corruptPerType.getOrElse(t, 0L)).sum).filter(_._2 > 0).toMap
    def checkRoute(phase: String, base: String, ls: Seq[FrameGen.Ledger]): Long = {
      val got = routed(base); val exp = expectRows(ls)
      (got.keySet ++ exp.keySet).foreach(t =>
        out.check(s"$phase.rows.$t", exp.getOrElse(t, 0L), got.getOrElse(t, 0L)))
      got.values.sum
    }
    def checkEnrich(phase: String, dir: String, l: FrameGen.Ledger): (Long, Long) = {
      val c = spark.read.parquet(dir).agg(count(lit(1)), count(when(col("enriched"), 1))).collect()(0)
      val n = c.getLong(0); val hit = c.getLong(1)
      out.check(s"$phase.enrich.rows_out", l.factsAll, n)
      out.check(s"$phase.enrich.enriched", l.factsEnriched, hit)
      (n, hit)
    }
    val committed = checkRoute("open", store, Seq(openLedger))
    val closedEnd = heurCount(derbyUrl, "HEUR_OPEN", "END")
    out.check("open.sessions_closed_end", openLedger.appsEnded, closedEnd)
    val (enrOut, enrHit) = checkEnrich("open", openDirs.enrichOut, openLedger)
    drainLedgers.indices.foreach { d =>
      checkRoute(s"drain$d", s"$work/drain$d/store", Seq(drainLedgers(d)))
      out.check(s"drain$d.sessions_closed_end", drainLedgers(d).appsEnded,
        heurCount(derbyUrl, s"HEUR_DRAIN$d", "END"))
      checkEnrich(s"drain$d", s"$work/drain$d/enrich", drainLedgers(d))
    }
    out.info("expected_hit_ratio") = openLedger.factsEnriched.toDouble / openLedger.factsAll

    phase("checks")
    // ---- canaries after; a run whose canaries diverge is marked dirty
    val canaryAfter = canaries(spark, warm = false)
    // a host that got busier or quieter moves both shapes the same way; a
    // ~0.1 s shape alone is too noisy to call a change of host
    val ratios = Seq(canaryAfter._1 / canaryBefore._1, canaryAfter._2 / canaryBefore._2)
    val dirty = ratios.forall(_ > 1.5) || ratios.forall(_ < 1 / 1.5)
    out.info("canary") = Json.obj(Seq("scan_before_s" -> canaryBefore._1, "scan_after_s" -> canaryAfter._1,
      "jobs_before_s" -> canaryBefore._2, "jobs_after_s" -> canaryAfter._2))
    out.info("dirty") = dirty
    out.info("frames") = Json.obj(Seq("open" -> openLedger.frames,
      "open_bytes" -> openLedger.bytes, "drain" -> drainLedgers.map(_.frames).sum))

    phase("canary_after")
    // ---- per-layer numbers (traced run)
    for (t <- trace; pl <- progress) {
      val tb = System.nanoTime()
      perLayer(spark, w, out, t, pl, readers, openDirs, openLedger, derbyUrl, sinkFiles,
        committed, closedEnd, enrOut, enrHit, listMs, listed, scanned, panelLat.length)
      out.info("trace_boundary_s") = secs(tb)
    }
  }

  /** Result rows of one closing kind in a heuristics table, read over
    * plain JDBC in the driver.
    */
  def heurCount(url: String, table: String, closedBy: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.prepareStatement(s"""SELECT COUNT(*) FROM $table WHERE "heuristic_name" LIKE ?""")
      st.setString(1, s"%@$closedBy")
      val rs = st.executeQuery(); rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Layer tags whose scheduler totals the traced run reports (`frame`
    * and `proto` run alone after the readers and report their busy time).
    */
  val SchedLayers: Seq[String] = Seq("route", "enrich", "session", "dash", "compact")

  /** Tracing overhead: the traced run's end-to-end figures against the
    * median of the untraced artifacts in `artifactDir` of the same
    * workload, seed and build, as percent worse. Each figure is null when
    * there is no such artifact.
    */
  def tracingOverhead(out: Out, workload: String, seed: Long, build: String,
                      artifactDir: String): Json.Raw = {
    val refs = Option(new File(artifactDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"$workload-seed$seed-trace0-"))
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .filter(_.contains(s"\"build\":${Json.str(build)}"))
    Json.obj(("ref_runs" -> refs.size) +: Seq(("ingest_eps", false), ("route_latency_mean_ms", true),
      ("panel_latency_mean_ms", true)).map { case (k, lowerIsBetter) =>
      val base = refs.flatMap(Json.metricValue(_, k))
      val pct = for ((v, _) <- out.metrics.get(k) if base.nonEmpty) yield {
        val b = median(base)
        (if (lowerIsBetter) v - b else b - v) / b * 100
      }
      s"${k}_overhead_pct" -> pct.fold[Any](null)(identity)
    })
  }

  /** Bench's two canary shapes, scaled down to fit a run: a fixed
    * scan+shuffle (best of three executions) and 3 (not 30) tiny sequential
    * jobs (best of two), after a full GC, in seconds. Before the run, the
    * scan first runs four times untimed and the jobs twice: about as many
    * executions as each takes to reach its warm speed.
    */
  def canaries(spark: SparkSession, warm: Boolean): (Double, Double) = {
    def scan(): Double = {
      val t = System.nanoTime()
      spark.range(0, 1500000, 1, Cores).selectExpr("id % 13 as k", "id * 7 as v")
        .groupBy("k").agg(sum("v")).write.format("noop").mode("overwrite").save()
      secs(t)
    }
    def jobs(): Double = {
      val t = System.nanoTime()
      (0 until 3).foreach(i => spark.range(200000L + i).selectExpr("sum(id * 3 + 1)").collect())
      secs(t)
    }
    if (warm) { (1 to 4).foreach(_ => scan()); (1 to 2).foreach(_ => jobs()) }
    // each figure follows a full GC, which slows the next executions alike
    System.gc()
    (Seq.fill(3)(scan()).min, Seq.fill(2)(jobs()).min)
  }

  def heapAfterGc(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The traced run's per-layer numbers: scheduler stats per layer tag,
    * stream progress, and the fused decode layers materialised on their
    * own over the open-loop input (their cost is tracing overhead).
    */
  def perLayer(spark: SparkSession, w: Workload, out: Out, t: Trace, pl: ProgressLog,
               readers: Readers, d: Dirs, ledger: FrameGen.Ledger, derbyUrl: String,
               sinkFiles: Seq[File], committed: Long, closedEnd: Long, enrOut: Long, enrHit: Long,
               listMs: Double, listed: Long, scanned: Long, panelRuns: Int): Unit = {
    // the readers' progress of the open-loop phase
    Seq(readers.route, readers.enrich, readers.heur).foreach(q =>
      pl.await(q.id, Option(q.lastProgress).map(_.batchId).getOrElse(0L), 10000))
    val prog = Seq(readers.route, readers.enrich, readers.heur).map(q => pl.of(q.id))
    val data = prog.flatten.filter(_.numInputRows > 0)
    def dur(k: String) = if (data.isEmpty) 0.0
      else data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / data.length
    out.m("batch.count", data.length, "count")
    out.m("batch.rows_per_batch", if (data.isEmpty) 0 else data.map(_.numInputRows).sum.toDouble / data.length, "count")
    out.m("batch.trigger_ms", dur("triggerExecution"), "ms")
    out.m("batch.add_batch_ms", dur("addBatch"), "ms")
    out.m("batch.latest_offset_ms", dur("latestOffset"), "ms")
    out.m("batch.planning_ms", dur("queryPlanning"), "ms")
    out.m("batch.wal_commit_ms", dur("walCommit"), "ms")
    out.m("batch.commit_ms", dur("commitOffsets"), "ms")
    out.info("batches") = Json.obj(Seq("route", "enrich", "session").zip(prog).map { case (n, ps) =>
      n -> ps.map(p => Seq(p.batchId, p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))) })
    // busiest reader: the one whose batches keep it busy longest while
    // the generator (its upstream) idles between drops
    val busy = Seq("route", "enrich", "session").zip(prog).map { case (n, ps) =>
      n -> ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)).sum }

    // envelope decode alone, then body decode alone, over the same frames
    val raw = spark.read.schema(rawSchema).parquet(d.input)
    val census = raw.select(frame_marker(col("value")).as("m")).agg(count(lit(1)),
      count(when(col("m").isNull, 1)),
      count(when(col("m").isNotNull && !col("m").isin(EventModel.typeMarkers.keys.toSeq: _*), 1)))
      .collect()(0)
    val decoded = FrameSource.decodeFramesFast(raw, acceptedTypes = KnownTypes).persist()
    val frameOut = t.tag("frame", "open")(decoded.count())
    out.m("frame.in", census.getLong(0).toDouble, "count")
    out.m("frame.out", frameOut.toDouble, "count")
    out.m("frame.corrupt", census.getLong(1).toDouble, "count")
    out.m("frame.unknown", census.getLong(2).toDouble, "count")
    // the envelope layer reconciles with the generator: in = out + dropped
    out.check("open.frame.in", ledger.frames, census.getLong(0))
    out.check("open.frame.corrupt", ledger.corrupt, census.getLong(1))
    out.check("open.frame.unknown", ledger.unknown, census.getLong(2))
    val frameMs = t.layer("frame").runMs.toDouble
    out.m("frame.busy_ms", frameMs, "ms")
    val present = decoded.select("event_type").distinct().collect().map(_.getString(0)).toSeq.sorted
    val protoRows = t.tag("proto", "open")(present.map(tp => tp -> FrameSource.typedTable(decoded, tp).count())).toMap
    out.m("proto.rows", protoRows.values.sum.toDouble, "count")
    out.m("proto.bytes", decoded.agg(sum(length(col("body")))).collect()(0).getLong(0).toDouble, "B")
    val protoMs = t.layer("proto").runMs.toDouble
    out.m("proto.busy_ms", protoMs, "ms")
    decoded.unpersist()

    // route: types per batch from the ledger's per-file types
    val (fileBatch, _) = commitLog(s"${d.ckpt}/route")
    val typesOf = ledger.files.map(f => f.name -> f.perType.keySet).toMap
    val perBatch = fileBatch.groupBy(_._2).values.map(_.keys.flatMap(typesOf.getOrElse(_, Set.empty)).toSet.size)
    out.m("route.types_per_batch", if (perBatch.isEmpty) 0 else perBatch.sum.toDouble / perBatch.size, "count")
    out.m("route.jobs_per_batch", t.jobsPerBatch("route"), "count")
    val routeMs = t.layer("route").runMs.toDouble
    out.m("route.busy_ms", routeMs, "ms")
    val addBatch = prog.head.map(p => p.batchId -> Option(p.durationMs.get("addBatch")).map(_.toLong).getOrElse(0L)).toMap
    out.m("route.driver_gap_ms", t.driverGapMs("route", addBatch), "ms")

    def stateOf(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
      val ops = ps.flatMap(_.stateOperators.headOption)
      (ops.lastOption.map(_.numRowsTotal).getOrElse(0L).toDouble,
        ops.lastOption.map(_.memoryUsedBytes).getOrElse(0L).toDouble,
        ops.map(_.allUpdatesTimeMs).sum.toDouble, ops.map(_.commitTimeMs).sum.toDouble)
    }
    val (eRows, eBytes, eUpd, eCommit) = stateOf(prog(1))
    out.m("enrich.rows_in", prog(1).map(_.numInputRows).sum.toDouble, "count")
    out.m("enrich.rows_out", enrOut.toDouble, "count")
    out.m("enrich.hit_ratio", if (enrOut == 0) 0 else enrHit.toDouble / enrOut, "ratio")
    out.m("enrich.state_rows", eRows, "count")
    out.m("enrich.state_bytes", eBytes, "B")
    out.m("enrich.state_update_ms", eUpd, "ms")
    out.m("enrich.state_commit_ms", eCommit, "ms")

    val (sRows, sBytes, _, sCommit) = stateOf(prog(2))
    val sessionIn = FrameGen.SessionTypes.toSeq.map(protoRows.getOrElse(_, 0L)).sum
    out.check("open.session.events_in", ledger.sessionEvents, sessionIn)
    out.m("session.events_in", sessionIn.toDouble, "count")
    out.m("session.closed_end", closedEnd.toDouble, "count")
    out.m("session.closed_timeout", heurCount(derbyUrl, d.heurTable, "TIMEOUT").toDouble, "count")
    out.m("session.state_rows", sRows, "count")
    out.m("session.state_bytes", sBytes, "B")
    out.m("session.state_commit_ms", sCommit, "ms")
    // the JDBC write alone: replay the committed result rows
    val results = spark.read.option("driver", DerbyDriver).jdbc(derbyUrl, d.heurTable, new java.util.Properties()).cache()
    val nRes = results.count()
    val th = System.nanoTime()
    t.tag("heur", "replay")(HeuristicsSink.writeResults(results, derbyUrl, "HEUR_REPLAY", driver = Some(DerbyDriver)))
    out.m("heur.rows_written", nRes.toDouble, "count")
    out.m("heur.jdbc_write_ms", secs(th) * 1000, "ms")
    results.unpersist()

    out.m("sink.rows_committed", committed.toDouble, "count")
    out.m("sink.files_written", sinkFiles.length, "count")
    out.m("sink.bytes_written", sinkFiles.map(_.length()).sum.toDouble, "B")
    out.m("sink.write_ms", math.max(0.0, routeMs - frameMs - protoMs), "ms")

    val dash = t.layer("dash")
    out.m("read.files_listed", listed.toDouble, "count")
    out.m("read.list_ms", listMs, "ms")
    out.m("read.files_scanned", scanned.toDouble, "count")
    out.m("read.bytes_scanned", dash.bytesRead.toDouble, "B")
    out.m("read.rows_scanned", dash.recordsRead.toDouble, "count")
    out.m("dash.jobs_per_panel", if (panelRuns == 0) 0 else dash.jobs.toDouble / panelRuns, "count")

    SchedLayers.foreach { l =>
      val s = t.layer(l)
      out.m(s"$l.jobs", s.jobs, "count")
      out.m(s"$l.tasks", s.tasks, "count")
      out.m(s"$l.executor_run_ms", s.runMs, "ms")
      out.m(s"$l.executor_cpu_ms", s.cpuNs / 1e6, "ms")
      out.m(s"$l.shuffle_read_bytes", s.shuffleRead, "B")
      out.m(s"$l.shuffle_write_bytes", s.shuffleWrite, "B")
      out.m(s"$l.spill_bytes", s.spill, "B")
      out.m(s"$l.gc_ms", s.gcMs, "ms")
    }

    // bottleneck: the busiest reader, and within it the layer with the
    // most executor time
    val (slowReader, _) = busy.maxBy(_._2)
    val within = slowReader match {
      case "route" => Seq("frame" -> frameMs, "proto" -> protoMs,
        "sink" -> math.max(0.0, routeMs - frameMs - protoMs))
      case "enrich" => Seq("enrich" -> t.layer("enrich").runMs.toDouble)
      case _ => Seq("session" -> t.layer("session").runMs.toDouble)
    }
    out.info("reader_busy_ms") = Json.obj(busy.map { case (k, v) => k -> v })
    out.info("bottleneck") = s"$slowReader/${within.maxBy(_._2)._1}"
  }
}

package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.model.{EventModel, ProtoDescriptors}

/** The seeded frame generator. It writes the wire frames the readers
  * consume as parquet files of `(value binary, offset long)` rows — the
  * shape of the Kafka source — and keeps a ledger of what it wrote, which
  * the output checks compare against. The program under test sees only the
  * files.
  *
  * Frame sizes follow the reference's published p99s: container monitoring
  * ~260 B, FS ~800 B, JVMSTATS ~1.9 KB, and SPARK_TASK/STAGE bodies with a
  * heavy tail whose p99 is ~158 KB. Each profile sets known shares of
  * corrupt (bad envelope lengths), unknown-marker, late (beyond the 26 h
  * grace) and duplicate (re-sent) frames.
  */
object FrameGen {

  /** One workload's population: `shortApps` short MapReduce apps (2–4
    * containers each) that live `ShortAppLifeFiles` files on average and
    * close with a STATE END, and `longApps` long-lived Spark apps with
    * `executors` containers each that never end. Each frame's source is
    * drawn in proportion to the [[Rates]] of the live population.
    */
  final case class Profile(shortApps: Int, longApps: Int, executors: Int)

  /** Emission rates, events per second. From BASELINE.md (the reference's
    * README): container monitoring 2 per container per NodeManager monitor
    * interval (YARN's default interval is 3 s); JVM stats 1 per 10 s per
    * JVM as configured, 1 per minute at the library default; application
    * state 1 per 10 s per running app. The reference publishes no rate for
    * the rest, so these are assumptions: FS 1 per 3 s per container, GC 1
    * per 10 s per JVM, and per Spark executor 1 task end per second with a
    * stage every 4 tasks (one stage event, two stage-state events).
    */
  object Rates {
    val ContainerMonitoring: Double = 2.0 / 3
    val JvmStatsConfigured: Double = 1.0 / 10
    val JvmStatsDefault: Double = 1.0 / 60
    val AppState: Double = 1.0 / 10
    val Fs: Double = 1.0 / 3
    val Gc: Double = 1.0 / 10
    val SparkTask: Double = 1.0
    val SparkStage: Double = SparkTask / 4
    val SparkStageState: Double = 2 * SparkStage
  }

  /** Per-container mixes. Short apps' JVMs run the agent at its library
    * default JVM-stats period, Spark executors at the configured one.
    */
  val ShortContainerMix: Seq[(String, Double)] = Seq(
    "CONTAINER_MONITORING_EVENT" -> Rates.ContainerMonitoring, "FS_EVENT" -> Rates.Fs,
    "GC_EVENT" -> Rates.Gc, "JVMSTATS_EVENT" -> Rates.JvmStatsDefault)
  val ExecutorMix: Seq[(String, Double)] = Seq(
    "CONTAINER_MONITORING_EVENT" -> Rates.ContainerMonitoring, "FS_EVENT" -> Rates.Fs,
    "GC_EVENT" -> Rates.Gc, "JVMSTATS_EVENT" -> Rates.JvmStatsConfigured,
    "SPARK_TASK_EVENT" -> Rates.SparkTask, "SPARK_STAGE_EVENT" -> Rates.SparkStage,
    "SPARK_STAGE_STATE_EVENT" -> Rates.SparkStageState)

  /** One frame file per `FileMs` of event time (and of open-loop schedule). */
  val FileMs = 100
  /** Mean short-app lifetime, in files. The reference's churn (~25 M
    * containers a day against ~45 k events/s, so ~155 events per container)
    * would make app starts and ends ~0.4 % of the frames; 7.5 s lifetimes
    * make them ~12 % on `ingest_small`, so that a run closes about 100
    * sessions.
    */
  val ShortAppLifeFiles = 75
  // known shares of the frames (and of the apps, for UnknownAppShare)
  val UnknownAppShare = 0.2
  val CorruptShare = 0.01
  val UnknownMarkerShare = 0.01
  val LateShare = 0.02
  val DupShare = 0.02

  val SessionTypes: Set[String] = Set("GC_EVENT", "JVMSTATS_EVENT", "STATE_EVENT")
  val UnknownMarker = 7777

  /** What the generator wrote into one frame file. */
  final case class FileInfo(name: String, frames: Int, bytes: Long,
                            perType: Map[String, Int], corruptPerType: Map[String, Int],
                            unknown: Int, endedApps: Int)

  /** The ledger of one input set: per-file facts plus the totals the
    * output checks need.
    */
  final case class Ledger(files: IndexedSeq[FileInfo], factsEnriched: Long, factsAll: Long,
                          appsEnded: Int, sessionEvents: Long,
                          rowsByApp: Map[(String, String, String), Long]) {
    def frames: Long = files.map(_.frames.toLong).sum
    def bytes: Long = files.map(_.bytes).sum
    def perType: Map[String, Long] = sumMaps(files.map(_.perType))
    def corruptPerType: Map[String, Long] = sumMaps(files.map(_.corruptPerType))
    def unknown: Long = files.map(_.unknown.toLong).sum
    def corrupt: Long = corruptPerType.values.sum
  }

  private def sumMaps(ms: Seq[Map[String, Int]]): Map[String, Long] =
    ms.flatten.groupMapReduce(_._1)(_._2.toLong)(_ + _)

  private final case class App(id: String, user: String, known: Boolean, long: Boolean,
                               containers: IndexedSeq[String], var filesLeft: Int,
                               var started: Boolean = false)

  /** A valid frame sent: `sub` is the body's kind where the panels
    * select on it (resource type, state), else empty.
    */
  private final case class Sent(bytes: Array[Byte], tpe: String, app: App, sub: String)

  private val schema = MessageTypeParser.parseMessageType(
    "message frames { required binary value; required int64 offset; }")

  private val users = (0 until 24).map(i => s"user_$i")
  val uris: Seq[String] = Seq("hdfs://root", "hdfs://prod-ns", "hdfs://logs")
  private val actions = Seq("READ", "WRITE", "DELETE", "RENAME", "APPEND", "LIST")
  val collectors: Seq[String] = Seq("G1 Young Generation", "G1 Old Generation", "PS Scavenge")

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  private def header(app: App, container: String): Array[Byte] =
    ProtoDescriptors.header.encode(Seq(
      app.id, "1", s"job-${app.id.takeRight(6)}", app.user, container,
      s"host-${math.abs(container.hashCode) % 40}", s"${1000 + math.abs(container.hashCode) % 9000}",
      if (app.long) "SPARK" else "MAPREDUCE",
      if (container == app.containers.head) "UNKNOWN" else "EXECUTOR",
      "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))

  /** `n` pseudo-random lowercase letters (so parquet cannot fold it away). */
  private def text(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  /** The body's kind, for the types whose bodies the panels select on. */
  private def subOf(r: SplittableRandom, tpe: String): String = tpe match {
    case "CONTAINER_MONITORING_EVENT" => if (r.nextInt(3) == 0) "VCORE" else "MEMORY"
    case "SPARK_STAGE_STATE_EVENT" => if (r.nextBoolean()) "BEGIN" else "COMPLETED"
    case "STATE_EVENT" => "RUNNING"
    case _ => ""
  }

  /** Stack-trace lengths of failed Spark tasks: 9 % of task and stage
    * events carry one, log-uniform in [1 KB, 300 KB], which puts the type's
    * p99 near 158 KB. Both draws follow additive recurrences from seeded
    * starts rather than independent draws, so that the tail is spread
    * evenly over an input set instead of clumping by chance.
    */
  private final class StackTraces(r: SplittableRandom) {
    private var failDraw = r.nextDouble()
    private var sizeDraw = r.nextDouble()
    /** The next event's stack-trace length, 0 when it did not fail. */
    def next(): Int = {
      failDraw = (failDraw + 0.6180339887498949) % 1.0
      if (failDraw >= 0.09) 0
      else {
        sizeDraw = (sizeDraw + 0.7548776662466927) % 1.0
        math.exp(math.log(1024) + sizeDraw * (math.log(300 * 1024) - math.log(1024))).toInt
      }
    }
  }

  private def body(r: SplittableRandom, tpe: String, app: App, sub: String,
                   traces: StackTraces): Array[Byte] = tpe match {
    case "CONTAINER_MONITORING_EVENT" =>
      ProtoDescriptors.containerResourceEvent.encode(Seq(sub, 4096L + r.nextInt(8) * 1024L,
        (r.nextInt(4096) + 1).toFloat))
    case "FS_EVENT" =>
      val path = "/user/" + app.user + "/warehouse/" + text(r, 280 + r.nextInt(300))
      ProtoDescriptors.fsEvent.encode(Seq(path, if (r.nextInt(8) == 0) path + ".tmp" else "",
        pick(r, actions), pick(r, uris), (r.nextInt(200) + 1).toLong, app.user,
        if (r.nextInt(20) == 0) "FAILURE" else "SUCCESS"))
    case "GC_EVENT" =>
      ProtoDescriptors.gcStatisticsData.encode(Seq(pick(r, collectors), (r.nextInt(300) + 1).toLong,
        "Allocation Failure", 1L << 20, 1L << 10, 0L, 0L, 1L << 22, 1L << 21,
        0L, 0L, 0L, 0L, r.nextInt(100).toFloat / 100f))
    case "STATE_EVENT" => ProtoDescriptors.stateEvent.encode(Seq(sub))
    case "APPLICATION_EVENT" =>
      ProtoDescriptors.applicationEvent.encode(Seq("RUNNING", "default", "", "",
        Seq("team:" + app.user), app.containers.head, "proj", "wf", 0L, 0L, "", 0L, 0L))
    case "JVMSTATS_EVENT" =>
      // ~1.9 KB, the reference's JVMSTATS p99
      val sections = Seq(
        Seq("heap", Seq(Seq("used", s"${r.nextInt(1 << 30)}"), Seq("max", "4294967296"),
          Seq("committed", "2147483648"), Seq("init", "268435456"))),
        Seq(s"gc(${collectors.head})", Seq(Seq("count", s"${r.nextInt(5000)}"),
          Seq("time", s"${r.nextInt(100000)}"))),
        Seq("threads", Seq(Seq("count", s"${20 + r.nextInt(200)}"), Seq("total", s"${r.nextInt(4000)}"))),
        Seq("os", (0 until 46).map(i => Seq(s"metric_property_$i", s"${r.nextLong() & 0xffffffffffL}"))))
      ProtoDescriptors.jvmStatisticsData.encode(Seq(sections))
    case "SPARK_TASK_EVENT" | "SPARK_STAGE_EVENT" =>
      val trace = traces.next()
      val failed = trace > 0
      val reason = if (failed) text(r, trace) else ""
      val metrics = Seq.fill(25)((r.nextInt(1 << 20) + 1).toLong)
      val stage = s"${r.nextInt(40)}"
      if (tpe == "SPARK_TASK_EVENT")
        ProtoDescriptors.sparkTaskEvent.encode(Seq(1000L + r.nextInt(100000),
          s"${r.nextInt(100000)}", stage, "0", "exec-host", if (failed) "FAILED" else "SUCCESS",
          reason) ++ metrics ++ Seq("ResultTask", "PROCESS_LOCAL", 0))
      else
        ProtoDescriptors.sparkStageEvent.encode(Seq(1000L + r.nextInt(100000),
          s"stage-$stage", stage, "0", 8 + r.nextInt(200), "COMPLETED", reason) ++ metrics)
    case "SPARK_STAGE_STATE_EVENT" =>
      ProtoDescriptors.sparkStageStateEvent.encode(Seq(sub, s"stage-${r.nextInt(40)}",
        s"${r.nextInt(40)}", "0", 8 + r.nextInt(200)))
  }

  private def frame(tpe: String, ts: Long, h: Array[Byte], b: Array[Byte]): Array[Byte] =
    EventModel.encode(EventModel.Frame(EventModel.markerForName(tpe), ts, h, b))

  /** Envelope corruption: the body length no longer matches the bytes. */
  private def corrupt(f: Array[Byte]): Array[Byte] = {
    val c = f.clone()
    val b = java.nio.ByteBuffer.wrap(c)
    b.putInt(16, b.getInt(16) + 7)
    c
  }

  /** One configuration for every file: building one reads the default
    * resources, which would otherwise dominate writing a small file.
    */
  private lazy val hadoopConf = new Configuration()

  private def writeFile(path: String, frames: Seq[Array[Byte]], firstOffset: Long): Unit = {
    val w = ExampleParquetWriter.builder(new Path(path)).withConf(hadoopConf)
      .withType(schema).build()
    try {
      val f = new SimpleGroupFactory(schema)
      frames.zipWithIndex.foreach { case (b, i) =>
        w.write(f.newGroup().append("value", Binary.fromConstantByteArray(b))
          .append("offset", firstOffset + i))
      }
    } finally w.close()
  }

  /** Generate `nFiles` frame files into `dir` (named `f-%06d.parquet`),
    * each with `framesPerFile` frames, the app-lifecycle frames (one
    * APPLICATION_EVENT per starting app, one STATE END per ending app)
    * included. Event time starts at `baseTs` and advances `FileMs` per
    * file. `tag` keeps app ids distinct between the input sets of one run. Files are timed in
    * `chunks` equal groups; the group times (seconds) are returned.
    */
  def generate(p: Profile, seed: Long, tag: String, dir: String, nFiles: Int,
               framesPerFile: Int, baseTs: Long, firstOffset: Long,
               chunks: Int = 1): (Ledger, Seq[Double]) = {
    new java.io.File(dir).mkdirs()
    val r = new SplittableRandom(seed * 1000003L + tag.hashCode)
    var appSeq = 0
    def newApp(long: Boolean): App = {
      appSeq += 1
      val id = s"application_${tag}_${seed}_$appSeq"
      App(id, pick(r, users), known = r.nextDouble() >= UnknownAppShare, long,
        (1 to (if (long) p.executors else 2 + r.nextInt(3)))
          .map(c => f"container_${tag}_${seed}_${appSeq}_$c%06d"),
        if (long) Int.MaxValue else 1 + r.nextInt(2 * ShortAppLifeFiles))
    }
    val shortApps = ArrayBuffer.fill(p.shortApps)(newApp(long = false))
    val longApps = IndexedSeq.fill(p.longApps)(newApp(long = true))
    // late frames ride an app without an APPLICATION_EVENT, so they are
    // enrichment misses whichever batch they land in
    val lateApp = App(s"application_${tag}_${seed}_late", "user_late", known = false,
      long = true, IndexedSeq(s"container_${tag}_${seed}_late_000001"), Int.MaxValue, started = true)
    var factsEnriched = 0L; var factsAll = 0L; var ended = 0; var sessionEvents = 0L
    val rowsByApp = scala.collection.mutable.Map.empty[(String, String, String), Long].withDefaultValue(0L)
    val traces = new StackTraces(r)
    val recent = ArrayBuffer.empty[Sent]
    var offset = firstOffset
    val perChunk = math.max(1, (nFiles + chunks - 1) / chunks)
    val chunkTimes = ArrayBuffer.empty[Double]
    var chunkStart = System.nanoTime()
    val infos = (0 until nFiles).map { k =>
      val fileStart = baseTs + k.toLong * FileMs
      val out = ArrayBuffer.empty[Array[Byte]]
      val perType = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val corruptPerType = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      var unknown = 0
      var endedHere = 0
      def ts(): Long = fileStart + 1 + r.nextInt(FileMs - 1)
      // every valid frame of a known type is a fact for enrichment except
      // APPLICATION_EVENT; it is enriched iff its app sent one first
      def account(s: Sent): Unit = {
        perType(s.tpe) += 1
        rowsByApp((s.app.id, s.tpe, s.sub)) += 1
        if (s.tpe != "APPLICATION_EVENT") {
          factsAll += 1
          if (s.app.known) factsEnriched += 1
        }
        if (SessionTypes(s.tpe)) sessionEvents += 1
      }
      def emit(tpe: String, ts: Long, app: App, container: String, sub: String,
               mayCorrupt: Boolean): Unit = {
        val f = frame(tpe, ts, header(app, container), body(r, tpe, app, sub, traces))
        if (mayCorrupt && r.nextDouble() < CorruptShare) {
          out += corrupt(f); perType(tpe) += 1; corruptPerType(tpe) += 1
        } else {
          val s = Sent(f, tpe, app, sub)
          out += f; account(s)
          // STATE frames are never re-sent: a duplicate END would be a
          // second close, which the reference's reader cannot tell apart
          if (tpe != "STATE_EVENT" && tpe != "APPLICATION_EVENT") {
            recent += s
            if (recent.length > 64) recent.remove(0)
          }
        }
      }
      // app starts: the APPLICATION_EVENT is stamped at the file's start,
      // before every fact of the app in event time
      (shortApps ++ longApps).filter(!_.started).foreach { a =>
        a.started = true
        if (a.known) emit("APPLICATION_EVENT", fileStart, a, a.containers.head, "", mayCorrupt = false)
      }
      // every (app, container, type) of the live population, weighted by
      // its emission rate; STATE is per app
      val sources = (shortApps.toSeq ++ longApps).flatMap { a =>
        (if (a.long) ExecutorMix else ShortContainerMix).flatMap { case (t, rate) =>
          a.containers.map(c => (a, c, t, rate))
        } :+ ((a, a.containers.head, "STATE_EVENT", Rates.AppState))
      }.toIndexedSeq
      val cum = sources.scanLeft(0.0)(_ + _._4).tail.toArray
      def draw(): (App, String, String) = {
        val i = java.util.Arrays.binarySearch(cum, r.nextDouble() * cum.last)
        val s = sources(math.min(if (i >= 0) i + 1 else -i - 1, sources.length - 1))
        (s._1, s._2, s._3)
      }
      // the lifecycle frames take their slots out of the file's budget
      val ending = shortApps.count(_.filesLeft <= 1)
      var slots = out.length + ending
      while (slots < framesPerFile) {
        slots += 1
        val u = r.nextDouble()
        if (u < UnknownMarkerShare) {
          out += EventModel.encode(EventModel.Frame(UnknownMarker, ts(),
            header(lateApp, lateApp.containers.head), Array.fill[Byte](40)(1)))
          unknown += 1
        } else if (u < UnknownMarkerShare + DupShare && recent.nonEmpty) {
          val s = recent(r.nextInt(recent.length))
          out += s.bytes; account(s)
        } else if (u < UnknownMarkerShare + DupShare + LateShare) {
          val tpe = if (r.nextBoolean()) "FS_EVENT" else "CONTAINER_MONITORING_EVENT"
          val late = baseTs - 27L * 3600000L - r.nextInt(3 * 3600000)
          emit(tpe, late, lateApp, lateApp.containers.head, subOf(r, tpe), mayCorrupt = true)
        } else {
          val (app, container, tpe) = draw()
          emit(tpe, ts(), app, container, subOf(r, tpe), mayCorrupt = true)
        }
      }
      // app ends: a short app whose lifetime is over sends STATE END as
      // its last session event; a fresh app takes its place next file
      shortApps.indices.foreach { j =>
        val a = shortApps(j)
        a.filesLeft -= 1
        if (a.filesLeft <= 0) {
          emit("STATE_EVENT", fileStart + FileMs - 1, a, a.containers.head, "END", mayCorrupt = false)
          ended += 1; endedHere += 1
          shortApps(j) = newApp(long = false)
        }
      }
      val name = f"f-$k%06d.parquet"
      writeFile(s"$dir/$name", out.toSeq, offset)
      offset += out.length
      if ((k + 1) % perChunk == 0 || k == nFiles - 1) {
        val now = System.nanoTime()
        chunkTimes += (now - chunkStart) / 1e9
        chunkStart = now
      }
      FileInfo(name, out.length, out.map(_.length.toLong).sum, perType.toMap,
        corruptPerType.toMap, unknown, endedHere)
    }
    (Ledger(infos, factsEnriched, factsAll, ended, sessionEvents, rowsByApp.toMap), chunkTimes.toSeq)
  }
}

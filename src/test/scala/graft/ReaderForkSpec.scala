package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventSink, StreamingEnrichment}
import graft.streaming.StreamingEnrichment.EnrichInput

/** No Hadoop code on a reader's commit path starts a process. Without
  * libhadoop, Hadoop's local file system forks `chmod` to set a new file's
  * mode and `readlink` to stat a rename's source and target; graft's
  * fork-free `file:` scheme answers both from the JVM. JDK Flight
  * Recorder's `jdk.ProcessStart` events, with their stacks, show any fork
  * a later Hadoop or Spark call brings back.
  */
class ReaderForkSpec extends SparkSpecBase {

  private val day = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime

  /** JSON lines of `EnrichInput`: `app_1`'s APPLICATION_EVENT if `appEvent`,
    * then `n` FS events of `app_1` and `app_2` from `t0` on.
    */
  private def events(t0: Long, n: Int, appEvent: Boolean): String = {
    val attrs = """{"applicationName":"job","framework":"SPARK","username":"u",""" +
      """"amContainerId":"c_1","yarnTags":[]}"""
    val start =
      if (appEvent) Seq(s"""{"applicationId":"app_1","isAppEvent":true,"attrs":$attrs,""" +
        s""""eventType":"APPLICATION_EVENT","containerId":"c_1","component":"APP_MASTER","tsMillis":$t0}""")
      else Nil
    val facts = (0 until n).map { i =>
      s"""{"applicationId":"app_${1 + i % 2}","isAppEvent":false,"attrs":null,"eventType":"FS_EVENT",""" +
        s""""containerId":"c_2","component":"EXECUTOR","tsMillis":${t0 + 1 + i}}"""
    }
    (start ++ facts).mkString("", "\n", "\n")
  }

  /** The enrichment reader (keyed state, file sink) over `in`, run to the
    * end of its input from the checkpoint under `out`.
    */
  private def drain(in: JPath, out: JPath): Unit = {
    import spark.implicits._
    val input = spark.readStream.schema(Encoders.product[EnrichInput].schema).json(in.toString)
      .as[EnrichInput]
    val enriched = StreamingEnrichment.enrich(input).toDF()
      .withColumn("timestamp", timestamp_millis(col("tsMillis")))
      .withColumn("event_type", col("eventType"))
    EventSink.partitionedStreamWriter(enriched, s"$out/enriched", s"$out/ckpt",
      trigger = Trigger.AvailableNow(), monitorLag = false).start().awaitTermination()
  }

  /** A fork's command and the top of its stack. */
  private def describe(e: RecordedEvent): String =
    e.getString("command") + e.getStackTrace.getFrames.asScala.take(12)
      .map(f => s"\n    at ${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}").mkString

  test("two batches of a stateful reader start no process from Hadoop code") {
    val in = Files.createTempDirectory("fork_in")
    val out = Files.createTempDirectory("fork_out")
    // Hadoop's Shell forks to probe bash and setsid once, when it loads
    Class.forName("org.apache.hadoop.util.Shell")
    Files.writeString(in.resolve("0.json"), events(day, 20, appEvent = true))

    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try {
      drain(in, out)
      Files.writeString(in.resolve("1.json"), events(day + 60000, 20, appEvent = false))
      drain(in, out)
    } finally recording.stop()
    val jfr = Files.createTempFile("reader_forks", ".jfr")
    recording.dump(jfr)
    recording.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toList
    Files.delete(jfr)

    val fromHadoop = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
    assert(fromHadoop.isEmpty,
      s"${fromHadoop.size} of ${starts.size} process starts came from Hadoop:\n" +
        fromHadoop.take(5).map(describe).mkString("\n"))

    // both batches committed, and the second was enriched from restored state
    val rows = spark.read.parquet(s"$out/enriched").where(col("applicationId") === "app_1")
      .select("tsMillis", "enriched").collect().map(r => r.getLong(0) -> r.getBoolean(1))
    assert(rows.length == 20 && rows.forall(_._2), rows.toSeq)
  }
}

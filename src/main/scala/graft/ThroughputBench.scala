package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{EventModel, ProtoDescriptors}
import graft.model.EventModel.Frame
import graft.sources.FrameSource

/** Wire-path throughput benchmark: the BASELINE criterion is ~45 k
  * decoded-filtered-aggregated events/s/core (the reference pipeline's
  * single-threaded reader rate; BASELINE.md "BENCH target"). Drives the
  * §7.2 minimum slice over the envelope codec: synthesize frames →
  * decode → marker filter → per-type counts; plus a `typed` variant that
  * additionally proto-decodes the header and body and aggregates on a
  * decoded column (the full read path a production reader runs).
  *
  * Measurement hygiene: every variant gets one unmeasured warmup (codegen
  * + JIT), then `runs` measured executions taken round-robin across
  * variants (so JVM ramp-up never biases one variant), reported as the
  * median. Failures propagate.
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toInt).getOrElse(2000000)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val cpus = GraftSession.cpus
    val spark = GraftSession(cpus, "ThroughputBench")
    import spark.implicits._

    // Synthesize realistic frames: proto3-encoded FS_EVENT/GC/STATE bodies
    // behind real headers, mixed with other markers and 10% corrupt
    // records (the reference drops these, we must too).
    val markers = Array(0, 1, 3, 1000, 1001, 2000, 4000)
    val raw = spark.sparkContext.parallelize(0 until nEvents, cpus * 4).map { i =>
      if (i % 10 == 9) Array.fill[Byte](15)((i % 97).toByte) // corrupt
      else {
        val header = ProtoDescriptors.header.encode(Seq(
          s"application_${i % 500}", "1", "pipeline", s"user_${i % 37}",
          s"container_${i % 4000}", s"host_${i % 97}", "", "YARN", "EXECUTOR",
          "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
        val marker = markers(i % markers.length)
        val body = marker match {
          case 1 => ProtoDescriptors.fsEvent.encode(Seq(
            s"/user/u${i % 37}/part-$i", "", "WRITE", "hdfs://root", (i % 997).toLong,
            s"user_${i % 37}", "SUCCESS"))
          case 1000 => ProtoDescriptors.gcStatisticsData.encode(
            Seq("PS Scavenge", (i % 300).toLong, "Allocation Failure") ++
              Seq.fill(10)((i % 100000).toLong) ++ Seq(0.0f))
          case 3 => ProtoDescriptors.stateEvent.encode(Seq("RUNNING"))
          case _ => Array.fill[Byte](100 + (i % 5) * 40)((i % 127).toByte)
        }
        EventModel.encode(Frame(marker, 1700000000000L + i, header, body))
      }
    }.toDF("value").withColumn("offset", monotonically_increasing_id())

    raw.persist().count() // stage the input so we time decode only

    val accepted = Seq("FS_EVENT", "GC_EVENT", "STATE_EVENT")

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "decode_throughput_fast" -> (() =>
        FrameSource.decodeFramesFast(raw, acceptedTypes = accepted)
          .groupBy(col("event_type")).count()),
      "decode_throughput_flatmap" -> (() =>
        FrameSource.decodeFrames(spark, raw)
          .where(col("event_type").isin(accepted: _*))
          .groupBy(col("event_type")).count()),
      // full read path: envelope + typed proto decode of header AND body,
      // aggregate on decoded columns across the type union
      "decode_throughput_typed" -> (() => {
        val frames = FrameSource.decodeFramesFast(raw, acceptedTypes = accepted)
        graft.sources.EventTables.unionView(
          FrameSource.typedTables(frames, accepted))
          .groupBy(col("event_type"), col("username")).count()
          .groupBy(col("event_type")).agg(sum(col("count")).as("count"))
      }))

    def once(mk: () => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = mk().collect()
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, rows.map(_.getLong(1)).sum)
    }

    variants.foreach { case (_, mk) => once(mk) } // per-variant warmup

    val samples = (0 until runs).flatMap { _ =>
      variants.map { case (name, mk) => name -> once(mk) } // round-robin
    }.groupBy(_._1)

    variants.foreach { case (name, _) =>
      val rs = samples(name).map(_._2).sortBy(_._1)
      val (secs, decodedN) = rs(rs.length / 2)
      println(f"""{"metric":"$name","events_in":$nEvents,"decoded_matched":$decodedN,"sec":$secs%.3f,"events_per_sec":${(nEvents / secs).toLong},"events_per_sec_per_core":${(nEvents / secs / cpus).toLong},"cores":$cpus,"runs":$runs}""")
    }
    spark.stop()
  }
}

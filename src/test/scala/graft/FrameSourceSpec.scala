package graft

import org.apache.spark.sql.functions._

import graft.model.EventModel
import graft.model.EventModel.Frame
import graft.sources.FrameSource

/** Row shape of the `kafka` streaming source, mirrored for the broker-less
  * contract test (top-level so the MemoryStream encoder needs no outer
  * pointer).
  */
case class KafkaSourceRecord(key: Array[Byte], value: Array[Byte], topic: String,
                             partition: Int, offset: Long,
                             timestamp: java.sql.Timestamp, timestampType: Int)

/** Envelope ingestion: flatmap vs fast-expression decode equivalence,
  * lazy-filter semantics, corrupt-frame drops (S2/S3).
  */
class FrameSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private def frames: Seq[(Array[Byte], Long)] = Seq(
    EventModel.encode(Frame(1, 1700000000001L, Array[Byte](1, 2), Array[Byte](3, 4, 5))) -> 10L,
    EventModel.encode(Frame(1000, 1700000000002L, Array[Byte](9), Array[Byte]())) -> 11L,
    EventModel.encode(Frame(424242, 1700000000003L, Array[Byte](), Array[Byte](7))) -> 12L, // unknown marker
    Array.fill[Byte](10)(1) -> 13L, // corrupt: too short
    EventModel.encode(Frame(3, 1700000000004L, Array[Byte](1), Array[Byte](2))).dropRight(1) -> 14L) // corrupt: truncated

  lazy val raw = frames.toDF("value", "offset")

  test("fast and flatmap decodes agree row-for-row") {
    val slow = FrameSource.decodeFrames(spark, raw)
      .select("event_type", "type_marker", "timestamp_millis", "kafka_offset")
      .orderBy("kafka_offset").collect().toSeq
    val fast = FrameSource.decodeFramesFast(raw)
      .select("event_type", "type_marker", "timestamp_millis", "kafka_offset")
      .orderBy("kafka_offset").collect().toSeq
    assert(slow == fast)
    assert(slow.size == 3) // both corrupt frames dropped
    assert(slow.map(_.getString(0)) == Seq("FS_EVENT", "GC_EVENT", "UNKNOWN_424242"))
  }

  test("fast decode preserves header/body payloads") {
    val r = FrameSource.decodeFramesFast(raw).where(col("kafka_offset") === 10L)
      .select("header", "body").collect().head
    assert(r.getAs[Array[Byte]]("header").toSeq == Seq[Byte](1, 2))
    assert(r.getAs[Array[Byte]]("body").toSeq == Seq[Byte](3, 4, 5))
  }

  test("acceptedTypes filters on the marker before type mapping") {
    val out = FrameSource.decodeFramesFast(raw, acceptedTypes = Seq("GC_EVENT"))
    assert(out.select("event_type").as[String].collect().toSeq == Seq("GC_EVENT"))
  }

  test("typedTable decodes each row's header and body once") {
    import graft.functions.ProtoExpressions.ProtoDecode
    // an RDD scan: over a local Seq the optimizer would fold the whole plan
    val scanned = spark.sparkContext.parallelize(frames, 2).toDF("value", "offset")
    val typed = FrameSource.typedTable(FrameSource.decodeFramesFast(scanned), "FS_EVENT")
    val decodes = typed.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.flatMap(_.collect { case d: ProtoDecode => d })
    }.flatten
    assert(decodes.size == 2, typed.queryExecution.optimizedPlan)
  }

  test("typedSchema is typedTable's schema, nullability and metadata included") {
    val streamed = spark.readStream.schema("value BINARY, offset LONG")
      .parquet(java.nio.file.Files.createTempDirectory("typed_schema").toString)
    // a non-null offset, a nullable one, and a watermarked timestamp
    Seq(FrameSource.decodeFramesFast(raw), FrameSource.decodeFramesFast(streamed),
      FrameSource.decodeFramesFast(streamed).withWatermark("timestamp", "1 hour"))
      .foreach { decoded =>
        EventModel.typeMarkers.values.foreach { t =>
          assert(FrameSource.typedSchema(decoded.schema, t) ==
            FrameSource.typedTable(decoded, t).drop("event_type").schema, t)
        }
      }
  }

  test("timestamp column restores event-time millis") {
    val ts = FrameSource.decodeFramesFast(raw).where(col("kafka_offset") === 10L)
      .select(unix_millis(col("timestamp"))).as[Long].head()
    assert(ts == 1700000000001L)
  }

  test("S1 contract: consumer options match the reference; the kafka row shape streams through decode to a typed table") {
    // --- consumer semantics (no broker/connector in this environment:
    //     COVERAGE.md §S1 documents the waiver; these assertions pin what
    //     the first broker-attached run will send) ---
    val opts = FrameSource.kafkaSourceOptions("broker-1:9092,broker-2:9092", "garmadon")
    assert(opts("kafka.bootstrap.servers") == "broker-1:9092,broker-2:9092")
    assert(opts("subscribe") == "garmadon")
    // reference GarmadonReader.java:301-307 — auto.offset.reset=earliest
    assert(opts("startingOffsets") == "earliest")
    // reference reset policy re-anchors and keeps consuming on lost ranges
    assert(opts("failOnDataLoss") == "false")
    assert(FrameSource.kafkaSourceOptions("b", "t", failOnDataLoss = true)("failOnDataLoss") == "true")
    assert(!opts.contains("maxOffsetsPerTrigger"))
    assert(FrameSource.kafkaSourceOptions("b", "t",
      maxOffsetsPerTrigger = Some(50000L))("maxOffsetsPerTrigger") == "50000")
    // offset tracking is the checkpoint's job: no consumer group commits
    assert(!opts.keys.exists(_.contains("group.id")))

    // --- the decode seam, driven with the EXACT kafka source row shape
    //     through the real streaming engine ---
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KafkaSourceRecord]
    // the mirror really is the source's shape (names + types; nullability
    // differs by construction between an encoder and the source)
    assert(input.toDF().schema.map(f => (f.name, f.dataType)) ==
      FrameSource.kafkaSourceSchema.map(f => (f.name, f.dataType)))
    val header = graft.model.ProtoDescriptors.header.encode(Seq(
      "app_k", "1", "p", "u", "c_1", "h", "", "YARN", "EXECUTOR", "",
      Seq("YARN_APPLICATION"), "", "", "", 0, ""))
    def rec(marker: Int, off: Long, body: Array[Byte]) = KafkaSourceRecord(
      null, EventModel.encode(Frame(marker, 1700000000000L + off, header, body)),
      "garmadon", 0, off, new java.sql.Timestamp(1700000000000L + off), 0)
    val gcBody = graft.model.ProtoDescriptors.gcStatisticsData.encode(
      Seq("G1 Young Generation", 21L, "Allocation Failure") ++ Seq.fill(10)(0L) ++ Seq(0.0f))
    // decodeFramesFast's default (valueCol = "value", offsetCol =
    // "offset") IS the kafka contract — no renames between source & decode
    val typed = FrameSource.typedTable(
      FrameSource.decodeFramesFast(input.toDF()), "GC_EVENT")
    val q = typed.writeStream.format("memory").queryName("kafka_contract")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      input.addData(
        rec(1000, 100L, gcBody),
        rec(1, 101L, Array[Byte](1, 2)), // other type: filtered, never body-decoded
        KafkaSourceRecord(null, Array.fill[Byte](5)(9), "garmadon", 0, 102L,
          new java.sql.Timestamp(0L), 0)) // corrupt frame: dropped, not fatal
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("kafka_contract").collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("collector_name") == "G1 Young Generation")
    assert(out.head.getAs[Long]("pause_time") == 21L)
    assert(out.head.getAs[Long]("kafka_offset") == 100L) // P2: offset rides along
  }
}

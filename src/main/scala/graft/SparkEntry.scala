package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.filters.Filters
import graft.functions.{Functions => F}
import graft.heuristics.HeuristicAggs
import graft.operators._
import graft.serving.Dashboards
import graft.sources.{BucketedTables, Tables}

/** Driver contract: `queries` exposes every implemented operator from
  * SURVEY.md §2 as a named DataFrame recipe over the testdata tables;
  * `oracleSql` gives the DuckDB-equivalent ANSI SQL for each.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - money/metric sums go through DECIMAL(18,2) (exact, order-independent),
  *    then cast to DOUBLE for a stable output type;
  *  - doubles produced by interpolation/division are round()ed;
  *  - per-row double arithmetic (lag deltas, norms) is written to fold in
  *    the same order in both engines → bit-equal;
  *  - every query ends in a total ORDER BY.
  */
object SparkEntry {

  /** Fan a wire-fixture's source rows out to the session's shuffle
    * parallelism before the typed encode map (r15, guide §2.5): the events
    * table is a single parquet file at bench scale, so the proto encode —
    * and the in-plan decode fused after it — otherwise runs as ONE task.
    * Keyed on event_id (deterministic), 8-24 bytes/row moved; content is a
    * pure function of the row, so results are identical under any layout.
    */
  private def fanWire(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.Dedup.fanout(df, col("event_id"))


  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal sum cast back to double: deterministic sum of 2-dec doubles. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** #files the static (pre-AQE) plan's parquet scans would touch —
    * inputFiles ignores pruning and AQE hides the scan node, so count the
    * statically selected files. Shared witness for the IVF index gates.
    */
  private def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.queryExecution.sparkPlan.collect { case sc: FileSourceScanExec => sc }
      .map(_.selectedPartitions.totalNumberOfFiles).sum
  }

  /** Partition-pruning witness for a cid-partitioned index layout: the
    * probed-cid predicate must touch fewer files than the full scan.
    * Vacuous only when the probed cids cover every NON-EMPTY partition —
    * compared against the partitions that exist, not `probed.length`:
    * a probed centroid with an empty cluster writes no partition, and
    * counting it would fail the witness for a correctly pruning index.
    */
  private def prunedScanOk(s: SparkSession, path: String, probed: Seq[Int]): Boolean = {
    val all = s.read.parquet(path)
    val totalParts = all.select("cid").distinct().count()
    val probedNonEmpty =
      all.select("cid").distinct().where(col("cid").isin(probed: _*)).count()
    filesRead(all.where(col("cid").isin(probed: _*))) < filesRead(all) ||
      probedNonEmpty == totalParts
  }

  /** Recursive on-disk size of a written layout (local-FS test envs). */
  private def dirBytes(s: SparkSession, p: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
    fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
  }

  /** Shared wire fixture for the JVMSTATS gate queries: every events row
    * encodes as a JVMSTATS_EVENT frame with real heap + threads sections
    * (nested Section/Property PMessageList), every 7th row additionally as
    * a GC_EVENT frame — all behind real proto3 headers.
    */
  private def jvmWireFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.model.{EventModel, ProtoDescriptors}
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .transform(fanWire)
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        it.flatMap { case (eventId, userId, tsMs) =>
          val header = ProtoDescriptors.header.encode(Seq(
            s"application_${userId % 20}", "1", "graft_pipeline", s"user_${userId % 7}",
            s"container_${userId % 97}", s"host_${userId % 11}", "", "YARN", "EXECUTOR",
            "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
          val jvmBody = ProtoDescriptors.jvmStatisticsData.encode(Seq(Seq(
            Seq("heap", Seq(
              Seq("init", "536870912"),
              Seq("committed", (500 + userId % 2048).toString),
              Seq("used", (eventId % 1000).toString),
              Seq("max", (500 + userId % 2048).toString))),
            Seq("threads", Seq(
              Seq("count", (userId % 64).toString),
              Seq("total", "100"))))))
          val jvm = (EventModel.encode(EventModel.Frame(
            EventModel.markerForName("JVMSTATS_EVENT"), tsMs, header, jvmBody)), eventId)
          if (eventId % 7 == 0) {
            val gcBody = ProtoDescriptors.gcStatisticsData.encode(Seq(
              if (eventId % 21 == 0) "G1 Old Generation" else "PS Scavenge",
              eventId % 50, "Allocation Failure",
              0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0.0f))
            Seq(jvm, (EventModel.encode(EventModel.Frame(
              EventModel.markerForName("GC_EVENT"), tsMs, header, gcBody)), eventId))
          } else Seq(jvm)
        }
      }.toDF("value", "offset")
  }

  /** Wire fixture for the delta-rate heuristics: every events row encodes
    * as a JVMSTATS_EVENT frame whose body carries `synclocks` and
    * `safepoints` sections (the counters Locks/Safepoints fold over,
    * reference readers' heuristic chain), with globally-unique event-id
    * timestamps so the per-key lag window has no order ties to drift on.
    */
  private def lockWireFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.model.{EventModel, ProtoDescriptors}
    t(s, dir, "events")
      .select(col("event_id"), col("user_id")).transform(fanWire).as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (eventId, userId) =>
          val tsMs = 1700000000000L + eventId * 1000L
          val header = ProtoDescriptors.header.encode(Seq(
            s"application_${userId % 20}", "1", "graft_pipeline", s"user_${userId % 7}",
            s"container_${userId % 5}", s"host_${userId % 11}", "", "YARN", "EXECUTOR",
            "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
          val body = ProtoDescriptors.jvmStatisticsData.encode(Seq(Seq(
            Seq("synclocks", Seq(
              Seq("contendedlockattempts", ((eventId * 37) % 10007).toString),
              Seq("inflations", (eventId % 13).toString))),
            Seq("safepoints", Seq(
              Seq("count", ((eventId * 11) % 4001).toString),
              Seq("totaltime", (eventId % 29).toString))))))
          (EventModel.encode(EventModel.Frame(
            EventModel.markerForName("JVMSTATS_EVENT"), tsMs, header, body)), eventId)
        }
      }.toDF("value", "offset")
  }

  /** Wire fixture for the GC/FS heuristic chain: every events row encodes
    * as BOTH a GC_EVENT frame (deterministic collector/cause/pause) and an
    * FS_EVENT frame (deterministic action) behind one header — the mixed
    * per-container stream the reference's heuristics consumer folds.
    */
  private def gcFsWireFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.model.{EventModel, ProtoDescriptors}
    val collectors = Array("G1 Old Generation", "G1 Young Generation",
      "PS Scavenge", "ConcurrentMarkSweep")
    val causes = Array("Allocation Failure", "Metadata GC Threshold",
      "Ergonomics", "System.gc()", "G1 Evacuation Pause")
    val actions = HeuristicAggs.fsActions.toArray
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .transform(fanWire)
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        it.flatMap { case (eventId, userId, tsMs) =>
          val header = ProtoDescriptors.header.encode(Seq(
            s"application_${userId % 20}", "1", "graft_pipeline", s"user_${userId % 7}",
            s"container_${userId % 5}", s"host_${userId % 11}", "", "YARN", "EXECUTOR",
            "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
          val gcBody = ProtoDescriptors.gcStatisticsData.encode(Seq(
            collectors((eventId % 4).toInt), eventId % 500, causes((eventId % 5).toInt),
            0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0.0f))
          val fsBody = ProtoDescriptors.fsEvent.encode(Seq(
            "", "", actions((eventId % 8).toInt), "hdfs://root", eventId % 997,
            s"user_${userId % 7}", "SUCCESS"))
          Seq(
            (EventModel.encode(EventModel.Frame(
              EventModel.markerForName("GC_EVENT"), tsMs, header, gcBody)), eventId),
            (EventModel.encode(EventModel.Frame(
              EventModel.markerForName("FS_EVENT"), tsMs, header, fsBody)), eventId))
        }
      }.toDF("value", "offset")
  }

  /** Flagship query (SURVEY §7.2 shape): filtered event stream → hourly
    * buckets → count + p95 latency-ish metric + distinct users.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val e = t(spark, dir, "events")
    e.where(Filters.hasAnyType("purchase", "click") && col("value") > 1.0)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(value, 0.95)"), 4).as("p95_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** The queries a comma-separated name list (`SPARK_GRAFT_QUERIES` of
    * `Bench` and `Verify`) selects: all of them when it is unset or empty.
    * A name that is not a query throws before any query runs, so a typo
    * cannot pass as a run that checked or timed nothing.
    */
  def selected(names: Option[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val wanted = names.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- all.keySet
    require(unknown.isEmpty,
      s"unknown query name(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"valid: ${all.keys.toSeq.sorted.mkString(", ")}")
    if (wanted.isEmpty) all else all.filter { case (n, _) => wanted(n) }
  }

  // =================================================================
  // Query registry — one entry per operator family (SURVEY §2.9 D1-D11
  // + the training-data-pipeline operators).
  // =================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- D1: scan / project / filter (F1-F10, P1, P7) ----
    "q_scan_filter" -> ((s, dir) => {
      t(s, dir, "events")
        .where(Filters.hasType("purchase") && col("value") > 150.0)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ---- D1: filter algebra combinators (and/or/not/isin) ----
    "q_filter_algebra" -> ((s, dir) => {
      t(s, dir, "events")
        .where(Filters.and(
          Filters.or(Filters.hasType("error"), Filters.hasType("signup")),
          Filters.not(col("user_id") < 10),
          col("value").between(5.0, 400.0)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ---- F9: composite-route dispatch — three OVERLAPPING routes with
    //      composed predicates, every row delivered to EVERY matching
    //      route in ONE scan (explode of the matched-route array; the
    //      reference's per-listener accepts loop). The oracle replays the
    //      fan-out as a UNION ALL of the three filters, so both the
    //      composite predicates and the duplication semantics are
    //      hash-gated. ----
    "q_composite_route" -> ((s, dir) => {
      val routes = Seq(
        "errors" -> Filters.hasType("error"),
        "big_values" -> Filters.and(
          Filters.or(Filters.hasType("click"), Filters.hasType("signup")),
          col("value") > 100.0),
        "audit" -> Filters.and(
          Filters.not(Filters.hasType("error")),
          col("user_id") % 10 === 0))
      Filters.routeFanout(t(s, dir, "events"), routes)
        .groupBy(col("route"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("route"), col("event_type"))
    }),

    // ---- D2/P4: scalar fns — JSON extraction + day bucket (the
    //      section/property pivot analog) ----
    "q_json_day" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.select(date_trunc("day", col("ts")).as("day"), (F.jsonInt(col("props"), "k") % 10).as("k_bucket"))
        .groupBy(col("day"), col("k_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("day"), col("k_bucket"))
    }),

    // ---- D5: grouped aggregates (TPC-H Q1 pricing-summary shape) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(F.revenueTerm(col("l_extendedprice"), col("l_discount"))).cast(DoubleType).as("sum_disc_price"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- D4: star join (TPC-H Q5 local-supplier-revenue shape) ----
    "q5_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
               col("o_orderdate") < lit("1999-01-01").cast(TimestampType))
        .groupBy(col("n_name"))
        .agg(sum(F.revenueTerm(col("l_extendedprice"), col("l_discount"))).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- D4: bucketed co-located join — the layout that deletes the
    //      fact-to-fact shuffle at 100 TB. Both tables are written
    //      bucketBy(8, orderkey) sortBy(orderkey); the merge-hinted join
    //      then needs ZERO exchanges (and zero sorts), which the plan
    //      witness checks (Spark-side measured property; the oracle
    //      contributes the exact join-aggregate values). ----
    "q_bucketed_join" -> ((s, dir) => {
      // stamp-suffixed table names + exit-time cleanup: repeated/concurrent
      // runs sharing a warehouse must not race on a fixed name or leak dirs
      val work = BucketedTables.scratchDir("graft_bucketed_")
      val stamp = work.getFileName.toString.stripPrefix("graft_bucketed_")
      val (lTable, oTable) = (s"graft_bkt_lineitem_$stamp", s"graft_bkt_orders_$stamp")
      BucketedTables.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        lTable, "l_orderkey", 8, Some(s"$work/lineitem"))
      BucketedTables.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        oTable, "o_orderkey", 8, Some(s"$work/orders"))
      val joined = BucketedTables.bucketedEquiJoin(s,
        lTable, oTable, "l_orderkey", "o_orderkey")
      val shuffleFree = BucketedTables.countShuffles(joined) == 0
      joined
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(F.revenueTerm(col("l_extendedprice"), col("l_discount")))
            .cast(DoubleType).as("revenue"))
        .withColumn("shuffle_free_join", lit(shuffleFree))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- D4: SALTED equi-join — the hot-key lever when neither broadcast
    //      nor AQE covers it. The salt must be invisible in the result:
    //      the oracle replays the PLAIN join, so any salt leakage (row
    //      duplication/loss, unmatched-right multiplication) hash-fails.
    //      The skewed side is events on its 5-value event_type key (each
    //      key ~20% of the table — the one-task-per-hot-key shape). ----
    "q_salted_join" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("value"))
      val dim = e.groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
      Joins.saltedEquiJoin(e, dim, Seq("event_type"), salt = 8)
        .groupBy(col("event_type"), col("n_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ---- D4: semi join (EXISTS) ----
    "q_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val bigOrders = t(s, dir, "orders").where(col("o_totalprice") > 300000.0)
      c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- D4: anti join (NOT EXISTS) ----
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val n = t(s, dir, "nation")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_name"))
    }),

    // ---- D3/J1: first-wins enrichment join ----
    "q_enrich_first_wins" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val dim = Enrichment.firstWinsDim(e, "user_id", Seq("ts", "event_id"), Seq("event_type"))
        .withColumnRenamed("event_type", "first_type")
        .withColumnRenamed("user_id", "dim_user_id")
      Enrichment.enrich(e, dim, "user_id", "dim_user_id")
        .groupBy(col("first_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("first_type"), col("event_type"))
    }),

    // ---- D6/Q1: time-bucketed aggregation (date_histogram) ----
    "q_time_bucket" -> ((s, dir) => {
      Aggregations.timeBucketAgg(
        t(s, dir, "events"), col("ts"), "hour", Nil,
        Seq(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users")))
        .orderBy(col("bucket"))
    }),

    // ---- S6: hourly index routing — the serving-index name rule itself
    //      (prefix-yyyy-MM-dd-HH, UTC) oracle-checked per routed index ----
    "q_hourly_route" -> ((s, dir) => {
      t(s, dir, "events")
        .select(F.hourlyIndexName(lit("graft"), col("ts")).as("es_index"),
          col("event_id"), col("user_id"))
        .groupBy(col("es_index"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("checksum"))
        .orderBy(col("es_index"))
    }),

    // ---- A10: Extractor per-container event counts by type ----
    "q_extractor_counts" -> ((s, dir) => {
      val containerized = t(s, dir, "events")
        .withColumn("container_id",
          concat(lit("container_"), col("user_id") % 97))
      HeuristicAggs.extractorCounts(containerized)
        .withColumnRenamed("count", "n")
        .orderBy(col("container_id"), col("event_type"))
    }),

    // ---- S8: heuristic results through the JDBC sink and BACK — the
    //      result rows round-trip an embedded Derby (stand-in for the
    //      reference's MySQL); the oracle recomputes the rows from raw
    //      events, so a row lost/mangled by the DB hop breaks the hash ----
    "q_jdbc_roundtrip" -> ((s, dir) => {
      val heur = t(s, dir, "events")
        .groupBy((col("user_id") % 20).as("app_num"))
        .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))
        .select(
          concat(lit("application_"), col("app_num").cast(StringType)).as("application_id"),
          lit("1").as("attempt_id"),
          when(col("max_value") > 190, lit(4))
            .when(col("max_value") > 150, lit(2))
            .otherwise(lit(0)).as("severity"),
          col("n").cast(IntegerType).as("score"))
      val rows = serving.HeuristicsSink.resultRows(
        heur, "io.graft.heuristics.AppActivity", scoreCol = Some("score"))
      // fresh in-memory db per invocation: the sink appends (at-least-once
      // contract), so reusing one table across bench repeats would
      // accumulate rows and break determinism
      val db = "gate_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // explicit territory: Derby derives the new db's locale from the JVM
      // default, and a harness that pins Locale.ROOT for locale-independent
      // number formatting (Bench does) would otherwise fail the create
      // with XBM0X
      val url = s"jdbc:derby:memory:$db;create=true;territory=en_US"
      val drv = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")
      serving.HeuristicsSink.writeResults(rows, url, driver = drv)
      val p = new java.util.Properties()
      p.setProperty("driver", drv.get)
      s.read.jdbc(url, serving.HeuristicsSink.ResultTable, p)
        .orderBy(col("yarn_app_result_id"))
    }),

    // ---- S9: Hive-style catalog registration — day-partitioned dump →
    //      CREATE TABLE + MSCK REPAIR → read back THROUGH the catalog ----
    "q_hive_ddl" -> ((s, dir) => {
      val work = BucketedTables.scratchDir("graft_hive_ddl_")
        .toFile.getAbsolutePath
      val table = s"$work/table"
      val raw = t(s, dir, "events")
      // 14-day window (like q_sink_maintenance): enough partitions to make
      // MSCK discovery real without writing a month of dirs per bench run
      // UTC explicitly — toLocalDateTime renders via the JVM default TZ
      val maxDay = raw.agg(max(date_trunc("day", col("ts")))).collect()(0)
        .getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      streaming.EventSink.writePartitioned(
        raw.where(col("ts") >= lit(java.sql.Timestamp.from(
            maxDay.minusDays(13L).atStartOfDay(java.time.ZoneOffset.UTC).toInstant)))
          .select(col("event_id"), col("user_id"),
            col("event_type"), col("value"), col("ts").as("timestamp")),
        table)
      val name = "graft_ddl_" + java.util.UUID.randomUUID().toString.replace("-", "")
      streaming.EventSink.registerTable(s, name, table)
      s.table(name)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("day")).as("n_days"),
          sum(col("event_id")).as("checksum"))
        .orderBy(col("event_type"))
    }),

    // ---- D7/Q2: top-K groups ----
    "q_topk" -> ((s, dir) => {
      Aggregations.topK(t(s, dir, "events"), Seq(col("user_id")),
        dsum(col("value")), "total_value", 10, Seq(col("user_id")))
    }),

    // ---- D8/Q8: percentiles (exact, for oracle parity) ----
    "q_percentile" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy(col("event_type"))
    }),

    // ---- D8/Q7: approx distinct (HLL++) — oracle-checkable via the
    //      engine-neutral property "estimate within 5% of exact" (the
    //      oracle emits the exact count and literal TRUE) ----
    "q_approx_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("_approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("_approx") - col("exact_users")).cast(DoubleType)
            / col("exact_users") <= 0.05).as("within_5pct"))
        .orderBy(col("event_type"))
    }),

    // ---- D9/Q9: derivative over time buckets ----
    "q_derivative" -> ((s, dir) => {
      // Window partitioned by the series' NATURAL key (event_type): the
      // derivative of a bucketed series parallelizes across series — no
      // single-partition WindowExec (a lit(1) key would put every bucket
      // row through one task; harmless post-aggregation, but the plan
      // should be self-evidently scale-safe).
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      Aggregations.derivative(hourly, col("event_type"), Seq(col("bucket")), col("n"), "dn")
        .select(col("event_type"), col("bucket"), col("n"), col("dn"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- garmadon-jvm "GC CPU time" panel (jvm.json:684-770): per-app
    //      derivative of the bucketed hidden-max of a cumulative gc-time
    //      counter — date_histogram + max + derivative pipeline agg, the
    //      dashboard's hardest shape, via Dashboards.gcCpuTime. ----
    "q_dash_gc_rate" -> ((s, dir) => {
      val gc = t(s, dir, "events").select(
        concat(lit("application_"), (col("user_id") % 20).cast(StringType))
          .as("application_id"),
        col("ts").as("timestamp"),
        ((col("event_id") * 13) % 100000).as("gc_time"))
      serving.Dashboards.gcCpuTime(gc, col("gc_time"), "1 hour",
          groupCols = Seq(col("application_id")))
        .select(col("application_id"), col("bucket_start"), col("v"),
          col("dv_per_bucket"))
        .orderBy(col("application_id"), col("bucket_start"))
    }),

    // ---- garmadon-hdfs "FS OPS/Latency $action per user" panel
    //      (hdfs.json:441): normalized-uri filter (port strip + alias
    //      map) → bucket × user × action count + p99 latency, via
    //      Dashboards.fsOpsPerUser (exact-percentile oracle-parity mode;
    //      serving default is the sketch). ----
    "q_dash_fsops_user" -> ((s, dir) => {
      val fs = t(s, dir, "events").select(
        col("ts").as("timestamp"),
        concat(lit("user_"), (col("user_id") % 7).cast(StringType)).as("hdfs_user"),
        upper(col("event_type")).as("action"),
        (col("event_id") % 997).as("method_duration_millis"),
        when(col("event_id") % 3 === 0, lit("hdfs://preprod-am6:8020"))
          .when(col("event_id") % 3 === 1, lit("hdfs://root-ns"))
          .otherwise(lit("hdfs://other")).as("uri"))
      serving.Dashboards.fsOpsPerUser(fs, uri = "hdfs://root-ns", interval = "1 hour",
          aliases = Map("hdfs://preprod-am6" -> "hdfs://root-ns"),
          exactPercentiles = true)
        .select(col("bucket_start"), col("hdfs_user"), col("action"), col("n"),
          round(col("p99_ms"), 4).as("p99_ms"))
        .orderBy(col("bucket_start"), col("hdfs_user"), col("action"))
    }),

    // ---- D9/A6/A7: delta-rate (locks/safepoints heuristic pattern) ----
    "q_delta_rate" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.withColumn("dv", col("value") - lag(col("value"), 1).over(w))
        .withColumn("dus", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .where(col("dus").isNotNull && col("dus") > 0)
        .groupBy(col("user_id"))
        .agg(round(max(col("dv") * 1000000.0 / col("dus")), 4).as("max_rate"))
        .orderBy(col("user_id"))
    }),

    // ---- D10/A11: sessionization, gaps-and-islands batch flavor ----
    "q_sessionize" -> ((s, dir) => {
      val sessions = Aggregations.sessionize(t(s, dir, "events"), col("user_id"), col("ts"), 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"))
      sessions.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id"))
    }),

    // ---- D10: native Spark session_window (the streaming-capable op) ----
    "q_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- A11 via the STREAMING ENGINE: file-source stream →
    //      flatMapGroupsWithState session fold → foreachBatch parquet
    //      sink. Every row crossed the streaming state store; the oracle
    //      recomputes the per-user END-closed session relationally.
    //      metric = floor(value*100) is integer-valued in double, so the
    //      stateful sum is exact and micro-batch fold order is moot. ----
    "q_stream_sessionize" -> ((s, dir) => streaming.StreamingGate.streamSessionize(s, dir)),

    // ---- J1/J2 via the STREAMING ENGINE: first-wins app attrs +
    //      container→component registry + AM resolution in keyed state;
    //      oracle reproduces the registry with arg_min per container
    //      (every event of a container gets the component its FIRST
    //      event decided). ----
    "q_stream_enrich" -> ((s, dir) => streaming.StreamingGate.streamEnrich(s, dir)),

    // ---- S1→S2→S7 via the STREAMING ENGINE: the batch-dump lifecycle.
    //      Wire frames → file stream → EventRouter.routeTyped (decode +
    //      watermark in-plan, per-type day-partitioned append in
    //      foreachBatch) → closeDays markers; result re-reads the ROUTED
    //      tables from disk. day_partitioned/markers_ok are measured
    //      layout witnesses (oracle hardcodes TRUE). ----
    "q_stream_route" -> ((s, dir) => streaming.StreamingGate.streamRoute(s, dir)),

    // ---- ST5/Q12: sink maintenance lifecycle — fragmented day-
    //      partitioned write → per-partition small-file compaction →
    //      retention drop (10 days, relative to the data's max day) →
    //      re-read. Oracle recomputes the aggregate from raw events in
    //      the retained window; compaction_ok/retention_ok are measured
    //      layout witnesses (oracle hardcodes TRUE). ----
    "q_sink_maintenance" -> ((s, dir) => streaming.StreamingGate.sinkMaintenance(s, dir)),

    // ---- D11/Q10: global sort + limit (raw-row fetch) ----
    "q_sort_limit" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("ts").desc, col("event_id"))
        .limit(100)
    }),

    // ---- A8: pivot counts (FileHeuristic action pivot) ----
    "q_pivot" -> ((s, dir) => {
      Aggregations.pivotCounts(t(s, dir, "events"), col("user_id"), col("event_type"),
        Seq("click", "error", "purchase", "signup", "view"))
        .orderBy(col("user_id"))
    }),

    // ---- A1-A5: conditional aggregates (GC-cause/heap heuristics) ----
    "q_cond_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(when(col("value") > 150.0, 1)).as("n_high"),
          dsum(when(col("value") > 150.0, col("value")).otherwise(lit(0.0))).as("sum_high"),
          max(col("value")).as("max_value"),
          min(col("value")).as("min_value"))
        .orderBy(col("event_type"))
    }),

    // ---- Dedup: exact (hash-groupBy) ----
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactStats(t(s, dir, "documents"), "source")
        .orderBy(col("source"))
    }),

    // ---- Text: token stats per language ----
    "q_text_tokens" -> ((s, dir) => {
      // avg = one double division of exact integer sums (NO round()):
      // round-of-double differs between engines near ties; a single IEEE
      // division of exact ints is bit-identical everywhere.
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(F.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
          (sum(F.tokenCount(col("text")).cast(LongType)).cast(DoubleType) / count(lit(1)))
            .as("avg_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))
    }),

    // ---- Text: exact stopword-mass ratio per language ----
    "q_stopword_mass" -> ((s, dir) => {
      TextAnalysis.stopwordMassByGroup(t(s, dir, "documents"), "lang")
        .orderBy(col("lang"))
    }),

    // ---- Text: per-doc quality signals (length / punctuation / stopword
    //      ratios, both tokenizers, composite score). The documents corpus
    //      carries no punctuation, so the punct signal would be vacuously 0
    //      there; the events table's JSON props strings are punct-rich and
    //      are unioned in (id-offset) so every signal varies on real input.
    //      All ratios are single IEEE divisions / fixed-order arithmetic on
    //      exact integers — bit-identical across engines. ----
    "q_text_quality" -> ((s, dir) => {
      def signals(in: DataFrame): DataFrame =
        TextAnalysis.qualitySignals(in)
          .select(col("id"),
            col("n_tokens").cast(LongType).as("n_tokens"),
            size(F.tokensRegex(col("text"))).cast(LongType).as("n_tokens_regex"),
            col("punct_ratio"),
            col("stopword_ratio"),
            F.meanTokenLength(col("text")).as("mean_token_len"),
            col("quality"))
      val docs = signals(
        t(s, dir, "documents").where(col("doc_id") < 40)
          .select(col("doc_id").as("id"), col("text")))
      val props = signals(
        t(s, dir, "events").where(col("event_id") < 40)
          .select((col("event_id") + 1000000L).as("id"), col("props").as("text")))
      docs.unionByName(props).orderBy(col("id"))
    }),

    // ---- Text: language ID — function-word profile argmax. The oracle
    //      replays the same profiles (one generated VALUES list, deduped
    //      because Spark's isInCollection is set-membership) and the same
    //      tiebreak (greatest over (score, lang) structs = ORDER BY score
    //      DESC, lang DESC); docs matching no profile fall back to the
    //      lexicographically largest language code. ----
    "q_language_id" -> ((s, dir) => {
      TextAnalysis.languageId(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: deterministic content-hash train/val split (90/10).
    //      Per-split counts + exact token mass; the oracle recomputes the
    //      same fingerprint-mod assignment per doc. ----
    "q_hash_split" -> ((s, dir) => {
      TextAnalysis.hashSplit(t(s, dir, "documents"), 90)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(F.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("split"))
    }),

    // ---- Text: token-repetition signals (Gopher-style boilerplate/spam
    //      filters). Single IEEE divisions of exact integer aggregates. ----
    "q_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(
          t(s, dir, "documents").where(col("doc_id") < 100), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- Text: deterministic stratified downsampling (mixture control:
    //      keep 50% of en, 25% of zh, all else whole; selection = salted
    //      content fingerprint mod 10^4 — replay-stable, oracle
    //      recomputes the per-doc decision). ----
    "q_stratified_sample" -> ((s, dir) => {
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "zh" -> 0.25), seed = 7L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    }),

    // ---- Text: Unicode NFC normalization, oracle-gated through real
    //      combining sequences: the fixture builds decomposed text from
    //      doc_id arithmetic (e+acute runs, A+ring, multi-combining
    //      o+diaeresis+macron, a precomposed survivor), the operator
    //      normalizes, DuckDB rebuilds the same codepoints with chr()
    //      and replays via its own nfc_normalize — two independent NFC
    //      implementations must agree on lengths and bytes. ----
    "q_nfc_normalize" -> ((s, dir) => {
      import s.implicits._
      val fix = t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val sb = new StringBuilder("w")
        (0 until ((id % 3).toInt + 1)).foreach(_ =>
          sb.append('e').append('́')) // e + combining acute
        if (id % 2 == 0) sb.append('A').append('̊') // A + combining ring
        if (id % 5 == 0) sb.append('é') // precomposed é (NFC-stable)
        if (id % 7 == 0) // o + combining diaeresis + combining macron
          sb.append('o').append('̈').append('̄')
        (id, sb.toString)
      }.toDF("doc_id", "text")
      TextAnalysis.normalizeText(
          fix.withColumn("pre_len", length(col("text")).cast(LongType)), "text")
        .select(col("doc_id"), col("pre_len"),
          length(col("text")).cast(LongType).as("post_len"),
          md5(col("text")).as("h"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: mojibake repair (UTF-8 mis-decoded as Latin-1 OR
    //      Windows-1252, the two classic crawl corruptions). Fixture:
    //      clean strings from doc_id codepoint arithmetic (2-byte Latin
    //      letters + 3-byte CJK + the curly apostrophe U+2019, whose
    //      CP1252 garble is the canonical 'â€™') are GARBLED by the
    //      actual mis-decode in Spark — doc_id % 5 ∈ {1,2} through
    //      windows-1252 (the dominant real-crawl flavor, producing chars
    //      above U+00FF like '€'/'™'), {3,4} through Latin-1 — and every
    //      fifth doc stays healthy ASCII that the repair must not touch.
    //      The oracle derives the expected CLEAN text from the arithmetic
    //      alone (garbled length == the clean text's UTF-8 byte count —
    //      both mis-decodes are byte→char bijections). ----
    "q_mojibake" -> ((s, dir) => {
      import s.implicits._
      val fix = t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val clean =
          if (id % 5 == 0) s"plain${id % 9}"
          else {
            val sb = new StringBuilder("w")
            (0 until ((id % 3).toInt + 1)).foreach(_ =>
              sb.append((0xE0 + (id % 16).toInt).toChar))
            // even offsets keep the third UTF-8 byte (0x80 + 2·(id%7))
            // off CP1252's five undefined slots: Java's windows-1252
            // decoder maps those to U+FFFD, destroying the byte — a
            // garble no repair could invert
            if (id % 4 == 0) sb.append((0x4E00 + (id % 7).toInt * 2).toChar)
            if (id % 5 == 1 || id % 5 == 3) sb.append('’')
            sb.toString
          }
        val garbled =
          if (id % 5 == 0) clean
          else if (id % 5 <= 2) new String(clean.getBytes("UTF-8"), "windows-1252")
          else new String(clean.getBytes("UTF-8"),
            java.nio.charset.StandardCharsets.ISO_8859_1)
        (id, garbled)
      }.toDF("doc_id", "text")
      TextAnalysis.fixMojibake(
          fix.withColumn("garbled_len", length(col("text")).cast(LongType)), "text")
        .select(col("doc_id"), col("garbled_len"),
          length(col("text")).cast(LongType).as("fixed_len"),
          md5(col("text")).as("h"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: exact-k-per-group sampling (the "7 docs per source"
    //      cut): rank by the salted content selector within source, ties
    //      by doc_id. The DEFAULT path is the bounded top-k AGGREGATE
    //      (r14 — Zipf-safe, no per-group sort); selection is identical
    //      to the window form, which DuckDB's oracle replays as a window
    //      rank over the same selector arithmetic. ----
    "q_sample_k" -> ((s, dir) => {
      TextAnalysis.sampleKPerGroup(t(s, dir, "documents"),
          "source", "doc_id", k = 7, seed = 3L)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // ---- Text: CCNet-style corpus-level PARAGRAPH dedup. Fixture: each
    //      doc is three arithmetic paragraphs — "common (id%17)" and
    //      "shared (id%5)" collide across docs, "unique id" never does —
    //      plus an EMPTY line every 4th doc that must not participate.
    //      Winner per distinct paragraph = smallest (doc, position); the
    //      oracle replays split, window and in-order reassembly. ----
    "q_paragraph_dedup" -> ((s, dir) => {
      val fix = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("common "), (col("doc_id") % 17).cast("string"), lit("\n"),
        when(col("doc_id") % 4 === 0, lit("\n")).otherwise(lit("")),
        lit("shared "), (col("doc_id") % 5).cast("string"), lit("\n"),
        lit("unique "), col("doc_id").cast("string")).as("text"))
      TextAnalysis.dedupParagraphs(fix, "doc_id")
        .select(col("doc_id"), md5(col("text")).as("h"),
          col("n_kept"), col("n_total"))
        .orderBy(col("doc_id"))
    }),

    // ---- The same exact-k cut through the bounded top-k AGGREGATE (the
    //      10^8-docs-per-group shape: map-side-combinable O(k) buffers +
    //      a broadcast semi-join, no per-group sort) — selection must be
    //      IDENTICAL to the window flavor, same oracle. ----
    "q_sample_k_agg" -> ((s, dir) => {
      TextAnalysis.sampleKPerGroupAgg(t(s, dir, "documents"),
          "source", "doc_id", k = 7, seed = 3L)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // ---- Text: deterministic corpus shuffle (reproducible epoch order).
    //      The global permutation is computed WITHOUT a global sort:
    //      contiguous key-range buckets + per-bucket rank + bucket
    //      offsets; the oracle replays the selector arithmetic and a
    //      plain global row_number — both must agree position-for-
    //      position over the whole corpus. ----
    "q_corpus_shuffle" -> ((s, dir) => {
      TextAnalysis.corpusShuffle(t(s, dir, "documents"), "doc_id",
          seed = 5L, numBuckets = 64)
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: deterministic TOKEN-budget cut — the corpus prefix in
    //      salted shuffle order whose cumulative token count meets the
    //      budget (crossing doc kept, hard cut after), computed as a
    //      global running sum WITHOUT a global sort (bucketed offsets,
    //      the corpusShuffle trick). The oracle replays the selector,
    //      the global cumulative sum and the cut; every survivor's
    //      cum_tokens is gated, so a bucket-offset slip or an order
    //      drift breaks rows, not just counts. ----
    "q_token_budget" -> ((s, dir) => {
      TextAnalysis.tokenBudgetSample(t(s, dir, "documents"), "doc_id",
          budgetTokens = 12000L, seed = 7L, numBuckets = 64)
        .select(col("doc_id"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: the mixture-in-TOKENS cut — per-stratum budgets ("2000
    //      en tokens, 800 fr"), strata without a budget pass through
    //      whole. Same no-global-sort shape per (stratum, bucket). ----
    "q_token_budget_mix" -> ((s, dir) => {
      TextAnalysis.tokenBudgetMix(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 2000L, "fr" -> 800L), seed = 7L, numBuckets = 64)
        .select(col("doc_id"), col("lang"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- Streaming token budget: the "stop at N tokens" admission
    //      valve run batch-equivalently over 5 deterministic micro-batch
    //      slices (doc_id % 5) against ONE persisted state — whole
    //      batches admit while they fit, the crossing batch is cut with
    //      the content-keyed sampler (q_token_budget's arithmetic), all
    //      later batches admit nothing. After EVERY batch the gate
    //      re-runs the same batch id as a foreachBatch RETRY would:
    //      replay_ok witnesses that the replay emitted the identical
    //      slice and left the state untouched (no double count). The
    //      oracle replays per-batch raw totals, the crossing batch's
    //      within-batch selector prefix, the admitted token total and
    //      the exhausted flag from the documents table alone. ----
    "q_stream_token_budget" -> ((s, dir) => {
      import graft.streaming.StreamingTokenBudget
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.sources.BucketedTables.scratchDir("graft_stb_").toString
      val budget = 12000L
      var replayOk = true
      val parts = (0 until 5).map { b =>
        val batch = docs.where(col("doc_id") % 5 === b)
        val admitted = StreamingTokenBudget.admitCommitted(batch, b.toLong,
          root, budget, "doc_id", seed = 7L, numBuckets = 64)
        val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
        val stateAfter = StreamingTokenBudget.readState(s, root)
        val replay = StreamingTokenBudget.admitCommitted(batch, b.toLong,
          root, budget, "doc_id", seed = 7L, numBuckets = 64)
        replayOk &&=
          replay.select("doc_id").collect().map(_.getLong(0)).toSet == ids &&
            StreamingTokenBudget.readState(s, root) == stateAfter
        admitted.select(col("doc_id"), lit(b.toLong).as("batch_id"))
      }
      val st = StreamingTokenBudget.readState(s, root).get
      parts.reduce(_ unionByName _)
        .withColumn("total_after", lit(st.totalAfter))
        .withColumn("exhausted", lit(StreamingTokenBudget.exhausted(s, root)))
        .withColumn("replay_ok", lit(replayOk))
        .orderBy(col("doc_id"))
    }),

    // ---- Streaming MIXTURE budget: per-stratum token budgets admitted
    //      LIVE (the tokenBudgetMix spec as a streaming valve) — en and
    //      fr cross their budgets on different batches, every other
    //      stratum passes whole forever, one persisted per-stratum state
    //      with the same flip-last/replay discipline, replayed after
    //      every commit. ----
    "q_stream_token_budget_mix" -> ((s, dir) => {
      import graft.streaming.StreamingTokenBudget
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val root = graft.sources.BucketedTables.scratchDir("graft_stbm_").toString
      val budgets = Map("en" -> 2000L, "fr" -> 800L)
      var replayOk = true
      val parts = (0 until 4).map { b =>
        val batch = docs.where(col("doc_id") % 4 === b)
        val admitted = StreamingTokenBudget.admitCommittedMix(batch,
          b.toLong, root, budgets, "doc_id", "lang", seed = 7L,
          numBuckets = 64)
        val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
        val stateAfter = StreamingTokenBudget.readMixState(s, root)
        val replay = StreamingTokenBudget.admitCommittedMix(batch,
          b.toLong, root, budgets, "doc_id", "lang", seed = 7L,
          numBuckets = 64)
        replayOk &&=
          replay.select("doc_id").collect().map(_.getLong(0)).toSet == ids &&
            StreamingTokenBudget.readMixState(s, root) == stateAfter
        admitted.select(col("doc_id"), col("lang"),
          lit(b.toLong).as("batch_id"))
      }
      val st = StreamingTokenBudget.readMixState(s, root).get
      parts.reduce(_ unionByName _)
        .withColumn("en_after", lit(st.after("en")))
        .withColumn("fr_after", lit(st.after("fr")))
        .withColumn("replay_ok", lit(replayOk))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: the sharded shuffle WRITER runs for real — write 6
    //      contiguous-range training shards, read them back, and gate
    //      the recovered (doc, position) assignment against the same
    //      global-row_number replay. A shard straddling ranges, a lost
    //      row or a drifted position all break the hash. ----
    "q_shuffle_shards" -> ((s, dir) => {
      val work = graft.sources.BucketedTables.scratchDir("graft_shuffle_q_").toString
      TextAnalysis.writeShuffled(t(s, dir, "documents"), "doc_id",
        s"$work/shards", numShards = 6, seed = 5L)
      s.read.parquet(s"$work/shards")
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: model-based quality classifier trained IN the engine —
    //      4 batch-perceptron epochs over hashed token features (y = +1
    //      iff lang = en, 75% train split), then map-only scoring of the
    //      held-out quarter. All-integer arithmetic end to end, so the
    //      oracle replays every epoch (margins → misclassified deltas →
    //      weight update) in SQL and must land on bit-identical held-out
    //      scores. ----
    "q_perceptron" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.where(col("doc_id") % 4 =!= 0)
        .withColumn("y", when(col("lang") === "en", 1).otherwise(-1))
      val model = LinearClassifier.trainPerceptron(labeled, "doc_id", "y",
        numBuckets = 32, epochs = 8)
      LinearClassifier.score(docs.where(col("doc_id") % 4 === 0), model)
        .select(col("doc_id"), col("score"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: HTML → text extraction (the crawl pipeline's first text
    //      stage): per-doc HTML assembled by arithmetic around the real
    //      document text — head chrome, script payload with embedded
    //      fake tags, a comment, entity-bearing tail — extracted by the
    //      single-pass parser; the oracle derives the expected text
    //      PURELY from the generating arithmetic (no HTML parsing in
    //      DuckDB). ----
    "q_html_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = docs.select(col("doc_id"), concat(
        lit("<html><head><title>T"), col("doc_id").cast("string"),
        lit("</title><script>var x = '<p>1</p>';</script></head>"),
        lit("<body><!-- nav --><p>"), col("text"),
        lit("</p><div>tail &amp; "), (col("doc_id") % 7).cast("string"),
        lit("</div></body></html>")).as("html"))
      HtmlExtract.extract(html, "html")
        .select(col("doc_id"), col("text").as("extracted"))
        .orderBy(col("doc_id"))
    }),

    // ---- Boilerplate removal (jusText-shaped block classification):
    //      per doc, a link-dense nav bar (fails link density AND
    //      stopword density), a content sentence that shrinks below
    //      minWords on the doc_id % 6 slice, a zero-stopword keyword
    //      block, a tiny block, and a moderately-linked prose block —
    //      the oracle derives the SURVIVING text purely from the
    //      generating arithmetic, so any drift in the walker's link
    //      accounting or the three integer threshold tests flips a
    //      block in or out and breaks the hash. ----
    "q_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = docs.select(col("doc_id"), concat(
        lit("<body><div><a href=\"/nav\">menu home login and more "),
        (col("doc_id") % 9).cast("string"),
        lit("</a></div><p>"),
        when(col("doc_id") % 6 === 0,
          concat(lit("the cat sat "), col("doc_id").cast("string")))
          .otherwise(concat(lit("the cat and the dog sat in the house "),
            col("doc_id").cast("string"))),
        lit("</p><p>quick brown foxes jump high today</p><p>tiny</p>" +
          "<p>it is the <a href=\"x\">link "),
        (col("doc_id") % 7).cast("string"),
        lit("</a> of the day today</p></body>")).as("html"))
      Boilerplate.clean(html, "html", "text")
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).cast(LongType).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- Sentence-boundary chunking: per doc, four candidate
    //      boundaries of which one is a decoy (lowercase follows, so
    //      'five xN. gamma' must NOT split) and one is end-of-text;
    //      greedy 10-token packing puts sentences 1+2 in chunk 0 and
    //      sentence 3 alone — chunk text and token counts from the
    //      generating arithmetic. ----
    "q_sentence_chunk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // abbreviation decoys followed by UPPERCASE: U.S. (structural
      // acronym), e.g. and Mr. (listed) must NOT split even though the
      // uppercase-follows rule fires; {id}. and six. must. The packing
      // then lands at chunks of 5 and 7+3=10 tokens under the budget.
      val txt = docs.select(col("doc_id"), concat(
        lit("Alpha one U.S. Government "), col("doc_id").cast("string"),
        lit(". Beta e.g. Mr. Smith x"), (col("doc_id") % 7).cast("string"),
        lit(". gamma six. Delta seven "), (col("doc_id") % 5).cast("string"),
        lit(".")).as("text"))
      TextAnalysis.chunkBySentences(txt, "doc_id", maxTokens = 10)
        .select(col("doc_id"), col("chunk_idx"), md5(col("chunk")).as("h"),
          size(split(col("chunk"), " ")).cast(LongType).as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- Gopher quality rules (Rae et al. 2021): real text plus
    //      arithmetic bullet / ellipsis / symbol lines on the %3/%4/%5
    //      slices; every integer signal AND the cross-multiplied keep
    //      verdict replayed — a drift in any rule's counting or
    //      threshold arithmetic flips verdicts. ----
    "q_gopher" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val txt = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0, lit("\n• bullet item here")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("\nto be continued...")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("\n## symbols # here")).otherwise(lit("")))
        .as("text"))
      TextAnalysis.gopherFilter(txt, minWords = 10L)
        .select(col("doc_id"), col("n_words"), col("sum_word_len"),
          col("n_alpha_words"), col("n_hash"), col("n_ellipsis"),
          col("n_lines"), col("n_bullet_lines"), col("n_ellipsis_lines"),
          col("n_stop_hits"), col("gopher_keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- C4-style PHRASE blocklist (multi-word, substring-level —
    //      beyond the whole-token overlap gate): Aho–Corasick occurrence
    //      counts over text with phrases planted by arithmetic (one doc
    //      slice carries a DOUBLE occurrence); the oracle counts each
    //      phrase independently via replace-arithmetic on the SAME
    //      constructed text, so natural occurrences in the corpus count
    //      identically on both sides. Phrases are border-free (no proper
    //      prefix = suffix), making non-overlapping replace counting
    //      equal to the automaton's all-occurrence count. ----
    "q_phrase_block" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val txt = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" lorem ipsum")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit(" click here now and click here now")).otherwise(lit("")))
        .as("text"))
      TextAnalysis.markPhraseHits(txt, Seq("lorem ipsum", "click here now"))
        .select(col("doc_id"), col("n_phrase_hits"),
          (col("n_phrase_hits") > 0).as("blocked"))
        .orderBy(col("doc_id"))
    }),

    // ---- Approximate top tokens in ONE call (the sketch's reason to
    //      exist): grid over the FULL corpus, candidates from the
    //      deterministic hash-sampled 20 % doc slice, TakeOrdered cut —
    //      sample selector, grid, estimates and cut all replayed. ----
    "q_top_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      FrequencySketch.approxTopTokens(docs, 15, seed = 11L, depth = 4,
        width = 4096, sampleFrac = 0.2, sampleSeed = 5L)
        .select(col("token"), col("est"))
        .orderBy(col("est").desc, col("token"))
    }),

    // ---- Domain-level curation: hosts extracted from four obfuscated
    //      URL spellings (uppercase WWW + default port, https:443,
    //      userinfo, plain), then gated against a broadcast host
    //      blocklist — verdicts from the id arithmetic; a normalization
    //      miss on any spelling leaks a blocked host through. ----
    "q_domain_filter" -> ((s, dir) => {
      import graft.functions.UrlCanon
      val docs = t(s, dir, "documents")
      val urls = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("http://WWW.H"), (col("doc_id") % 10).cast("string"),
            lit(".EX:80/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://h"), (col("doc_id") % 10).cast("string"),
              lit(".ex:443/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("http://user:pw@h"), (col("doc_id") % 10).cast("string"),
              lit(".ex/p"), col("doc_id").cast("string")))
          .otherwise(concat(lit("http://h"), (col("doc_id") % 10).cast("string"),
            lit(".ex/p"), col("doc_id").cast("string"))).as("url"))
      val blocked = s.createDataFrame(Seq(Tuple1("h0.ex"), Tuple1("h3.ex")))
        .toDF("host")
      UrlCanon.markBlockedHosts(urls, "url", blocked)
        .select(col("doc_id"), col("host"), col("blocked"))
        .orderBy(col("doc_id"))
    }),

    // ---- eTLD+1 registrable domains: subdomain-sharded URLs over
    //      multi-label public suffixes (co.uk, com.au), wildcard rules
    //      (*.ck), an exception rule (!www.ck), a PSL-private hosting
    //      suffix (github.io) and a bare-suffix host — the registrable
    //      domain plus a ONE-row-per-SITE blocklist verdict, all from
    //      the id arithmetic. Blocking spam.co.uk must catch every
    //      a{k}.spam.co.uk without enumerating subdomains. ----
    // ---- eTLD+1 with rules loaded from a REAL publicsuffix.dat-format
    //      FILE (comments, ICANN/PRIVATE section markers, wildcard,
    //      exception) driving the codegen RegistrableDomain column — the
    //      file→plan path pinned at the oracle level, not just the
    //      parser spec. Hosts from id arithmetic across all five rule
    //      shapes plus an unregistrable dotless host (null etld). ----
    "q_domain_etld_file" -> ((s, dir) => {
      import graft.functions.PublicSuffix
      val dat = Seq(
        "// fixture publicsuffix.dat",
        "// ===BEGIN ICANN DOMAINS===",
        "uk", "co.uk  // trailing comment", "ck", "*.ck", "!www.ck",
        "com", "io",
        "// ===END ICANN DOMAINS===",
        "// ===BEGIN PRIVATE DOMAINS===",
        "github.io",
        "// ===END PRIVATE DOMAINS===")
      val f = new java.io.File(
        graft.sources.BucketedTables.scratchDir("graft_psl_q_").toFile, "psl.dat")
      java.nio.file.Files.write(f.toPath, dat.mkString("\n").getBytes("UTF-8"))
      val rules = PublicSuffix.fromFile(f.getPath)
      val k = (col("doc_id") % 50).cast("string")
      val host = when(col("doc_id") % 6 === 0, concat(lit("sub.h"), k, lit(".co.uk")))
        .when(col("doc_id") % 6 === 1, concat(lit("deep.h"), k, lit(".any.ck")))
        .when(col("doc_id") % 6 === 2, lit("x.sub.www.ck"))
        .when(col("doc_id") % 6 === 3, concat(lit("a.h"), k, lit(".github.io")))
        .when(col("doc_id") % 6 === 4, concat(lit("h"), k, lit(".com")))
        .otherwise(lit("localhost"))
      t(s, dir, "documents")
        .select(col("doc_id"), host.as("host"))
        .select(col("doc_id"), col("host"),
          PublicSuffix.registrable_domain(col("host"), rules).as("etld1"))
        .orderBy(col("doc_id"))
    }),

    "q_domain_etld" -> ((s, dir) => {
      import graft.functions.UrlCanon
      val docs = t(s, dir, "documents")
      val sub = concat(lit("s"), (col("doc_id") % 3).cast("string"))
      val urls = docs.select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          concat(lit("http://"), sub, lit(".spam.co.uk/p"),
            col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 1,
            concat(lit("http://"), sub, lit(".shop.example.com.au/p"),
              col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 2,
            concat(lit("http://"), sub, lit(".example.com/p"),
              col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 3,
            concat(lit("http://deep."), sub, lit(".anylabel.ck/p"),
              col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 4,
            concat(lit("http://sub.www.ck/p"), col("doc_id").cast("string")))
          .otherwise(concat(lit("http://"), sub, lit(".mysite.github.io/p"),
            col("doc_id").cast("string"))).as("url"))
      val blocked = s.createDataFrame(Seq(
        Tuple1("spam.co.uk"), Tuple1("mysite.github.io"))).toDF("domain")
      UrlCanon.markBlockedDomains(urls, "url", blocked)
        .select(col("doc_id"), col("domain"), col("blocked"))
        .orderBy(col("doc_id"))
    }),

    // ---- Intra-document line dedup (the RefinedWeb repeated-line
    //      pass): per doc, a banner line planted three times around
    //      unique content and a paragraph break, plus a repeated content
    //      line — keep-first must drop exactly the later copies while
    //      the EMPTY line (paragraph structure) survives. Oracle =
    //      the generating arithmetic. ----
    "q_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withText = docs.select(col("doc_id"), concat(
        lit("promo banner\nline a "), col("doc_id").cast("string"),
        lit("\npromo banner\n\npromo banner\nline b "),
        (col("doc_id") % 5).cast("string"),
        lit("\nline a "), col("doc_id").cast("string")).as("text"))
      TextAnalysis.dedupLines(withText)
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).cast(LongType).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- The language-parameterized boilerplate flavor: the same
    //      block structure with FRENCH prose and the French stopword
    //      set — the content block passes only because the stopword
    //      test speaks the right language (the English default would
    //      empty every page). ----
    "q_boilerplate_fr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = docs.select(col("doc_id"), concat(
        lit("<body><div><a href=\"/nav\">menu accueil connexion et plus "),
        (col("doc_id") % 9).cast("string"),
        lit("</a></div><p>le chat et le chien est dans la maison "),
        col("doc_id").cast("string"),
        lit("</p><p>minuscule</p></body>")).as("html"))
      Boilerplate.clean(html, "html", "text",
        stopwords = LanguageProfiles.profiles("fr"))
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).cast(LongType).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- Crawl politeness: robots.txt rules (group selection by
    //      user-agent, longest-match with allow-wins ties, host-specific
    //      rules) against an arithmetic URL fixture — a wrong group pick
    //      (the graftbot group disallows EVERYTHING), a leaked cross-host
    //      rule or a broken longest-match all flip verdicts. Oracle =
    //      the allow arithmetic, no robots parsing in DuckDB. ----
    "q_robots_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = s.range(9).select(
        concat(lit("h"), col("id").cast("string"), lit(".ex")).as("host"),
        concat(lit("User-agent: graftbot\nDisallow: /\n\n" +
          "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
          "Disallow: /*?sessionid=\nDisallow: /x"),
          col("id").cast("string"), lit("\n")).as("content"))
      val urls = docs.select(col("doc_id"),
        concat(lit("http://h"), (col("doc_id") % 10).cast("string"), lit(".ex"),
          when(col("doc_id") % 4 === 0,
            concat(lit("/public/p"), col("doc_id").cast("string"),
              // every other public URL carries a session-id query
              // string: rules must match path+QUERY (RFC 9309)
              when(col("doc_id") % 8 === 0, lit("?sessionid=1"))
                .otherwise(lit(""))))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/private/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/private/ok/p"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/x"), (col("doc_id") % 10).cast("string"),
            lit("/p"), col("doc_id").cast("string")))).as("url"))
      RobotsFilter.markAllowed(urls, robots, "url")
        .select(col("doc_id"), col("allowed"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: corpus token-frequency estimation by count-min sketch.
    //      width is DELIBERATELY tight (3×64 counters for a ~40-word
    //      vocabulary across 5 langs) so collisions overestimate — the
    //      oracle replays the counter grid and the min-over-rows lookup
    //      exactly, gating the estimates bit-for-bit, overestimates
    //      included. ----
    "q_countmin" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sketch = FrequencySketch.tokenSketch(docs, seed = 9L,
        depth = 3, width = 64)
      val keys = docs.where(col("doc_id") < 10)
        .select(explode(filter(graft.functions.Functions.tokens(col("text")),
          tk => length(tk) > 0)).as("token"))
        .distinct()
      FrequencySketch.estimateTokens(keys, sketch, "token")
        .select(col("token"), col("est"))
        .orderBy(col("token"))
    }),

    // ---- Heavy hitters through the sketch: candidates = distinct
    //      tokens of the doc_id % 5 slice, estimates from a 4×4096 grid
    //      (seed 11), top 15 by (est desc, token) — grid, candidate set,
    //      ordering and cut all replayed; TakeOrdered plan, no global
    //      sort. ----
    "q_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sketch = FrequencySketch.tokenSketch(docs, seed = 11L,
        depth = 4, width = 4096)
      val candidates = docs.where(col("doc_id") % 5 === 0)
        .select(explode(filter(graft.functions.Functions.tokens(col("text")),
          tk => length(tk) > 0)).as("token"))
        .distinct()
      FrequencySketch.heavyHitters(candidates, sketch, "token", k = 15)
    }),

    // ---- fastText-style word-BIGRAM features hashed into the same
    //      bucket space (3 epochs) — the oracle's feature CTE gains the
    //      adjacent-pair bucket stream and must still land on identical
    //      held-out scores. ----
    "q_perceptron_bigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.where(col("doc_id") % 4 =!= 0)
        .withColumn("y", when(col("lang") === "en", 1).otherwise(-1))
      val model = LinearClassifier.trainPerceptron(labeled, "doc_id", "y",
        numBuckets = 32, epochs = 3, bigrams = true)
      LinearClassifier.score(docs.where(col("doc_id") % 4 === 0), model)
        .select(col("doc_id"), col("score"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // ---- The VOTED flavor (score with Σ_e w_e — integer-preserving
    //      averaged perceptron): same epoch chain, different final
    //      weights; the oracle sums the replayed per-epoch vectors. ----
    "q_perceptron_voted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.where(col("doc_id") % 4 =!= 0)
        .withColumn("y", when(col("lang") === "en", 1).otherwise(-1))
      val model = LinearClassifier.trainVotedPerceptron(labeled, "doc_id",
        "y", numBuckets = 32, epochs = 4)
      LinearClassifier.score(docs.where(col("doc_id") % 4 === 0), model)
        .select(col("doc_id"), col("score"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: corpus-LM familiarity (CCNet-style LM filter with corpus
    //      bigram counts as the model): reference = en docs, scored slice
    //      = doc_id < 100. Integer hit counts + one IEEE division; a mean
    //      log-prob would sum doubles in engine order and is deliberately
    //      not gated. ----
    "q_lm_familiarity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.bigramCounts(docs.where(col("lang") === "en"))
      TextAnalysis.lmFamiliarity(docs.where(col("doc_id") < 100), lm, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- Text: CCNet head/middle/tail familiarity banding per source:
    //      the LM-familiarity chain (already hash-gated in
    //      q_lm_familiarity) feeds an ntile(3) per source ordered by
    //      (familiarity DESC, doc_id) — DuckDB replays counts, division
    //      and window identically. ----
    "q_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.bigramCounts(docs.where(col("lang") === "en"))
      TextAnalysis.familiarityBuckets(docs, lm, "doc_id", "source")
        .select(col("doc_id"), col("source"),
          col("bucket").cast(LongType).as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: per-source quality gate (Gopher-style): keep the top half
    //      of each source by composite quality, rank-gated (integer-exact
    //      boundary, doc_id tiebreak) — the oracle replays the same
    //      formula, window and cut. ----
    "q_quality_gate" -> ((s, dir) => {
      TextAnalysis.qualityGate(t(s, dir, "documents"), "source", "doc_id", 1, 2)
        .select(col("doc_id"), col("source"), col("rnk"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: test-set decontamination. Eval set = every 20th doc;
    //      corpus docs sharing any 8-token shingle with it are flagged
    //      (the fixture's planted near-dup partners). Broadcast semi-join
    //      on the exploded gram stream — the corpus is never shuffled. ----
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val eval = docs.where(col("doc_id") % 20 === 0)
      val corpus = docs.where(col("doc_id") % 20 =!= 0)
      TextAnalysis.contaminatedIds(corpus, eval, "doc_id", k = 8)
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text: duplicated n-gram span statistics (relational exact-
    //      substring-dedup signal): per-doc fraction of distinct 3-grams
    //      appearing in >= 2 docs of the slice. Exact integer counts,
    //      single IEEE division. ----
    "q_dup_ngrams" -> ((s, dir) => {
      TextAnalysis.dupNgramStats(
          t(s, dir, "documents").where(col("doc_id") < 120), "doc_id", k = 3)
        .orderBy(col("doc_id"))
    }),

    // ---- Text: duplicated-span REMOVAL (exact-substring-dedup rewrite):
    //      tokens covered by an 8-gram occurring in >= 2 docs of the slice
    //      are cut, survivors rejoined in order. The slice contains two
    //      planted near-dup pairs whose shared spans get scrubbed; the
    //      oracle replays the whole positioned-gram pipeline. ----
    "q_drop_spans" -> ((s, dir) => {
      TextAnalysis.dropSharedSpans(
          t(s, dir, "documents").where(col("doc_id") < 180), "doc_id", k = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- Text: fixed-size overlapping token chunks (32-token windows,
    //      stride 24) — the retrieval/embedding preprocessing shape;
    //      map-only, no shuffle. ----
    "q_chunk" -> ((s, dir) => {
      TextAnalysis.chunk(t(s, dir, "documents").where(col("doc_id") < 40),
          "doc_id", chunkTokens = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- Text: deterministic concatenate-and-cut sequence packing
    //      (256-token budget, 8 content-hash bins); per-pack stats. The
    //      oracle replays the same bin assignment, within-bin order and
    //      running-sum cut. ----
    "q_seq_pack" -> ((s, dir) => {
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id",
          budgetTokens = 256, numBins = 8)
        .groupBy(col("bin"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("bin"), col("pack_id"))
    }),

    // ---- Text: temperature mixture flattening (τ = 0.5): per-stratum
    //      keep fractions ∝ share^(τ−1) anchored at the smallest stratum,
    //      applied via the replay-stable salted-fingerprint selector. The
    //      oracle recomputes the fractions via the τ=½ sqrt identity
    //      (bit-exact cross-engine; see temperatureFractions) and every
    //      doc's integer-cut selection. ----
    "q_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fr = TextAnalysis.temperatureFractions(docs, "lang", temperature = 0.5)
      TextAnalysis.stratifiedSample(docs, "lang", fr, seed = 11L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    }),

    // ---- Text: temperature mixture UPSAMPLING (τ = 0.5): small strata
    //      repeated (n_max/n_s)^(1−τ)× (capped), anchored at the largest
    //      stratum; each doc's copy count = floor(f) + a salted-selector
    //      extra, tagged with a 0-based epoch. The oracle replays the
    //      factor chain (sqrt + least, bit-exact), every doc's copy count,
    //      and the epoch expansion via a lateral range. ----
    "q_upsample_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val factors = TextAnalysis.upsampleFactors(docs, "lang",
        temperature = 0.5, maxFactor = 4.0)
      TextAnalysis.upsample(docs, "lang", factors, seed = 13L)
        .groupBy(col("lang"), col("epoch").cast(LongType).as("epoch"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          sum(col("doc_id")).as("sum_id"))
        .orderBy(col("lang"), col("epoch"))
    }),

    // ---- Text: PII scrubbing (corpus cleaning). The tables carry no PII,
    //      so the query builds deterministic PII-bearing text from events
    //      columns (emails, IPv4s, long digit runs), scrubs it, and the
    //      oracle replays the same construction + RE2-compatible regex
    //      chain — every masked string hash-gated. ----
    "q_pii_scrub" -> ((s, dir) => {
      val text = concat(
        lit("contact user"), col("user_id"), lit(" at u"), col("user_id"),
        lit("@example.com or 10.0."), col("user_id") % 256, lit("."), col("event_id") % 256,
        lit(" tel 555"), lpad((col("event_id") % 10000).cast(StringType), 7, "0"),
        lit(" ref "), col("event_type"))
      t(s, dir, "events").where(col("event_id") < 200)
        .select(col("event_id"), F.scrubPii(text).as("scrubbed"))
        .orderBy(col("event_id"))
    }),

    // ---- Text: portable rolling fingerprint (dup bookkeeping) ----
    "q_doc_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(t(s, dir, "documents"))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- Embeddings: per-label norm profile ----
    "q_embed_norms" -> ((s, dir) => {
      Similarity.normStats(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label"))
    }),

    // ---- Embeddings: int8 quantization audit. Codes use
    //      floor(x/maxAbs*127 + 0.5) — portable half-up rounding — and the
    //      squared reconstruction error folds in array order, so even the
    //      raw double hash-matches DuckDB. ----
    "q_quantize_int8" -> ((s, dir) => {
      Similarity.quantError(
          t(s, dir, "embeddings").where(col("vec_id") < 100), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    }),

    // ---- Similarity: brute-force cosine top-k (ids only — fp-safe) ----
    "q_knn_brute" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(embs.where(col("vec_id") < 3), embs, "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Dedup: MinHash-LSH near-dups, exact-verified — the emitted set
    //      is "pairs with exact 3-gram Jaccard ≥ 0.5", an engine-neutral
    //      property the oracle reproduces by brute force; LSH is only the
    //      candidate generator (est ≥ 0.3 prefilter, 0.2 margin) ----
    "q_minhash_pairs" -> ((s, dir) => {
      Dedup.minHashNearDupsExact(t(s, dir, "documents"), "doc_id",
        threshold = 0.5, margin = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Dedup: INCREMENTAL — a new batch (docs 0..99 relabeled +100000)
    //      deduped against the corpus via its signature table only; the
    //      corpus is never re-shingled. LSH candidates (est ≥ threshold −
    //      margin) → exact n-gram Jaccard ≥ 0.5, like the self-join
    //      flavor. Oracle brute-forces the new × corpus cross pairs;
    //      qualifying fixture pairs sit at J ≥ 0.9 where 42×3 banding
    //      miss is ~1e-24 — deterministic in practice. ----
    "q_incremental_dedup" -> ((s, dir) => {
      val corpus = t(s, dir, "documents")
      // at corpus scale this is a materialized parquet table, signed once
      val corpusSigs = Dedup.minHashSignatures(corpus, "doc_id", "text", 3, 126)
      val newBatch = corpus.where(col("doc_id") < 100)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val cands = Dedup.minHashLshPairsAgainst(newBatch, corpusSigs, "doc_id", "text",
        threshold = 0.3)
      val all = corpus.select(col("doc_id"), col("text")).unionByName(newBatch)
      Dedup.ngramJaccard(
          cands.select(col("new_id").as("id_a"), col("corpus_id").as("id_b")), all, "doc_id")
        .where(col("jaccard") >= 0.5)
        .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"), col("jaccard"))
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // ---- Dedup: sharded Bloom seen-set probe (the history-size-
    //      independent incremental-dedup tier). mBits is deliberately
    //      small (1024/shard) so FALSE POSITIVES occur at this sf — the
    //      oracle replays the double-hashing position arithmetic and the
    //      set-bit membership test exactly, so the gate proves
    //      bit-identical Bloom behavior, not just "no false
    //      negatives". ----
    "q_bloom_seen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val filter = SeenFilter.buildFilter(docs.where(col("doc_id") % 3 =!= 0),
        seed = 7L, kHashes = 3, mBits = 1024, numShards = 4)
      SeenFilter.markSeen(docs, filter)
        .select(col("doc_id"), col("maybe_seen"))
        .orderBy(col("doc_id"))
    }),

    // ---- Dedup: the VERSIONED seen-filter store lifecycle runs for
    //      real — init (gen + _CURRENT flip) → appendBatch (OR-merge +
    //      new generation) → recover → probe the CURRENT filter. The
    //      probe covers both the original corpus and the appended batch
    //      content, so the append must actually be in the served bits;
    //      the oracle replays membership over history ∪ batch with the
    //      same exact position arithmetic. ----
    "q_bloom_serving" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val work = graft.sources.BucketedTables.scratchDir("graft_bloomstore_q_").toString
      val filter0 = SeenFilter.buildFilter(docs.where(col("doc_id") % 3 =!= 0),
        seed = 7L, kHashes = 3, mBits = 1024, numShards = 4)
      SeenFilterStore.init(s, work, filter0)
      val batch = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" zz")).as("text"))
      SeenFilterStore.appendBatch(s, work, batch)
      SeenFilterStore.recover(s, work)
      val probe = docs.select(col("doc_id"), col("text"))
        .unionByName(batch.select((col("doc_id") + 1000000L).as("doc_id"),
          col("text")))
      SeenFilter.markSeen(probe, SeenFilterStore.currentFilter(s, work))
        .select(col("doc_id"), col("maybe_seen"))
        .orderBy(col("doc_id"))
    }),

    // ---- Dedup: INCREMENTAL through the PARTITIONED serving layout —
    //      same verified-pair contract as q_incremental_dedup, but the
    //      whole on-disk serving path executes for real: signature table
    //      written hash-partitioned (sig_pt = pmod(xxhash64(id), 32)) +
    //      _LAYOUT.json stamp, banded table seeded pre-capped, candidates
    //      from the broadcast-increment band join, and the verify stage's
    //      signature fetch PRUNED to the candidates' partitions
    //      (Dedup.prunedCorpusSigs). If pruning dropped a partition a
    //      candidate's sig lives in, its pair would vanish and the hash
    //      gate would fail — losslessness is what this row proves. The
    //      table is additionally GROWN 32 → 128 partitions mid-query via
    //      Dedup.relayoutSignatures (the automated grow-P maintenance
    //      step), so the banded build reads the P=32 layout and the
    //      pruned verify reads the re-layouted P=128 table — BOTH layouts
    //      are exercised and the hash gate proves the re-layout lossless
    //      too. Oracle = the same brute-forced exact-Jaccard cross
    //      pairs. ----
    "q_sigpt_dedup" -> ((s, dir) => {
      val corpus = t(s, dir, "documents")
      val work = graft.sources.BucketedTables.scratchDir("graft_sigpt_q_").toString
      val sigT = s"$work/sigs"; val bandT = s"$work/bands"
      val P = 32
      val (nBands, rowsPerBand) = Dedup.lshBandingFor(126, 0.3)
      Dedup.writeSignatures(
        Dedup.minHashSignatures(corpus, "doc_id", "text", 3, 126), sigT, P)
      graft.operators.DedupLayout.write(s, sigT,
        graft.operators.DedupLayout.Layout(3, 126, nBands, rowsPerBand, 0.3, 1000, P))
      Dedup.bandedTableCapped(s.read.parquet(sigT), nBands, rowsPerBand, 1000)
        .write.parquet(bandT)
      // corpus grew → grow the hash-partition layout through the automated
      // re-layout (write-aside + recoverable swap + re-stamp)
      val P2 = 128
      require(Dedup.relayoutSignatures(s, sigT, P2),
        s"sig-table re-layout $P -> $P2 did not run")
      val newBatch = corpus.where(col("doc_id") < 100)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val newSigs = Dedup.minHashSignatures(newBatch, "doc_id", "text", 3, 126)
      // candidates consumed twice (partition values + the score join):
      // localCheckpoint materializes once with no cache-manager entry to
      // leak past the query's lifetime
      val cands = Dedup.minHashCandidatePairsAgainstBanded(
          newSigs, s.read.parquet(bandT), nBands, rowsPerBand, 1000,
          preCapped = true, broadcastIncrement = true)
        .localCheckpoint()
      val est = Dedup.estJaccardScores(cands, newSigs,
          Dedup.prunedCorpusSigs(s, sigT, cands.select("corpus_id"), P2),
          "new_id", "corpus_id", 126)
        .where(col("est_jaccard") >= 0.3)
      val all = corpus.select(col("doc_id"), col("text")).unionByName(newBatch)
      Dedup.ngramJaccard(
          est.select(col("new_id").as("id_a"), col("corpus_id").as("id_b")), all, "doc_id")
        .where(col("jaccard") >= 0.5)
        .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"), col("jaccard"))
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // ---- Dedup: SimHash near-dup pairs. Signatures use the portable
    //      polynomial token hash, so the oracle recomputes the exact
    //      signatures and Hamming distances; maxHamming=3 is the
    //      pigeonhole bound for 4-quarter blocking (recall is exact) ----
    "q_simhash_pairs" -> ((s, dir) => {
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Dedup: exact n-gram Jaccard on candidate pairs (oracle-checked;
    //      pairs = consecutive doc ids, the LSH-verification shape) ----
    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(pairs, docs, "doc_id")
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"))
    }),

    // ---- Dedup: embedding cosine near-dups via banded hyperplane LSH +
    //      exact cosine verify. Emitted set = "pairs with exact cosine ≥
    //      0.45" (the top tail of this synthetic corpus, max ≈ 0.51) —
    //      oracle reproduces it by brute force. 48 bands × 4 bits gives
    //      per-pair miss ≈ (1−0.177)^48 < 1e-4 at this similarity. ----
    "q_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, bands = 48, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Similarity: banded hyperplane-LSH ANN (the scale path), tuned
    //      for full recall on this corpus (40 bands × 2 bits: per-neighbor
    //      miss < 1e-7 down to cosine 0.1) so the emitted top-5 matches
    //      the oracle's exact brute-force top-5, ids-only. ----
    "q_lsh_ann" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.lshTopK(embs.where(col("vec_id") < 50), embs, "vec_id", "embedding",
        k = 5, bands = 40, bitsPerBand = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- P1/P6 union view over a multi-type wire stream: events encode
    //      alternately as FS_EVENT / STATE_EVENT frames, decode through
    //      typedTables, union with unionByName (absent body columns null),
    //      aggregate per type. Oracle reproduces the aggregate directly. ----
    "q_wire_union" -> ((s, dir) => {
      import s.implicits._
      import graft.model.{EventModel, ProtoDescriptors}
      import graft.sources.{EventTables, FrameSource}
      val rows = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .transform(fanWire).as[(Long, Long, String)]
      val frames = rows.mapPartitions { it =>
        it.map { case (eventId, userId, eventType) =>
          val header = ProtoDescriptors.header.encode(Seq(
            s"application_${userId % 50}", "1", "p", "u", s"container_$userId", "h", "",
            "YARN", "EXECUTOR", "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
          val (marker, body) =
            if (eventId % 2 == 0)
              (1, ProtoDescriptors.fsEvent.encode(Seq(
                "", "", eventType.toUpperCase, "hdfs://root", eventId % 31, "u", "SUCCESS")))
            else
              (3, ProtoDescriptors.stateEvent.encode(Seq(s"STATE_${eventId % 5}")))
          (EventModel.encode(EventModel.Frame(marker, 1700000000000L + eventId, header, body)), eventId)
        }
      }.toDF("value", "offset")
      val decoded = FrameSource.decodeFramesFast(frames)
      val union = EventTables.unionView(
        FrameSource.typedTables(decoded, Seq("FS_EVENT", "STATE_EVENT")))
      union.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("application_id")).as("apps"),
          // STATE rows lack method_duration_millis entirely → the sum is
          // null; surfaced as -1 so the output stays null-free for the
          // hash gate while still proving the union null-fill semantics
          coalesce(sum(col("method_duration_millis")), lit(-1L)).cast(LongType).as("sum_dur"),
          countDistinct(col("state")).as("states"))
        .orderBy(col("event_type"))
    }),

    // ---- A2 G1 full-GC heuristic: major-collection counts + cumulative
    //      pause per container with the sticky-severe rule
    //      (G1GC.java:18-46). ----
    "q_heuristic_g1gc" -> ((s, dir) => {
      val gc = t(s, dir, "events").select(
        concat(lit("application_"), (col("user_id") % 20).cast(StringType)).as("application_id"),
        lit("1").as("attempt_id"),
        concat(lit("container_"), (col("user_id") % 97).cast(StringType)).as("container_id"),
        when(col("event_id") % 21 === 0, "G1 Old Generation")
          .otherwise("PS Scavenge").as("collector_name"),
        (col("event_id") % 400).as("pause_time"))
      HeuristicAggs.g1FullGc(gc)
        .withColumn("major_pause_ms", col("major_pause_ms").cast(LongType))
        .orderBy("application_id", "attempt_id", "container_id")
    }),

    // ---- Q11 annotations through the typed wire path: state-transition
    //      points of one application's SPARK_STAGE_STATE_EVENTs (latest
    //      100 BEGINs), from encoded frames → typed table → Dashboards. ----
    "q_annotations" -> ((s, dir) => {
      import s.implicits._
      import graft.model.{EventModel, ProtoDescriptors}
      import graft.sources.FrameSource
      val rows = t(s, dir, "events")
        .select(col("event_id"), col("user_id")).transform(fanWire).as[(Long, Long)]
      val frames = rows.mapPartitions { it =>
        it.map { case (eventId, userId) =>
          val header = ProtoDescriptors.header.encode(Seq(
            s"application_${userId % 50}", "1", "p", "u", s"c_$eventId", "h", "",
            "SPARK", "EXECUTOR", "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
          val body = ProtoDescriptors.sparkStageStateEvent.encode(Seq(
            if (eventId % 4 == 0) "BEGIN" else "END",
            s"stage_${eventId % 9}", (eventId % 9).toString, "0", (eventId % 17).toInt))
          (EventModel.encode(EventModel.Frame(
            EventModel.markerForName("SPARK_STAGE_STATE_EVENT"),
            1700000000000L + eventId, header, body)), eventId)
        }
      }.toDF("value", "offset")
      val typed = FrameSource.typedTable(FrameSource.decodeFramesFast(frames), "SPARK_STAGE_STATE_EVENT")
      Dashboards.stateAnnotations(typed, "application_7", "BEGIN")
        .select(unix_millis(col("timestamp")).as("ts_ms"),
          array_join(col("tags"), "|").as("tags"))
        .orderBy(col("ts_ms"))
    }),

    // ---- A4 Threads heuristic end-to-end: thread-stats rows derived
    //      deterministically from events, folded by HeuristicAggs.threads
    //      (max live, last total by event_id recency, INTEGER-division
    //      ratio, reference severity boundaries — Threads.java:44-52). ----
    "q_heuristic_threads" -> ((s, dir) => {
      val stats = t(s, dir, "events").select(
        concat(lit("application_"), (col("user_id") % 20).cast(StringType)).as("application_id"),
        lit("1").as("attempt_id"),
        concat(lit("container_"), (col("user_id") % 97).cast(StringType)).as("container_id"),
        (col("event_id") % 100).as("thread_count"),
        (lit(50) + col("event_id") % 200).as("thread_total"),
        col("event_id"))
      HeuristicAggs.threads(stats, tsCol = "event_id")
        .orderBy("application_id", "attempt_id", "container_id")
    }),

    // ---- A3 HeapUsage heuristic end-to-end: heap peaks vs max with the
    //      major-GC discard and integer-division unused-heap ratio
    //      (HeapUsage.java:76-89). ----
    "q_heuristic_heap" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val key = Seq(
        concat(lit("application_"), (col("user_id") % 20).cast(StringType)).as("application_id"),
        lit("1").as("attempt_id"),
        concat(lit("container_"), (col("user_id") % 97).cast(StringType)).as("container_id"))
      val heapStats = e.select(key :+ (col("event_id") % 1000).as("heap_used")
        :+ (lit(500) + col("user_id") % 2048).as("heap_max"): _*)
      val gcEvents = e.where(col("event_id") % 7 === 0)
        .select(key :+ when(col("event_id") % 21 === 0, "G1 Old Generation")
          .otherwise("PS Scavenge").as("collector_name"): _*)
      HeuristicAggs.heapUsage(heapStats, gcEvents)
        // null-free output for the hash gate: discarded ratios (peak >= max)
        // surface as -1
        .withColumn("ratio", coalesce(col("ratio"), lit(-1L)))
        .orderBy("application_id", "attempt_id", "container_id")
    }),

    // ---- A5 CodeCacheUsage heuristic end-to-end: peak code-cache use vs
    //      capacity with the within-5% MODERATE rule and integer-division
    //      boundary (CodeCacheUsage.java:28-47). ----
    "q_heuristic_codecache" -> ((s, dir) => {
      // cc_max is constant per group, so last-by-ts == max and the oracle
      // can recompute with max(); the CODE path still exercises max_by
      val stats = t(s, dir, "events").select(
        concat(lit("application_"), (col("user_id") % 20).cast(StringType)).as("application_id"),
        lit("1").as("attempt_id"),
        concat(lit("container_"), (col("user_id") % 97).cast(StringType)).as("container_id"),
        (col("event_id") % 1000).as("cc_used"),
        (lit(950L) + col("user_id") % 100).as("cc_max"),
        col("ts").as("timestamp"))
      HeuristicAggs.codeCacheUsage(stats)
        .orderBy("application_id", "attempt_id", "container_id")
    }),

    // ---- A8 FileHeuristic end-to-end: per-(app,attempt) counts pivoted by
    //      FS action with 0-fill for absent actions and the files-created
    //      severity thresholds (FileHeuristic.java:31-97). ----
    "q_heuristic_files" -> ((s, dir) => {
      val fsEvents = t(s, dir, "events").select(
        concat(lit("application_"), (col("user_id") % 20).cast(StringType)).as("application_id"),
        lit("1").as("attempt_id"),
        element_at(array(HeuristicAggs.fsActions.map(lit): _*),
          (col("event_id") % 8).cast(IntegerType) + 1).as("action"))
      HeuristicAggs.fileHeuristic(fsEvents, maxCreatedFiles = 500L)
        .orderBy("application_id", "attempt_id")
    }),

    // ---- A9 FlinkCheckpointDuration end-to-end: max checkpoint duration
    //      per (app, job) with the sticky 15-minute SEVERE rule
    //      (flink/FlinkCheckpointDuration.java:45-53,96-110). ----
    // ---- A9 on WIRE input (upgraded from synthetic columns round 5):
    //      FLINK_JOB_EVENT frames → typed decode → max checkpoint
    //      duration per (app, job) with the 15 min severity cut; the
    //      oracle is unchanged (same formula from raw columns), so the
    //      hash now gates the flink body codec too. ----
    "q_flink_checkpoint" -> ((s, dir) => {
      import s.implicits._
      import graft.model.{EventModel, ProtoDescriptors}
      import graft.sources.FrameSource
      val frames = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
        .transform(fanWire)
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.map { case (eventId, userId, tsMs) =>
            val header = ProtoDescriptors.header.encode(Seq(
              s"application_${userId % 20}", "1", "graft_pipeline", s"user_${userId % 7}",
              s"container_${userId % 5}", s"host_${userId % 11}", "", "FLINK",
              "JOB_MANAGER", "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
            val body = ProtoDescriptors.flinkJobEvent.encode(Seq(
              s"jid_${eventId % 7}", s"job_${eventId % 7}", 0L, 0L, 0L, 0L,
              0L, 0, 0L, 0L, 0L, 0L, eventId * 131 % 1500000, 0L, ""))
            (EventModel.encode(EventModel.Frame(
              EventModel.markerForName("FLINK_JOB_EVENT"), tsMs, header, body)), eventId)
          }
        }.toDF("value", "offset")
      val typed = FrameSource.typedTable(
        FrameSource.decodeFramesFast(frames), "FLINK_JOB_EVENT")
      HeuristicAggs.flinkCheckpointDuration(typed)
        .orderBy("application_id", "job_name")
    }),

    // ---- Dedup clustering: connected components over the exact-verified
    //      near-dup graph (3-gram Jaccard >= 0.5 pairs), component = min
    //      doc id; every doc listed (singletons map to themselves). The
    //      oracle reproduces the same graph by brute force and closes it
    //      with a recursive CTE — engine-neutral exact output. ----
    "q_dedup_groups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDupsExact(docs, "doc_id", threshold = 0.5, margin = 0.2)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponents(pairs)
      docs.select(col("doc_id"))
        .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy(col("doc_id"))
    }),

    // ---- Dedup: the STAR-CONTRACTION component path (the adversarial-
    //      diameter contingency connectedComponents falls back to) over
    //      the same near-dup graph — identical labeling contract, so the
    //      oracle is the same recursive-CTE closure. Gates the algorithm
    //      cross-engine, not just against the propagation flavor. ----
    "q_cc_star" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDupsExact(docs, "doc_id", threshold = 0.5, margin = 0.2)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponentsStar(pairs)
      docs.select(col("doc_id"))
        .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy(col("doc_id"))
    }),

    // ---- Dedup: quality-aware representative per near-dup cluster (keep
    //      the longest doc, ties → min id) — the "keep canonical by
    //      quality" pipeline step. Oracle replays the recursive-CTE
    //      component closure + the same argmax. ----
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDupsExact(docs, "doc_id", threshold = 0.5, margin = 0.2)
        .select(col("id_a"), col("id_b"))
      Dedup.keepBestPerGroup(docs, "doc_id", pairs, F.tokenCount(col("text")).cast(LongType))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- Similarity: IVF ANN (inverted-file scale path). Deterministic
    //      hash-seeded Lloyd's centroids, probe 8/16 clusters, exact-cosine
    //      verify. Emits the engine-neutral measured property "recall@5 vs
    //      brute force >= 0.6 across all 20 queries" (observed 0.82; the
    //      oracle emits the same literal shape — q_knn_brute already
    //      oracle-verifies the brute-force ground truth itself). ----
    "q_ivf_ann" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(embs, "vec_id", "embedding", k = 16, iters = 2)
      val queries = embs.where(col("vec_id") < 20)
      val ivf = Similarity.ivfTopK(queries, embs, "vec_id", "embedding",
        k = 5, centroids, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"))
      val brute = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      ivf.intersect(brute)
        .agg(count(lit(1)).as("_hits"))
        .select(lit(20).as("n_queries"), lit(5).as("k"),
          (col("_hits") >= lit(60L)).as("recall_ok"))
    }),

    // ---- Similarity: the IVF index AS A LAYOUT. Writes the corpus
    //      partitionBy(cid), reloads centroids from the index metadata,
    //      and answers probes off the persisted layout. Two measured
    //      properties ride the row: the persisted path returns exactly
    //      the in-memory ivfTopK rows, and the probe predicate actually
    //      pruned the parquet scan (statically selected files < full
    //      layout — the 100 TB story: probing IS partition pruning). ----
    "q_ivf_index" -> ((s, dir) => {
      import s.implicits._
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(embs, "vec_id", "embedding", k = 16, iters = 2)
      val work = graft.sources.BucketedTables.scratchDir("graft_ivf_idx_").toString
      Similarity.writeIvfIndex(embs, "vec_id", "embedding", centroids, s"$work/index")
      Similarity.writeCentroids(s, centroids, s"$work/centroids")
      val loaded = Similarity.readCentroids(s, s"$work/centroids")
      val queries = embs.where(col("vec_id") < 3)
      // persist both result sets: count + intersect + count below are four
      // actions that would otherwise each re-run the full topK (index scan
      // included) — the witness needs the rows, not four recomputes
      val fromIndex = Similarity.ivfTopKFromIndex(s, queries, s"$work/index",
        "vec_id", "embedding", k = 5, loaded, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      val direct = Similarity.ivfTopK(queries, embs, "vec_id", "embedding",
        k = 5, centroids, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      // materialize the two independent witness legs CONCURRENTLY (r15,
      // guide §2.6) — each leg's straggler tail back-fills with the other's
      val Seq(nIdx, nMem) = graft.operators.Maintenance.parallelSweep(
        Seq(fromIndex, direct), "q_ivf_index witness legs")(_.count())
      val same = nIdx == nMem && fromIndex.intersect(direct).count() == nIdx
      fromIndex.unpersist(); direct.unpersist()
      val probed = queries.select(explode(graft.functions.VectorExpressions
          .centroid_probes(col("embedding"), loaded, 2)).as("cid"))
        .distinct().collect().map(_.getInt(0)).toSeq
      Seq((3, 5, same, prunedScanOk(s, s"$work/index", probed)))
        .toDF("n_queries", "k", "same_as_inmem", "pruned_scan")
    }),

    // ---- ANN: QUANTIZED IVF serving layout — int8 codes + per-vector
    //      scale in the partitioned index (the RAM-resident shape at
    //      100 TB), approx ranking on raw codes (cosine is
    //      scale-invariant), exact re-rank of the k×4 shortlist against
    //      the full-precision corpus. Witnesses: result ≡ the exact
    //      in-memory IVF path, the scan is partition-pruned, and the
    //      quantized index is smaller on disk than the float one.
    //      Spark-side measured booleans, honestly labeled (oracle row is
    //      the expected literal). ----
    "q_ivf_quant" -> ((s, dir) => {
      import s.implicits._
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(embs, "vec_id", "embedding", k = 16, iters = 2)
      val work = graft.sources.BucketedTables.scratchDir("graft_ivf_q_").toString
      Similarity.writeIvfIndex(embs, "vec_id", "embedding", centroids, s"$work/full")
      Similarity.writeIvfIndexQuantized(embs, "vec_id", "embedding", centroids, s"$work/quant")
      val queries = embs.where(col("vec_id") < 3)
      val fromQuant = Similarity.ivfTopKFromQuantizedIndex(s, queries, s"$work/quant",
        embs, "vec_id", "embedding", k = 5, centroids, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      val direct = Similarity.ivfTopK(queries, embs, "vec_id", "embedding",
        k = 5, centroids, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      // concurrent witness-leg materialization (r15, guide §2.6)
      val Seq(nQ, nMem) = graft.operators.Maintenance.parallelSweep(
        Seq(fromQuant, direct), "q_ivf_quant witness legs")(_.count())
      val same = nQ == nMem && fromQuant.intersect(direct).count() == nQ
      fromQuant.unpersist(); direct.unpersist()
      val probed = queries.select(explode(graft.functions.VectorExpressions
          .centroid_probes(col("embedding"), centroids, 2)).as("cid"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val smaller = dirBytes(s, s"$work/quant") < dirBytes(s, s"$work/full")
      Seq((3, 5, same, prunedScanOk(s, s"$work/quant", probed), smaller))
        .toDF("n_queries", "k", "same_as_inmem", "pruned_scan", "index_smaller")
    }),

    // ---- ANN index MAINTENANCE loop (the serving-operations story): a
    //      versioned IVF store — generation build + atomic _CURRENT flip,
    //      map-only append of an increment, a replayed (duplicate) append
    //      repaired by per-partition compaction, drift stats off the index
    //      itself — then served top-k compared against the in-memory IVF
    //      path over the merged corpus. Probing still prunes partitions
    //      after append+compaction. ----
    "q_ivf_append" -> ((s, dir) => {
      import s.implicits._
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(embs, "vec_id", "embedding", k = 16, iters = 1)
      val root = graft.sources.BucketedTables.scratchDir("graft_ivf_store_").toString
      val base = embs.where(col("vec_id") % 5 =!= 0)
      val increment = embs.where(col("vec_id") % 5 === 0)
      IvfIndexStore.writeGeneration(s, base, "vec_id", "embedding", centroids, root)
      IvfIndexStore.append(s, increment, "vec_id", "embedding", root)
      IvfIndexStore.append(s, increment, "vec_id", "embedding", root) // at-least-once replay
      val gen = IvfIndexStore.currentGeneration(s, root).get
      val idxPath = IvfIndexStore.indexPath(root, gen)
      // one-pass witnesses (r15, guide §1.2 "don't compute things twice"):
      // count vs distinct-count in a single aggregate instead of two full
      // scans of the index per witness — same booleans
      def uniqueWitness(): (Long, Long) = {
        val r = s.read.parquet(idxPath)
          .agg(count(lit(1)), countDistinct(col("vec_id"))).first()
        (r.getLong(0), r.getLong(1))
      }
      val preCompact = uniqueWitness()
      val dupsSeeded = preCompact._1 > preCompact._2
      IvfIndexStore.compactGeneration(s, root)
      val postCompact = uniqueWitness()
      val compacted = postCompact._1 == postCompact._2
      val queries = embs.where(col("vec_id") < 3)
      val served = IvfIndexStore.topK(s, queries, root, k = 5, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      val direct = Similarity.ivfTopK(queries, embs, "vec_id", "embedding",
        k = 5, centroids, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      // concurrent witness-leg materialization (r15, guide §2.6)
      val Seq(nSrv, nMem) = graft.operators.Maintenance.parallelSweep(
        Seq(served, direct), "ivf served-vs-direct witness legs")(_.count())
      val same = nSrv == nMem && served.intersect(direct).count() == nSrv
      served.unpersist(); direct.unpersist()
      val statsTotal = IvfIndexStore.driftStats(s, root).agg(sum("n")).first().getLong(0)
      val statsOk = statsTotal == embs.count()
      val probed = queries.select(explode(graft.functions.VectorExpressions
          .centroid_probes(col("embedding"), centroids, 2)).as("cid"))
        .distinct().collect().map(_.getInt(0)).toSeq
      Seq((3, 5, same, dupsSeeded, compacted, statsOk, prunedScanOk(s, idxPath, probed)))
        .toDF("n_queries", "k", "same_as_inmem", "replay_dups_seeded",
          "compaction_restores_unique", "stats_cover_corpus", "pruned_scan")
    }),

    // ---- The IVF assignment expression itself, numerically: cid = argmax
    //      of dot(v, unit-centroid), ties to the LOWEST cid, top-2 probes
    //      in rank order. Centroids are the first 8 embedding rows (data-
    //      derived, no training), so DuckDB replays the exact ranking —
    //      the codegen CentroidProbes kernel is hash-gated on real ids
    //      instead of witness booleans. ----
    // ---- SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup —
    //      assignment via the oracle-replayed CentroidProbes kernel
    //      (data-derived literal centroids, as q_cluster_assign), exact
    //      within-cluster cosine at the q_embed_neardup threshold, dup
    //      graph closed by recursive CTE in DuckDB, min-id survivor.
    //      Any drift in assignment, pairing, closure or the survivor
    //      rule changes the id set. ----
    "q_semdedup" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents: Array[Array[Double]] = embs.where(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      Similarity.semDeDup(embs, "vec_id", "embedding", cents, threshold = 0.45)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- SemDeDup at nProbe = 2 (the boundary-recall knob): each doc
    //      joins its TWO nearest clusters' candidate sets, so dups split
    //      across a cluster boundary dedup too. Gateable for the same
    //      reason the nProbe = 1 assignment is: both engines compute the
    //      centroid scores with the identical operation order, so the
    //      top-2 cut (and its ties) lands identically. ----
    "q_semdedup2" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents: Array[Array[Double]] = embs.where(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      Similarity.semDeDup(embs, "vec_id", "embedding", cents, threshold = 0.45,
          nProbe = 2)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    "q_cluster_assign" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents: Array[Array[Double]] = embs.where(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      embs.select(col("vec_id"),
          posexplode(graft.functions.VectorExpressions
            .centroid_probes(col("embedding"), cents, 2)))
        .toDF("vec_id", "probe_rank", "cid")
        .orderBy(col("vec_id"), col("probe_rank"))
    }),

    // ---- FILTERED vector search (metadata predicate + ANN): the store
    //      carries payload columns, the predicate reaches the probed
    //      parquet scan as a pushed filter, and the filtered serve equals
    //      the same probed search over a pre-filtered in-memory corpus
    //      (same centroids → same probed clusters → identical rows). ----
    "q_ivf_filtered" -> ((s, dir) => {
      import s.implicits._
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(embs, "vec_id", "embedding", k = 16, iters = 1)
      val root = graft.sources.BucketedTables.scratchDir("graft_ivf_filt_").toString
      IvfIndexStore.writeGeneration(s, embs, "vec_id", "embedding", centroids, root,
        payloadCols = Seq("label"))
      val queries = embs.where(col("vec_id") < 3)
      val served = IvfIndexStore.topK(s, queries, root, k = 5, nProbe = 2,
          metadataFilter = Some(col("label") === 3))
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      // self-exclusion parity is free: a label≠3 query is absent from both
      // sides (filter vs pre-filtered corpus), a label=3 query is excluded
      // by id in both
      val direct = Similarity.ivfTopK(queries, embs.where(col("label") === 3),
          "vec_id", "embedding", k = 5, centroids, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .persist()
      // concurrent witness-leg materialization (r15, guide §2.6)
      val Seq(nSrv, nMem) = graft.operators.Maintenance.parallelSweep(
        Seq(served, direct), "ivf served-vs-direct witness legs")(_.count())
      val same = nSrv == nMem && served.intersect(direct).count() == nSrv
      val allMatch = served
        .join(embs.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
        .where(col("label") =!= 3).count() == 0
      served.unpersist(); direct.unpersist()
      val plan = IvfIndexStore.topK(s, queries, root, k = 5, nProbe = 2,
          metadataFilter = Some(col("label") === 3))
        .queryExecution.executedPlan.toString
      val pushed = plan.contains("PushedFilters: [") && plan.contains("label")
      Seq((3, 5, same, allMatch, pushed))
        .toDF("n_queries", "k", "same_as_prefiltered_inmem", "all_match_filter",
          "filter_pushed_to_scan")
    }),

    // ---- The index HEALTH numbers, numerically: per-cluster population
    //      and mean own-centroid cosine from a store built on the same
    //      data-derived literal centroids as q_cluster_assign. Retrain
    //      decisions hang off these stats — the oracle recomputes the
    //      assignment, the counts and the mean cosines from scratch.
    //      (mean_cos rounded to 6dp on both sides: partial-aggregation
    //      sum order differs between engines at ~1e-16.) ----
    "q_drift_stats" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents: Array[Array[Double]] = embs.where(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val root = graft.sources.BucketedTables.scratchDir("graft_ivf_stats_").toString
      IvfIndexStore.writeGeneration(s, embs, "vec_id", "embedding", cents, root)
      IvfIndexStore.driftStats(s, root)
        .select(col("cid"), col("n"), round(col("mean_cos"), 6).as("mean_cos"))
        .orderBy(col("cid"))
    }),

    // ---- ANN index SEMANTIC DEDUP (the embedding IncrementalDedup): a
    //      batch of new vectors dedups against the SERVED IVF store —
    //      corpus near-dups (cosine ≥ 0.95 to an indexed row) rejected,
    //      intra-batch components keep their min-id representative,
    //      survivors appended. The oracle brute-forces every batch×corpus
    //      and batch×batch cosine, so the probe recall, the self-match
    //      (excludeSelf=false) semantics and the component rule are all
    //      hash-gated on real ids. ----
    "q_ivf_dedup" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val corpus = embs.where(col("vec_id") % 5 =!= 0)
      val centroids = Similarity.trainCentroids(corpus, "vec_id", "embedding", k = 16, iters = 1)
      val root = graft.sources.BucketedTables.scratchDir("graft_ivf_dedup_").toString
      IvfIndexStore.writeGeneration(s, corpus, "vec_id", "embedding", centroids, root)
      val novel = embs.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val planted = corpus.where(col("vec_id") < 40)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      val negated = embs.where(col("vec_id") === 1)
        .select(transform(col("embedding"), x => -x).as("embedding"))
      val intraPair = negated.select(lit(300001L).as("vec_id"), col("embedding"))
        .unionByName(negated.select(lit(300002L).as("vec_id"), col("embedding")))
      val batch = novel.unionByName(planted).unionByName(intraPair)
      IvfIndexStore.dedupAppendBatch(s, batch, "vec_id", "embedding", root,
          threshold = 0.95)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- S2→P4: the ES-serving pivot path on WIRE input — typed decode →
    //      sections→`{section}_{prop}` map flatten (toPropsMap) →
    //      known-key pivot → numeric extraction (numericProps), aggregated
    //      per application. The oracle recomputes every pivoted value from
    //      the fixture formulas, so the nested-sections map flatten and the
    //      double-if-possible parse are hash-gated end to end. ----
    "q_jvmstats_pivot" -> ((s, dir) => {
      import graft.sources.FrameSource
      val typed = FrameSource.typedTable(
        FrameSource.decodeFramesFast(jvmWireFrames(s, dir)), "JVMSTATS_EVENT")
      val withMap = typed.withColumn("props", JvmStats.toPropsMap(col("sections")))
      JvmStats.pivotKnown(withMap, "props",
          Seq("heap_committed", "heap_used", "threads_count", "threads_total"))
        .withColumn("n_numeric", size(JvmStats.numericProps(col("props"))))
        .groupBy(col("application_id"))
        .agg(count(lit(1)).as("n"),
          max(col("heap_committed")).cast(LongType).as("max_heap_committed"),
          sum(col("heap_used")).cast(LongType).as("sum_heap_used"),
          max(col("threads_count")).cast(LongType).as("max_threads_count"),
          min(col("threads_total")).cast(LongType).as("min_threads_total"),
          max(col("n_numeric")).as("max_numeric_props"))
        .orderBy(col("application_id"))
    }),

    // ---- S2→P5→A3, the production heuristic chain on WIRE input: each
    //      events row is encoded as a JVMSTATS_EVENT frame whose body
    //      carries real sections (heap + threads, nested
    //      Section/Property PMessageList), every 7th row additionally as
    //      a GC_EVENT frame; both decode through
    //      envelope → proto_decode → JvmStats.heapProjection →
    //      HeuristicAggs.heapUsage — the reference's HDFS-reader path
    //      (ReaderFactory.java:126-170 feeding HeapUsage.java:22-95).
    //      The oracle recomputes the heuristic from the raw columns, so
    //      any drift in the nested-message decode breaks the hash. ----
    "q_jvmstats_chain" -> ((s, dir) => {
      import graft.sources.FrameSource
      val decoded = FrameSource.decodeFramesFast(jvmWireFrames(s, dir))
      val heapStats = JvmStats.heapProjection(
          FrameSource.typedTable(decoded, "JVMSTATS_EVENT"))
        .select(col("application_id"), col("attempt_id"), col("container_id"),
          col("heap_used"), col("heap_max"))
      val gcEvents = FrameSource.typedTable(decoded, "GC_EVENT")
        .select(col("application_id"), col("attempt_id"), col("container_id"),
          col("collector_name"))
      HeuristicAggs.heapUsage(heapStats, gcEvents)
        .withColumn("ratio", coalesce(col("ratio"), lit(-1L)))
        .orderBy("application_id", "attempt_id", "container_id")
    }),

    // ---- S2→A1/A2/A8 on WIRE input: one mixed GC_EVENT + FS_EVENT frame
    //      stream → typed decode → GCCause, G1 full-GC and FileHeuristic
    //      folds with their severity ladders, unioned into a common
    //      (heuristic, key, metric, extra, severity) shape — with
    //      q_jvmstats_chain (A3) and q_heuristic_locks (A6/A7) this
    //      closes the wire→heuristic matrix. Oracle recomputes every
    //      count/sum/severity from raw events columns. ----
    "q_gc_wire_chain" -> ((s, dir) => {
      import graft.sources.FrameSource
      val decoded = FrameSource.decodeFramesFast(gcFsWireFrames(s, dir))
      val gc = FrameSource.typedTable(decoded, "GC_EVENT")
      val fs = FrameSource.typedTable(decoded, "FS_EVENT")
      val a1 = HeuristicAggs.gcCause(gc)
        .select(lit("gc_cause").as("heuristic"), col("application_id"),
          col("attempt_id"), col("container_id"), col("flagged_gc").as("metric"),
          lit(0L).as("extra"), col("severity").cast(LongType).as("severity"))
      val a2 = HeuristicAggs.g1FullGc(gc)
        .select(lit("g1_full_gc").as("heuristic"), col("application_id"),
          col("attempt_id"), col("container_id"), col("major_gc").as("metric"),
          col("major_pause_ms").as("extra"),
          col("severity").cast(LongType).as("severity"))
      val a8 = HeuristicAggs.fileHeuristic(fs, maxCreatedFiles = 50L)
        .select(lit("files").as("heuristic"), col("application_id"),
          col("attempt_id"), lit("").as("container_id"), col("WRITE").as("metric"),
          col("READ").as("extra"), col("severity").cast(LongType).as("severity"))
      a1.unionByName(a2).unionByName(a8)
        .orderBy(col("heuristic"), col("application_id"), col("container_id"))
    }),

    // ---- Multimodal: VIDEO container metadata probing (ISO-BMFF box
    //      walk, pure byte arithmetic — the JDK ships no video decoder,
    //      so frames stay behind the documented stub, but the metadata
    //      layer a video corpus filters/routes on is REAL). Same
    //      writer-reader roundtrip discipline as the proto wire gates:
    //      Spark emits the published box layout from doc_id arithmetic,
    //      probes it back, and DuckDB recomputes every number. ----
    "q_video_probe" -> ((s, dir) => {
      import graft.multimodal.Mp4Probe
      Mp4Probe.probeVideos(Mp4Probe.mp4MediaFromDocs(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("ok"), col("duration_ms"),
          col("n_tracks").cast(LongType).as("n_tracks"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"))
        .orderBy(col("media_id"))
    }),

    // ---- Multimodal: the CROSS-MODAL gate — docs filtered by their
    //      media blob's REAL decode/probe across all FOUR container
    //      paths (byte-sniffed modality: PNG decode + min-dim floor,
    //      WAV parse + duration floor, MP4 probe + duration floor,
    //      MJPEG-AVI demux + duration floor), the stage-0 companion to
    //      TrainingPipeline.prepare. Every pass/fail reduces to doc_id
    //      arithmetic DuckDB replays. ----
    "q_media_gate" -> ((s, dir) => {
      import graft.multimodal.JdkMedia
      val docs = t(s, dir, "documents")
      JdkMedia.mediaQualityGate(docs, "doc_id", JdkMedia.mixedMediaFromDocs(docs),
          minImageDim = 3, minAudioMs = 30L, minVideoMs = 3000L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- Cross-modal PAIR curation, end to end: (image, caption) rows
    //      through decode-ok → caption quality (token bounds + phrase
    //      blocklist) → pHash-keyed near-dup collapse (keep the
    //      longest-captioned copy) → exact caption dedup, with every
    //      stage's ledger count gated. Solid PNGs collapse the image
    //      side to arithmetic: equal-channel luma v = (id%40)·6, so
    //      every same-class pair verifies at mean-gap 0 and every
    //      cross-class pair fails (gap ≥ 6 > tol 4) — the REAL chain
    //      (PNG decode, 32×32 luma grid, integer-DCT pHash, Manku
    //      banding, bucket join, mean verify, connected components,
    //      keep-best window, Aho–Corasick, token-count kernel) runs on
    //      the Spark side while DuckDB replays the survivor set from
    //      id arithmetic alone. id%13 images are corrupt bytes (decode
    //      gate), id%5 captions run short, id%11 captions carry the
    //      blocked phrase, id%3 pads vary the caption length the
    //      keep-best rule ranks on. ----
    "q_pair_curation" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{JdkMedia, PairCuration}
      val pairsDf = pairCurationFixture(s, dir)
      val (out, ledger) = PairCuration.curatePairsAudited(pairsDf, "pair_id",
        cfg = PairCuration.Config(minCaptionTokens = 4,
          blockPhrases = Seq("click here now")))
      val led = ledger.toMap
      out.select(col("pair_id"), col("caption"))
        .withColumn("led_input", lit(led("input")))
        .withColumn("led_decode", lit(led("image_decode")))
        .withColumn("led_quality", lit(led("caption_quality")))
        .withColumn("led_keepbest", lit(led("image_neardup_keep_best")))
        .withColumn("led_final", lit(led("final")))
        .orderBy(col("pair_id"))
    }),

    // ---- The PAIR RELEASE layer on q_pair_curation's fixture:
    //      survivors → pack-file blob externalization → manifest (count,
    //      caption tokens, caption/image crc32 sums over the
    //      pointer-RESOLVED bytes) → verified read-back. The oracle
    //      replays the survivor set and the released row/caption-token
    //      figures from id arithmetic; the crc round-trip (byte-exact
    //      images through the packs) rides as a measured witness. ----
    "q_pair_release" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{JdkMedia, PairCuration}
      import graft.operators.Manifests
      val pairsDf = pairCurationFixture(s, dir)
      val (out, _) = PairCuration.curatePairsAudited(pairsDf, "pair_id",
        cfg = PairCuration.Config(minCaptionTokens = 4,
          blockPhrases = Seq("click here now")))
      val survivors = pairsDf
        .join(out.select("pair_id"), Seq("pair_id"), "left_semi")
        .localCheckpoint(true)
      val work = graft.sources.BucketedTables.scratchDir("graft_prel_").toString
      // inlineMax 64 < any PNG here: every surviving blob goes through
      // the pack-pointer path
      PairCuration.writePairRelease(survivors, s"$work/rel", inlineMax = 64)
      val back = PairCuration.readPairRelease(s, s"$work/rel")
        .localCheckpoint(true)
      val stats = Manifests.strField(
        Manifests.read(s, s"$work/rel/_PAIRS.json").get, "pairs").split(":")
      val mismatches = back
        .select(col("pair_id"), crc32(col("image")).as("_c"),
          col("caption").as("_cap"))
        .join(survivors.select(col("pair_id"), crc32(col("image")).as("_c2"),
          col("caption").as("_cap2")), Seq("pair_id"))
        .where(col("_c") =!= col("_c2") || col("_cap") =!= col("_cap2"))
        .count()
      val roundtripOk = mismatches == 0 && back.count() == survivors.count()
      back.select(col("pair_id"), col("caption"))
        .withColumn("rel_n", lit(stats(0).toLong))
        .withColumn("rel_toks", lit(stats(1).toLong))
        .withColumn("roundtrip_ok", lit(roundtripOk))
        .orderBy(col("pair_id"))
    }),

    // ---- The INCREMENTAL pair store ([[IncrementalPairs]]): two
    //      micro-batches through the curation gates, batch 2 admitted
    //      against batch 1's banded pHash history (image leg) and its
    //      caption hash-pair history (caption leg), then a REPLAY of the
    //      committed batch 2 that must skip (high-water mark). Every
    //      pair's fate is id arithmetic: img class = id/2 (id%5==0 folds
    //      into (id/2)%60 — batch 2's deliberate image re-uses of
    //      batch 1 classes), caption class = id (id%7==0 folds into
    //      id%120 — deliberate caption re-uses), solid-luma images 2
    //      apart with meanTol 1.0 so ONLY identical classes match. The
    //      oracle replays the intra-batch keep-ones as windows and the
    //      two history legs as class-membership checks. ----
    "q_pair_incremental" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{IncrementalPairs, JdkMedia, PairCuration}
      def fixture(lo: Long, hi: Long) = graft.multimodal.Multimodal.fanOutIds(
        t(s, dir, "documents")
          .where(col("doc_id") >= lo && col("doc_id") < hi)).map { id =>
          val cls = (if (id % 5 == 0) (id / 2) % 60 else id / 2).toInt
          val cap = "inc cap c" + (if (id % 7 == 0) id % 120 else id) + " x y"
          (id, JdkMedia.solidPng(8, 8, cls * 2, cls * 2, cls * 2), cap)
        }.toDF("pair_id", "image", "caption")
      val work = graft.sources.BucketedTables.scratchDir("graft_incpairs_q_").toString
      val root = s"$work/store"
      val acc = s"$work/accepted"
      val cfg = PairCuration.Config(minCaptionTokens = 2, meanTol = 1.0)
      // foldEvery = 2: batch 1 triggers the minor fold, so the gate also
      // witnesses the L0 delta tier being absorbed into the partitioned
      // base (indexed_ok checks the pt dirs the fold creates)
      IncrementalPairs.processBatch(fixture(0, 120), 0L, root, acc, cfg = cfg,
        foldEvery = 2)
      val led = IncrementalPairs.processBatch(fixture(120, 240), 1L, root, acc,
        cfg = cfg, foldEvery = 2).toMap
      val replay = IncrementalPairs.processBatch(fixture(120, 240), 1L, root,
        acc, cfg = cfg, foldEvery = 2).toMap
      val replayOk = replay == Map("replay_skipped" -> 1L)
      // band-index witness (r14): the store is the partitioned layout —
      // stamp present, all three key tables + the caption Bloom live
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val indexedOk = IncrementalPairs.readLayout(s, root).isDefined &&
        Seq("history", "bands", "captions").forall { tbl =>
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$tbl")).exists(p =>
            p.isDirectory && p.getPath.getName.startsWith("pt="))
        } &&
        graft.operators.Manifests.read(s, s"$root/caption_bloom/_CURRENT").isDefined
      s.read.parquet(acc).select(col("pair_id"), col("caption"))
        .withColumn("img_dups", lit(led("history_image_dup")))
        .withColumn("cap_dups", lit(led("history_caption_dup")))
        .withColumn("replay_skip_ok", lit(replayOk))
        .withColumn("indexed_ok", lit(indexedOk))
        .orderBy(col("pair_id"))
    }),

    // ---- The COMPOSED pipeline, end to end: preClean (mojibake+NFC) →
    //      lineDedup → gopherRules → phrase blocklist → exact dedup →
    //      near-dup keep-best → decontaminate → hash split → temperature
    //      upsample, plus the RELEASE layer (writeRelease manifest
    //      figures + readRelease re-verification) — the one chain that
    //      was unit-only. Every doc's fate is a function of doc_id % 10:
    //      class 1 dies at gopher (3 words), class 2 at the phrase
    //      blocklist, class 3's odd member spells 'café' as mojibake and
    //      collapses into its clean twin at exact dedup ONLY IF preClean
    //      ran, class 4's near-twin pairs (Jaccard 0.75, equal quality →
    //      min id) collapse at keep-best, class 0 carries the eval
    //      8-gram and dies at decontamination, class 9 carries a
    //      repeated line that lineDedup must rewrite before anything
    //      hashes it, classes 5-8 survive untouched. The oracle replays
    //      the survivor set, every stage's ledger count, the split,
    //      the full upsample expansion (factors, fractional-copy
    //      selector, epochs) and the manifest's per-split row/token
    //      counts; the crc32-sum fingerprint (no crc32 in the oracle
    //      engine) is gated as a witness column — manifest vs an
    //      independent recomputation over the returned frame, plus the
    //      readRelease verification pass. ANY cross-stage drift — an
    //      order swap, a stage re-keying, a ledger miscount, a release
    //      figure off by one — breaks a gated column. ----
    "q_pipeline_full" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{Manifests, TrainingPipeline}
      val id = col("doc_id")
      val m = id % 10
      val p3 = ((id - 3) / 20).cast(LongType)
      val member3 = ((id - 3) / 10).cast(LongType) % 2
      val p4 = ((id - 4) / 20).cast(LongType)
      val member4 = ((id - 4) / 10).cast(LongType) % 2
      val text =
        when(m === 0, concat(lit("the deco and n"), id, lit(" p"), id % 3,
          lit(" evalg1 evalg2 evalg3 evalg4 evalg5 evalg6 evalg7 evalg8 r"),
          id, lit(" s"), id % 7, lit(" final")))
        .when(m === 1, concat(lit("the and w"), id % 2))
        .when(m === 2, concat(lit("the story and click here now prize g"),
          id % 4, lit(" waits today")))
        .when(m === 3, concat(lit("the solid and stable u"), p3,
          lit(" block text caf"),
          when(member3 === 0, lit("é")).otherwise(lit("Ã©")), p3))
        .when(m === 4, concat(lit("the river and mountain d"), p4,
          lit(" stone valley cloud tok"), p4,
          when(member4 === 0, lit("a")).otherwise(lit("b"))))
        .when(m === 9, concat(lit("promo banner\nthe grove and stone d"),
          id, lit(" walk\npromo banner")))
        .otherwise(concat(lit("the garden and flower d"), id,
          lit(" window seat light b"), m))
      val grp = when(m === 3 || m === 4, lit("mid"))
        .when(m === 9, lit("small")).otherwise(lit("big"))
      val docs = t(s, dir, "documents")
        .select(id, grp.as("grp"), text.as("text"))
      val eval = Seq((9000L,
        "evalg1 evalg2 evalg3 evalg4 evalg5 evalg6 evalg7 evalg8"))
        .toDF("doc_id", "text")
      val cfg = TrainingPipeline.Config(preClean = true, lineDedup = true,
        gopherRules = true, gopherMinWords = 5L, gopherMaxWords = 1000L,
        blockPhrases = Seq("click here now"), trainPct = 80,
        upsampleStrataCol = Some("grp"), upsampleTemperature = 0.5,
        upsampleMaxFactor = 4.0, upsampleSeed = 13L)
      val (out, ledger) = TrainingPipeline.prepareAudited(docs, "doc_id",
        "text", cfg, evalDocs = Some(eval))
      val led = ledger.toMap
      // release: manifest figures parsed back from the published JSON
      val work = graft.sources.BucketedTables.scratchDir("graft_release_").toString
      TrainingPipeline.writeRelease(out, s"$work/rel", ledger = ledger)
      val manifest = Manifests.read(s, s"$work/rel/_DATASET.json").get
      val splits = Manifests.strField(manifest, "splits")
      val stats = splits.split(",").map { part =>
        val f = part.split(":")
        f(0) -> (f(1).toLong, f(2).toLong, f(3).toLong) // (n, fp, toks)
      }.toMap
      // fingerprint witness: the manifest (computed from the read-back
      // files) must equal an independent recomputation over the frame we
      // hold — write→read drift or a crc/token miscount breaks this
      val recomputed = out.groupBy("split")
        .agg(count(lit(1)).as("n"), sum(crc32(col("text"))).as("fp"),
          sum(F.tokenCount(col("text")).cast(LongType)).as("toks"))
        .collect()
        .map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}:${r.getLong(3)}")
        .sorted.mkString(",")
      val fpMatch = recomputed == splits
      // the re-verification pass must accept its own release
      val readOk = TrainingPipeline.readRelease(s, s"$work/rel").count() == out.count()
      out.select(col("doc_id"), col("grp"), col("split"),
          col("epoch").cast(LongType).as("epoch"), md5(col("text")).as("h"))
        .withColumn("led_gopher", lit(led("gopher_rules")))
        .withColumn("led_phrase", lit(led("phrase_blocklist")))
        .withColumn("led_exact", lit(led("exact_dedup")))
        .withColumn("led_keepbest", lit(led("near_dup_keep_best")))
        .withColumn("led_decon", lit(led("decontaminated")))
        .withColumn("led_final", lit(led("final")))
        .withColumn("train_n", lit(stats("train")._1))
        .withColumn("train_toks", lit(stats("train")._3))
        .withColumn("val_n", lit(stats("val")._1))
        .withColumn("val_toks", lit(stats("val")._3))
        .withColumn("fp_match", lit(fpMatch))
        .withColumn("read_ok", lit(readOk))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // ---- F3/F4 on the WIRE: hasContainerId + hasFramework over the
    //      decoded typed table — container routing on the decoded header
    //      (reference GarmadonMessageFilters.java:31-37), the one filter
    //      predicate previously unit-only. Container ids derive from
    //      user_id % 5 in the fixture, so DuckDB reproduces the filtered
    //      per-application aggregate from raw events columns. ----
    "q_container_filter" -> ((s, dir) => {
      import graft.sources.FrameSource
      val gc = FrameSource.typedTable(
        FrameSource.decodeFramesFast(gcFsWireFrames(s, dir)), "GC_EVENT")
      gc.where(Filters.hasContainerId("container_2") && Filters.hasFramework("YARN"))
        .groupBy(col("application_id"))
        .agg(count(lit(1)).as("n"), sum(col("pause_time")).as("sum_pause"))
        .orderBy(col("application_id"))
    }),

    // ---- Multimodal blob plumbing in the ORACLE gate: deterministic
    //      "media" bytes (props JSON repeated eid%7+1 times, 8-63 B) →
    //      packBlobs (inline ≤ 16 B, larger blobs appended to
    //      per-partition pack files with (uri, offset, length) pointers —
    //      the cut splits the fixture both ways) → pointer table WRITTEN
    //      and read back (the materialization barrier resolveBlobs'
    //      contract requires: pack writers close at task end, so resolving
    //      over the lazy plan would race the open streams) → resolveBlobs
    //      (positioned reads) → per-path md5/byte-length aggregate, with
    //      the path taken from the ACTUAL ref presence in the pointer
    //      table. DuckDB recomputes every md5/byte count and derives the
    //      expected path from the size rule — a pack/resolve that corrupts
    //      bytes OR mis-externalizes breaks the hash. ----
    "q_multimodal_blobs" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      import Multimodal.{MediaMeta, MediaRow, PackedMediaRow}
      val work = BucketedTables.scratchDir("graft_mm_").toFile.getAbsolutePath
      val media = t(s, dir, "events").where(col("event_id") < 2000)
        .select(col("event_id"), col("props")).as[(Long, String)]
        .map { case (eid, props) =>
          val bytes = (props * ((eid % 7).toInt + 1)).getBytes("UTF-8")
          MediaRow(eid, bytes,
            MediaMeta("bin", (eid % 64).toInt + 1, (eid % 48).toInt + 1, 0L))
        }
      Multimodal.packBlobs(media, s"$work/packs", inlineMax = 16)
        .write.parquet(s"$work/packed")
      val packed = s.read.parquet(s"$work/packed")
      val resolved = Multimodal.resolveBlobs(packed.as[PackedMediaRow])
      resolved.toDF()
        .join(packed.select(col("media_id"), col("ref").isNotNull.as("external")),
          Seq("media_id"))
        .select(col("external"),
          length(col("content")).cast(LongType).as("n_bytes"),
          md5(col("content")).as("h"))
        .groupBy(col("external"))
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("sum_bytes"),
          countDistinct(col("h")).as("n_hashes"), min(col("h")).as("min_md5"))
        .orderBy(col("external"))
    }),

    // ---- Multimodal: the REAL image codec chain, numerically gated.
    //      Spark ENCODES a solid-color PNG per doc (dims/color by modular
    //      arithmetic on doc_id, javax.imageio — the JDK's own codec, no
    //      external libs), DECODES it back partition-parallel and emits
    //      the recovered dims + channel means; PNG is lossless and the
    //      fills are solid, so the means are exactly the fill color and
    //      DuckDB recomputes everything from the arithmetic alone. A
    //      codec regression (channel order, dim swap, premature
    //      truncation) breaks the hash. ----
    "q_image_decode" -> ((s, dir) => {
      import graft.multimodal.JdkMedia
      JdkMedia.decodeImages(JdkMedia.pngMediaFromDocs(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("ok"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          round(col("mean_r")).cast(LongType).as("r"),
          round(col("mean_g")).cast(LongType).as("g"),
          round(col("mean_b")).cast(LongType).as("b"))
        .orderBy(col("media_id"))
    }),

    // ---- Multimodal: MULTI-FRAME decode (animated GIF — the JDK's one
    //      multi-frame codec). Spark encodes a 1-3-frame solid-color GIF
    //      per doc (frame count, dims and per-frame colors by modular
    //      arithmetic), then walks every frame back out through the
    //      ImageReader sequence path; solid frames survive the GIF
    //      palette exactly, so DuckDB recomputes each frame's means from
    //      the arithmetic. A frame-enumeration bug (frame-0-only, frame
    //      order, off-by-one count) breaks the hash. ----
    "q_gif_frames" -> ((s, dir) => {
      import graft.multimodal.JdkMedia
      JdkMedia.decodeFrames(JdkMedia.gifMediaFromDocs(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("frame").cast(LongType).as("frame"), col("ok"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          round(col("mean_r")).cast(LongType).as("r"),
          round(col("mean_g")).cast(LongType).as("g"),
          round(col("mean_b")).cast(LongType).as("b"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // ---- Multimodal: cross-format image near-dup over DECODED content
    //      (aHash bucket + mean/centered-cosine verify). The solid-PNG
    //      fixture collapses the decision to pure arithmetic: every image
    //      is uniform, so all share aHash bucket 0 and a pair is emitted
    //      iff the BT.601 luma gap ≤ 4 — which DuckDB recomputes from
    //      doc_id alone. A decode drift, a wrong luma formula, a broken
    //      bucket join or a lost mean test all break the hash. Bounded to
    //      300 docs: the fixture is deliberately one big bucket (45k
    //      candidate pairs), the adversarial shape for the verify. ----
    "q_image_neardup" -> ((s, dir) => {
      import graft.multimodal.JdkMedia
      JdkMedia.imageNearDups(
          JdkMedia.pngMediaFromDocs(t(s, dir, "documents").where(col("doc_id") < 300)))
        .select(col("id_a"), col("id_b"),
          round(col("mean_gap")).cast(LongType).as("mean_gap"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Multimodal: the perceptual DCT hash (pHash), gated BIT-FOR-BIT.
    //      32×32 gradient PNGs whose every pixel derives from doc_id
    //      arithmetic (equal RGB channels ⇒ luma == the value exactly),
    //      so the oracle recomputes the full grid, the separable integer
    //      DCT over the SAME fixed-point cosine table (embedded as a
    //      VALUES list from the one Scala array), the lower-median
    //      threshold and all 63 hash bits. A decode drift, a basis-table
    //      mismatch, a median off-by-one or a bit-order slip breaks the
    //      hash. Bounded to 200 docs (the oracle's replay is a 200×1024
    //      pixel × 8-coefficient join). ----
    "q_image_phash" -> ((s, dir) => {
      import graft.multimodal.JdkMedia
      JdkMedia.imagePHashes(JdkMedia.gradientPngMediaFromDocs(
          t(s, dir, "documents").where(col("doc_id") < 200)))
        .select(col("media_id"), col("ok"), col("phash"))
        .orderBy(col("media_id"))
    }),

    // ---- Multimodal: the REAL audio codec chain (javax.sound.sampled),
    //      same gating idea as q_image_decode — constant-amplitude PCM
    //      WAVs from doc_id arithmetic, decoded back partition-parallel;
    //      round(rms·32768) recovers the amplitude EXACTLY (constant
    //      signal), frames/duration follow the arithmetic. ----
    "q_audio_decode" -> ((s, dir) => {
      import graft.multimodal.JdkMedia
      JdkMedia.decodeAudios(JdkMedia.wavMediaFromDocs(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("ok"),
          col("sample_rate").cast(LongType).as("sample_rate"),
          col("channels").cast(LongType).as("channels"),
          col("n_frames"), col("duration_ms"),
          round(col("rms") * 32768d).cast(LongType).as("amp_rec"))
        .orderBy(col("media_id"))
    }),

    // ---- Multimodal: cross-container AUDIO near-dup over decoded PCM
    //      (the audio seat of q_image_neardup, same banded-grid core).
    //      Constant-amplitude WAVs from doc_id arithmetic: every
    //      windowed-RMS grid is uniform, so a pair is emitted iff the
    //      amplitude gap ≤ 100 — pure arithmetic DuckDB recomputes. A
    //      PCM decode drift, an RMS formula error or a broken bucket
    //      join all break the hash. Bounded to 300 docs (deliberately
    //      one big hash bucket, the adversarial verify shape). ----
    "q_audio_neardup" -> ((s, dir) => {
      import graft.multimodal.JdkMedia
      JdkMedia.audioNearDups(
          JdkMedia.wavMediaFromDocs(t(s, dir, "documents").where(col("doc_id") < 300)))
        .select(col("id_a"), col("id_b"),
          round(col("mean_gap") * 32768d).cast(LongType).as("amp_gap"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Multimodal: REAL VIDEO frame decode — MJPEG-in-AVI, demuxed by
    //      the RIFF byte walk and decoded frame-by-frame with the JDK's
    //      own JPEG codec (AviMjpeg). Same writer-reader roundtrip
    //      discipline as q_gif_frames, with the JPEG-lossiness quantizer:
    //      fills sit at 16-bucket centers and the gate compares
    //      floor(mean/16) (decoded means wobble ≤ ±3, measured — 5 levels
    //      of margin), so DuckDB recomputes every frame's row from doc_id
    //      arithmetic alone. A demux bug (frame count/order), a dim drift
    //      or a channel swap breaks the hash. ----
    //      Bounded to 2000 docs: codec correctness doesn't scale with doc
    //      count (4× the sf0.01 coverage already) and the JPEG ENCODE side
    //      of the fixture dominates the gate's cost at sf0.1.
    "q_video_frames" -> ((s, dir) => {
      import graft.multimodal.AviMjpeg
      AviMjpeg.decodeVideoFrames(AviMjpeg.aviMediaFromDocs(
          t(s, dir, "documents").where(col("doc_id") < 2000)))
        .toDF()
        .select(col("media_id"), col("frame").cast(LongType).as("frame"), col("ok"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          floor(col("mean_r") / 16).cast(LongType).as("r16"),
          floor(col("mean_g") / 16).cast(LongType).as("g16"),
          floor(col("mean_b") / 16).cast(LongType).as("b16"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // ---- Multimodal: uncompressed-DIB AVI frames (`00db`,
    //      biCompression = 0) — LOSSLESS video pixels, so unlike the
    //      MJPEG gate above the oracle compares decoded channel means
    //      EXACTLY (no JPEG wobble, no /16 bucketing). Widths 3–8 cycle
    //      through every 4-byte DIB row-padding residue; decode is pure
    //      byte arithmetic, no codec. ----
    "q_video_dib" -> ((s, dir) => {
      import graft.multimodal.AviMjpeg
      AviMjpeg.decodeVideoFrames(AviMjpeg.aviDibMediaFromDocs(
          t(s, dir, "documents").where(col("doc_id") < 2000)))
        .toDF()
        .select(col("media_id"), col("frame").cast(LongType).as("frame"), col("ok"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("mean_r").cast(LongType).as("r"),
          col("mean_g").cast(LongType).as("g"),
          col("mean_b").cast(LongType).as("b"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // ---- Multimodal: VIDEO near-dup over DECODED frames (the video seat
    //      of q_image_neardup/q_audio_neardup, same banded-grid core; the
    //      per-video signature is the frame-mean luma grid). Gray-tone
    //      fixture: every frame of video id is the solid gray
    //      (id%8)·28+8 — equal channels ⇒ luma == the tone exactly —
    //      so videos pair iff they share id % 8: tone groups sit 28
    //      apart while JPEG wobble moves a measured mean ≤ 3, making
    //      meanTol 8 decisive with margin on both sides. The pair SET is
    //      pure id arithmetic (gap values are lossy, so only ids are
    //      emitted). Bounded to 300 docs — all uniform grids share one
    //      aHash bucket, the adversarial verify shape. ----
    "q_video_neardup" -> ((s, dir) => {
      import graft.multimodal.AviMjpeg
      AviMjpeg.videoNearDups(
          AviMjpeg.aviToneMediaFromDocs(t(s, dir, "documents").where(col("doc_id") < 300)),
          meanTol = 8.0)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Compressed-archive ingest (the WET/WARC shape): docs packed
    //      into 20 concatenated-gzip archives (member order = doc_id
    //      order within archive_id = doc_id % 20), then EXPLODED back by
    //      the RFC 1952 member walk with per-member CRC32/ISIZE
    //      verification (GzipArchives — the JDK's own reader fuses
    //      members and loses the record boundaries this recovers). The
    //      gate hashes every recovered member's bytes and its position:
    //      a boundary drift, a member reorder, a lost/fused record or a
    //      content corruption all break the hash; DuckDB recomputes
    //      md5/length/row_number from the raw text alone. ----
    "q_gzip_ingest" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.GzipArchives
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val archives = docs.groupByKey(_._1 % 20)
        .mapGroups { (aid, it) =>
          val recs = it.toSeq.sortBy(_._1).map(_._2.getBytes("UTF-8"))
          (aid, GzipArchives.buildArchive(recs))
        }
      GzipArchives.explodeArchives(archives)
        .toDF()
        .select(col("archive_id"),
          col("member_idx").cast(LongType).as("member_idx"), col("ok"),
          md5(col("content")).as("h"),
          length(col("content")).cast(LongType).as("n_bytes"))
        .orderBy(col("archive_id"), col("member_idx"))
    }),

    // ---- WARC/WET record parsing chained onto the REAL archive path:
    //      per-doc WET conversion records (version line + headers +
    //      Content-Length + payload) built by arithmetic, gzip'd into 20
    //      concatenated archives, split back by the RFC 1952 walker,
    //      then parsed into typed fields — the oracle recomputes every
    //      header value and the payload md5 from the arithmetic. ----
    "q_warc_ingest" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.{GzipArchives, WarcRecords}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val archives = docs.groupByKey(_._1 % 20)
        .mapGroups { (aid, it) =>
          val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
            val body = text.getBytes("UTF-8")
            (s"WARC/1.0\r\n" +
              s"WARC-Type: conversion\r\n" +
              s"WARC-Target-URI: http://ex.com/$id\r\n" +
              f"WARC-Date: 2026-01-${id % 28 + 1}%02dT00:00:00Z\r\n" +
              s"Content-Type: text/plain\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
          }
          (aid, GzipArchives.buildArchive(recs))
        }
      WarcRecords.parseMembers(GzipArchives.explodeArchives(archives))
        .select(col("archive_id"),
          col("member_idx").cast(LongType).as("member_idx"), col("ok"),
          col("warc_type"), col("target_uri"), col("warc_date"),
          col("content_length"), md5(col("body")).as("h"))
        .orderBy(col("archive_id"), col("member_idx"))
    }),

    // ---- The whole crawl front-end in ONE chain: HTML pages (built by
    //      arithmetic around the real text) wrapped in WET records,
    //      gzip'd into concatenated archives, RFC 1952-split, WARC-
    //      parsed, HTML-extracted — the oracle derives the final TEXT
    //      from the generating arithmetic, so a drift anywhere in the
    //      four-stage chain breaks the hash. ----
    "q_crawl_e2e" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.{GzipArchives, WarcRecords}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val archives = docs.groupByKey(_._1 % 10)
        .mapGroups { (aid, it) =>
          val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
            val html = s"<html><head><title>T$id</title>" +
              "<script>var x = '<p>1</p>';</script></head>" +
              s"<body><!-- nav --><p>$text</p><div>tail &amp; ${id % 7}" +
              "</div></body></html>"
            val body = html.getBytes("UTF-8")
            (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
              s"WARC-Target-URI: http://ex.com/$id\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
          }
          (aid, GzipArchives.buildArchive(recs))
        }
      WarcRecords.parseMembers(GzipArchives.explodeArchives(archives))
        .select(col("archive_id"), col("member_idx").cast(LongType).as("member_idx"),
          col("target_uri"),
          md5(graft.functions.TextExpressions.html_text(col("body"))).as("h"))
        .orderBy(col("archive_id"), col("member_idx"))
    }),

    // ---- Full-WARC HTTP responses: binary payloads (bytes flavor of the
    //      record parse), HTTP status/header parse, and CHARSET-aware
    //      body decode — utf-8 / iso-8859-1 / windows-1252 by doc_id % 3,
    //      with the doc_id % 5 slice declaring its charset ONLY in an
    //      HTML meta tag (the WHATWG sniff path) and the doc_id % 2 slice
    //      carrying trailing garbage the HTTP Content-Length must cut.
    //      The oracle derives status, charset and the DECODED text from
    //      the generating arithmetic — any drift in the byte-level
    //      header walk, the charset resolution order or the decode
    //      breaks the hash. ----
    "q_http_parse" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.{GzipArchives, HttpPayload, WarcRecords}
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
      val archives = docs.groupByKey(_ % 16)
        .mapGroups { (aid, it) =>
          val recs = it.toSeq.sorted.map { id =>
            val (label, cs) = (id % 3) match {
              case 0 => ("utf-8", java.nio.charset.StandardCharsets.UTF_8)
              case 1 => ("iso-8859-1", java.nio.charset.StandardCharsets.ISO_8859_1)
              case _ => ("windows-1252", java.nio.charset.Charset.forName("windows-1252"))
            }
            val mark = (id % 3) match { case 0 | 1 => "é"; case _ => "€" }
            val bodyText =
              (if (id % 5 == 0) "<meta charset=\"" + label + "\">" else "") +
                s"<p>doc $id $mark p${id % 100}</p>"
            val bodyBytes = bodyText.getBytes(cs)
            val status = if (id % 7 == 0) 404 else 200
            val ctHeader =
              if (id % 5 == 0) "text/html"
              else s"text/html; charset=$label"
            // the id % 11 slice rides Transfer-Encoding: chunked (with a
            // deliberately WRONG Content-Length the framing must
            // supersede); the id % 13 slice rides Content-Encoding: gzip
            // — both must be transparent to the decoded text
            val chunked = id % 11 == 0
            val gzipped = id % 13 == 0
            def gz(b: Array[Byte]): Array[Byte] = {
              val bo = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bo)
              g.write(b); g.close(); bo.toByteArray
            }
            def chunkFrame(b: Array[Byte]): Array[Byte] = {
              val bo = new java.io.ByteArrayOutputStream()
              val h = b.length / 2
              def part(off: Int, len: Int, ext: String): Unit = if (len > 0) {
                bo.write((java.lang.Integer.toHexString(len) + ext + "\r\n")
                  .getBytes("ISO-8859-1"))
                bo.write(b, off, len)
                bo.write("\r\n".getBytes("ISO-8859-1"))
              }
              part(0, h, ";x=1") // chunk extension must be ignored
              part(h, b.length - h, "")
              bo.write("0\r\n\r\n".getBytes("ISO-8859-1"))
              bo.toByteArray
            }
            val entity = {
              val enc = if (gzipped) gz(bodyBytes) else bodyBytes
              if (chunked) chunkFrame(enc) else enc
            }
            val framing =
              if (chunked) "Transfer-Encoding: chunked\r\nContent-Length: 3\r\n"
              else s"Content-Length: ${entity.length}\r\n"
            val encHeader = if (gzipped) "Content-Encoding: gzip\r\n" else ""
            val http = (s"HTTP/1.1 $status OK\r\n" +
              s"Content-Type: $ctHeader\r\n" + framing + encHeader +
              "X-Junk: ignored\r\n\r\n").getBytes("ISO-8859-1") ++
              entity ++
              (if (id % 2 == 0) "JUNK".getBytes("ISO-8859-1") else Array.emptyByteArray)
            (s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://ex.com/$id\r\n" +
              "Content-Type: application/http;msgtype=response\r\n" +
              s"Content-Length: ${http.length}\r\n\r\n").getBytes("ISO-8859-1") ++ http
          }
          (aid, GzipArchives.buildArchive(recs))
        }
      HttpPayload.parseResponses(
        WarcRecords.parseMembersBinary(GzipArchives.explodeArchives(archives)))
        .select(col("archive_id"),
          col("member_idx").cast(LongType).as("member_idx"), col("ok"),
          col("target_uri"), col("status"), col("mime"), col("charset"),
          md5(col("text")).as("h"),
          length(col("text")).cast(LongType).as("n_chars"))
        .orderBy(col("archive_id"), col("member_idx"))
    }),

    // ---- The MODERN crawl front-end in ONE chain: charset-encoded HTML
    //      (nav boilerplate + a content block carrying a non-ASCII mark
    //      that rides each encoding differently) wrapped in an HTTP
    //      response, wrapped in a binary WARC record, gzip'd, split,
    //      parsed, charset-decoded and boilerplate-cleaned — the oracle
    //      derives the one surviving content block from the generating
    //      arithmetic, so a drift in ANY of the five stages breaks the
    //      hash. ----
    "q_crawl_http_e2e" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.{GzipArchives, HttpPayload, WarcRecords}
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
      val archives = docs.groupByKey(_ % 12)
        .mapGroups { (aid, it) =>
          val recs = it.toSeq.sorted.map { id =>
            val (label, cs) = (id % 3) match {
              case 0 => ("utf-8", java.nio.charset.StandardCharsets.UTF_8)
              case 1 => ("iso-8859-1", java.nio.charset.StandardCharsets.ISO_8859_1)
              case _ => ("windows-1252", java.nio.charset.Charset.forName("windows-1252"))
            }
            val mark = (id % 3) match { case 0 | 1 => "é"; case _ => "€" }
            val html = "<div><a href=\"/n\">menu home login and more " +
              s"${id % 9}</a></div><p>it is the price $mark${id % 50} of the day</p>"
            val bodyBytes = html.getBytes(cs)
            val http = (s"HTTP/1.1 200 OK\r\n" +
              s"Content-Type: text/html; charset=$label\r\n" +
              s"Content-Length: ${bodyBytes.length}\r\n\r\n").getBytes("ISO-8859-1") ++
              bodyBytes ++
              (if (id % 2 == 0) "TRAILJUNK".getBytes("ISO-8859-1") else Array.emptyByteArray)
            (s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://ex.com/$id\r\n" +
              s"Content-Length: ${http.length}\r\n\r\n").getBytes("ISO-8859-1") ++ http
          }
          (aid, GzipArchives.buildArchive(recs))
        }
      val responses = HttpPayload.parseResponses(
        WarcRecords.parseMembersBinary(GzipArchives.explodeArchives(archives)))
      Boilerplate.clean(responses, "text", "content")
        .select(col("archive_id"),
          col("member_idx").cast(LongType).as("member_idx"),
          col("target_uri"), col("charset"),
          md5(col("content")).as("h"))
        .orderBy(col("archive_id"), col("member_idx"))
    }),

    // ---- DSIR importance resampling (data selection toward a target
    //      distribution): hashed-unigram generative models of the
    //      en-curated target slice and the raw corpus, per-doc log
    //      importance weights, top-50 cut under (score desc, id). Like
    //      q_bm25_log, the gate compares IDS + RANKS — the log-ratio
    //      doubles are projected away; bucket counts, smoothing and the
    //      whole selection replay in DuckDB. ----
    "q_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.where(col("lang") === "en" && col("doc_id") % 3 === 0)
      val w = ImportanceResampler.fitWeights(target, docs, numBuckets = 32)
      ImportanceResampler.selectTopK(docs, w, 50, "doc_id")
        .select(col("rank"), col("doc_id"))
        .orderBy(col("rank"))
    }),

    // ---- The BIGRAM-feature flavor (the paper's actual feature space):
    //      adjacent-pair buckets hashed into the same space as the
    //      unigrams, fit and scored through the identical chain. ----
    "q_dsir_bigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.where(col("lang") === "en" && col("doc_id") % 3 === 0)
      val w = ImportanceResampler.fitWeights(target, docs, numBuckets = 32,
        bigrams = true)
      ImportanceResampler.selectTopK(docs, w, 50, "doc_id")
        .select(col("rank"), col("doc_id"))
        .orderBy(col("rank"))
    }),

    // ---- The RESAMPLING flavor: the same weights perturbed by a
    //      deterministic Gumbel draw from the salted content fingerprint
    //      (the paper's importance resampling, replay-stable) — draw
    //      arithmetic, perturbed key and cut all replayed. ----
    "q_dsir_gumbel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.where(col("lang") === "en" && col("doc_id") % 3 === 0)
      val w = ImportanceResampler.fitWeights(target, docs, numBuckets = 32)
      ImportanceResampler.selectTopK(docs, w, 50, "doc_id",
        gumbelSeed = Some(7L))
        .select(col("rank"), col("doc_id"))
        .orderBy(col("rank"))
    }),

    // ---- The full production combination: bigram features AND the
    //      Gumbel resampling draw through one chain. ----
    "q_dsir_full" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.where(col("lang") === "en" && col("doc_id") % 3 === 0)
      val w = ImportanceResampler.fitWeights(target, docs, numBuckets = 32,
        bigrams = true)
      ImportanceResampler.selectTopK(docs, w, 50, "doc_id",
        gumbelSeed = Some(13L))
        .select(col("rank"), col("doc_id"))
        .orderBy(col("rank"))
    }),

    // ---- Z-order layout (Morton-curve clustering for two-dimensional
    //      file pruning — the write/compaction-time layout step that lets
    //      parquet min/max skipping serve predicates on EITHER key).
    //      The gate runs the WRITE path for real — docs range-partitioned
    //      + sorted on the interleaved code, written, read back — then
    //      emits each doc's Morton code, which DuckDB recomputes with the
    //      identical signed-64-safe shift/mask chain (a spread-step
    //      drift, a swapped operand or a lost row all break the hash).
    //      The locality/selectivity claims are measured in
    //      ZOrderLayoutSpec (per-file spans, candidate-file counts). ----
    "q_zorder" -> ((s, dir) => {
      import graft.operators.ZOrderLayout
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 1000).cast(LongType).as("a"),
        (col("doc_id") * 7 % 1000).cast(LongType).as("b"))
      val path = BucketedTables.scratchDir("graft_zq_").resolve("tbl").toString
      ZOrderLayout.writeZOrdered(docs, path, col("a"), col("b"), numFiles = 8)
      s.read.parquet(path)
        .select(col("doc_id"),
          ZOrderLayout.zValue(col("a"), col("b")).as("z"))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL BPE tokenizer, TRAINING cross-engine gated: the merge
    //      loop's determinism contract (frequency-weighted pair counts
    //      over the compressed vocab, ties to the lexicographically
    //      smallest pair, non-overlapping left-to-right replace) lets
    //      DuckDB replay all 8 ranks — each level recounts pairs over
    //      the previous level's vocabulary and takes the same argmax.
    //      A counting bug, a tiebreak drift or a replace-semantics
    //      mismatch at ANY rank cascades into every later rank and
    //      breaks the hash. ----
    "q_bpe_train" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Bpe
      Bpe.trainBpe(t(s, dir, "documents"), "text", numMerges = 24)
        .map(m => (m.rank.toLong, m.lhs, m.rhs))
        .toDF("rank", "lhs", "rhs")
        .orderBy(col("rank"))
    }),

    // ---- BPE training with NO vocab cap: the merge loop stays a
    //      DataFrame (one pair-count aggregate + one map-only replace
    //      per rank, the winner reaching the driver as a single
    //      TakeOrdered row) — must land the IDENTICAL 24 rules as the
    //      driver-loop flavor, so it shares q_bpe_train's oracle. ----
    "q_bpe_train_dist" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Bpe
      Bpe.trainBpeDistributed(t(s, dir, "documents"), "text", numMerges = 24)
        .map(m => (m.rank.toLong, m.lhs, m.rhs))
        .toDF("rank", "lhs", "rhs")
        .orderBy(col("rank"))
    }),

    // ---- BPE train→apply COMPOSITION: encode the corpus with the
    //      24 rules just trained on it (not a fixed chain) — the oracle
    //      re-derives the merges level-by-level AND replays the encode
    //      with them, so a drift in either half breaks the hash. ----
    "q_bpe_compose" -> ((s, dir) => {
      import graft.operators.Bpe
      val docs = t(s, dir, "documents")
      val rules = Bpe.trainBpe(docs, "text", numMerges = 24)
      Bpe.applyBpe(docs, "doc_id", rules)
        .select(col("id").as("doc_id"), col("n_tokens"),
          md5(col("tokens")).as("h"))
        .orderBy(col("doc_id"))
    }),

    // ---- 3-D Morton code (the (day, app, hour) layout seat): same
    //      write-path-in-the-loop discipline as q_zorder, three 21-bit
    //      keys interleaved, DuckDB replaying the identical mask/shift
    //      chain. ----
    "q_zorder3" -> ((s, dir) => {
      import graft.operators.ZOrderLayout
      t(s, dir, "documents")
        .select(col("doc_id"),
          ZOrderLayout.zValue3(
            col("doc_id") % 365, col("doc_id") * 7 % 1000,
            col("doc_id") % 24).as("z"))
        .orderBy(col("doc_id"))
    }),

    // ---- C4-style blocklist gate: map-only arrays_overlap against a
    //      literal token array (no explode, no shuffle, no join) — the
    //      survivor id set is trivially DuckDB-replayable. ----
    "q_blocklist" -> ((s, dir) => {
      TextAnalysis.blocklistFilter(t(s, dir, "documents"),
          Seq("spark", "vector", "window"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- URL canonicalization + dedup stats: raw URLs are BUILT from
    //      doc_id arithmetic exercising every rule (case, www, default
    //      ports incl. :443, tracking-param runs, trailing slashes,
    //      fragments), canonicalized by the codegen regexp chain, and
    //      grouped. The oracle does NOT replay the regexes — it derives
    //      the canonical form DIRECTLY from the arithmetic (ground
    //      truth), so any rule misfiring on any spelling breaks the
    //      group counts/hash. ----
    "q_url_canon" -> ((s, dir) => {
      import graft.functions.UrlCanon
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site"), (id % 5).cast("string"), lit(".COM"),
        when(id % 4 === 0, lit(":80"))
          .when(id % 4 === 3, lit(":443")).otherwise(lit("")),
        lit("/p/"), (id % 7).cast("string"),
        when(id % 6 === 0, lit("/")).otherwise(lit("")),
        when(id % 3 === 1, // 3 ADJACENT trackers — the run the old
          // fixed-two-pass strip left residue on; canonical is still ?x=
          concat(lit("?utm_source=a&utm_medium=m&gclid=g&x="),
            (id % 2).cast("string")))
          .when(id % 3 === 2,
            concat(lit("?x="), (id % 2).cast("string"),
              lit("&utm_campaign=c&fbclid=f")))
          // pure 4-tracker query: strips to NO query at all
          .when(id % 12 === 0, lit("?utm_a=1&utm_b=2&utm_c=3&gclid=x"))
          .otherwise(lit("")),
        when(id % 2 === 1, lit("#s")).otherwise(lit("")))
      UrlCanon.urlDedupStats(
          t(s, dir, "documents").select(col("doc_id")).withColumn("url", url),
          "doc_id", "url")
        .orderBy(col("canonical_url"))
    }),

    // ---- Multimodal: 8-bit PALETTIZED AVI frames, BOTH flavors in one
    //      gate — even doc_ids RLE8-compressed (biCompression = 1, runs +
    //      EOL/EOB escapes), odd ids uncompressed index rows. Decoded
    //      colors come out of the strf RGBQUAD palette, every value
    //      palette arithmetic the oracle replays exactly (lossless). ----
    "q_video_rle8" -> ((s, dir) => {
      import graft.multimodal.AviMjpeg
      AviMjpeg.decodeVideoFrames(AviMjpeg.aviPal8MediaFromDocs(
          t(s, dir, "documents").where(col("doc_id") < 2000)))
        .toDF()
        .select(col("media_id"), col("frame").cast(LongType).as("frame"), col("ok"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("mean_r").cast(LongType).as("r"),
          col("mean_g").cast(LongType).as("g"),
          col("mean_b").cast(LongType).as("b"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // ---- BM25 lexical retrieval, scores gated BIT-FOR-BIT: the log-free
    //      idf variant keeps the kernel inside IEEE basic ops (correctly
    //      rounded in every engine, unlike ln) and the per-doc fold sums
    //      term contributions in sorted term order — so DuckDB's doubles
    //      are bit-identical and the hash gate compares SCORES, not just
    //      ids. Query-term filter sits BEFORE the tf group (the shuffle
    //      carries hits only); dl is map-only; df/scalars broadcast. ----
    "q_bm25" -> ((s, dir) => {
      import graft.operators.Bm25
      Bm25.search(t(s, dir, "documents"), "doc_id",
          Seq("spark", "table", "join"), k = 20, logIdf = false)
        .select(col("doc_id"), col("score"))
        .orderBy(desc("score"), col("doc_id"))
    }),

    // ---- BM25, PRODUCTION log-idf flavor, gated by IDS + RANKS: ln is
    //      not bit-exact across libm implementations, so the gate
    //      compares the retrieved id set and order under the
    //      deterministic (score DESC, doc_id) tie-break instead of raw
    //      doubles. Safe because the fixture's adjacent top-20 score
    //      gaps are >= 7.7e-5 relative (measured, vs ~1e-16 ulp
    //      divergence), and the one exact tie has identical integer
    //      (tf, df, dl) inputs — both engines compute the identical ln
    //      and break it by doc_id the same way. ----
    "q_bm25_log" -> ((s, dir) => {
      import graft.operators.Bm25
      val top = Bm25.search(t(s, dir, "documents"), "doc_id",
        Seq("spark", "table", "join"), k = 20) // logIdf = true
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("score"), col("doc_id")) // 20 rows — trivial window
      top.withColumn("rank", row_number().over(w).cast(LongType))
        .select(col("rank"), col("doc_id"))
        .orderBy(col("rank"))
    }),

    // ---- BPE ENCODE gated over the corpus: a fixed 6-rule merge table
    //      (rank 4 consumes rank 1's output — sequencing is in the gate)
    //      applied by the distributed map-only encoder; DuckDB replays
    //      the identical padded-replace chain on the whole text with a
    //      '|' word-boundary symbol (absent from the corpus charset) and
    //      recomputes every doc's token count and joined-token md5. ----
    "q_bpe_apply" -> ((s, dir) => {
      import graft.operators.Bpe
      import graft.operators.Bpe.Merge
      val merges = Seq(Merge(0, "e", "r"), Merge(1, "a", "t"),
        Merge(2, "t", "h"), Merge(3, "s", "t"), Merge(4, "at", "a"),
        Merge(5, "l", "e"))
      Bpe.applyBpe(t(s, dir, "documents"), "doc_id", merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          md5(col("tokens")).as("h"))
        .orderBy(col("doc_id"))
    }),

    // ---- S2 capstone: EVERY typed body codec wire-gated in one row.
    //      500 rows × the 13 event types no other gate query decodes
    //      (PATH, STATE, APPLICATION, CONTAINER, SPARK stage/executor-
    //      state/storage/rdd, FLINK jm/tm/task/operator/kafka) — encode →
    //      envelope + typed proto decode → per-type count + integer
    //      checksum over the decoded numerics (+ a bool/list/double
    //      field each where the type has one) + a min string tag. Any
    //      drift in any field codec of any type breaks the hash. ----
    "q_wire_all_types" -> ((s, dir) => {
      import s.implicits._
      import graft.model.{EventModel, ProtoDescriptors => P}
      import graft.sources.FrameSource
      val frames = t(s, dir, "events").where(col("event_id") < 500)
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.flatMap { case (eid, tsMs) =>
            val header = P.header.encode(Seq(
              s"application_${eid % 20}", "1", "p", s"user_${eid % 7}",
              s"container_${eid % 5}", "h", "", "YARN", "EXECUTOR",
              "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
            def f(tpe: String, body: Array[Byte]) =
              (EventModel.encode(EventModel.Frame(
                EventModel.markerForName(tpe), tsMs, header, body)), eid)
            Seq(
              f("PATH_EVENT", P.pathEvent.encode(Seq(
                s"p_${eid % 97}", if (eid % 2 == 0) "FILE" else "DIR"))),
              f("STATE_EVENT", P.stateEvent.encode(Seq(s"S${eid % 5}"))),
              f("APPLICATION_EVENT", P.applicationEvent.encode(Seq(
                if (eid % 2 == 0) "RUNNING" else "FINISHED", "q", "", "",
                Seq(s"tag_${eid % 3}"), "", "", "", eid % 1009, eid % 503,
                "", 0L, 0L))),
              f("CONTAINER_EVENT", P.containerEvent.encode(Seq(
                s"ST${eid % 3}", "GUARANTEED", "", (eid % 7).toInt, 0L, 0L,
                eid % 2 == 0, s"h${eid % 4}", "", (eid % 31).toInt,
                (eid % 4096).toInt))),
              f("SPARK_STAGE_EVENT", P.sparkStageEvent.encode(
                Seq[Any](0L, s"sn${eid % 6}", s"${eid % 9}", "0", (eid % 13).toInt,
                  if (eid % 4 == 0) "FAILED" else "COMPLETED", "") ++
                // TaskMetrics 8-32: run_time (10) and input_records (29) set
                Seq.fill(2)(0L) ++ Seq(eid % 1000) ++ Seq.fill(18)(0L) ++
                Seq(eid % 50) ++ Seq.fill(3)(0L))),
              f("SPARK_EXECUTOR_STATE_EVENT", P.sparkExecutorStateEvent.encode(Seq(
                s"E${eid % 3}", "h", "", (eid % 6).toInt))),
              f("SPARK_EXECUTOR_STORAGE_STATUS_EVENT", P.sparkExecutorStorageStatus.encode(Seq(
                s"h${eid % 4}", 0L, eid % 4096, 0L, 0L, eid % 128, 0L, 0L,
                eid % 64, 0L))),
              f("SPARK_RDD_STORAGE_STATUS_EVENT", P.sparkRddStorageStatus.encode(Seq(
                s"rdd${eid % 5}", 0L, eid % 2048, eid % 32))),
              f("FLINK_JOB_MANAGER_EVENT", P.flinkJobManagerEvent.encode(Seq(
                eid % 9, eid % 11, eid % 13, eid % 17))),
              f("FLINK_TASK_MANAGER_EVENT", P.flinkTaskManagerEvent.encode(Seq(
                eid % 64, eid % 32))),
              f("FLINK_TASK_EVENT", P.flinkTaskEvent.encode(Seq(
                "j", s"job${eid % 3}", "t", "tn", "0",
                eid % 16, 0L, 0L, 0L, eid % 256, eid % 512, eid % 1024,
                0L, 0L, 0L, 0L, 0L,
                (eid % 10).toDouble, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                "0", eid % 100, 0L))),
              f("FLINK_OPERATOR_EVENT", P.flinkOperatorEvent.encode(Seq(
                "j", "jn", "t", "tn", "oid", s"op${eid % 5}", "0",
                eid % 200, 0L, 0L, 0L, 0L, 0L, eid % 29, 0L,
                (eid % 17).toDouble, 0.0, 0.0))),
              f("FLINK_KAFKA_CONSUMER_EVENT", P.flinkKafkaConsumerEvent.encode(Seq(
                "j", "jn", "t", "tn", "oid", "on", "0",
                s"t${eid % 3}", s"${eid % 8}", eid % 8191, eid % 4001))))
          }
        }.toDF("value", "offset")
      val decoded = FrameSource.decodeFramesFast(frames)
      def arm(tpe: String, num: Column, tag: Column,
              num2: Option[Column] = None): DataFrame =
        FrameSource.typedTable(decoded, tpe)
          .agg(count(lit(1)).as("n"),
            sum(num).cast(LongType).as("checksum"),
            num2.map(d => sum(d).cast(LongType)).getOrElse(max(lit(0L))).as("checksum2"),
            min(tag).as("tag"))
          .select(lit(tpe).as("event_type"), col("n"), col("checksum"),
            col("checksum2"), col("tag"))
      Seq(
        arm("PATH_EVENT", length(col("path")), col("type")),
        arm("STATE_EVENT", length(col("state")), col("state")),
        arm("APPLICATION_EVENT", col("memory_seconds") + col("vcore_seconds"),
          concat(col("state"), lit("|"), element_at(col("yarn_tags"), 1))),
        arm("CONTAINER_EVENT",
          col("vcores_reserved") + col("memory_reserved") + col("exit_status"),
          col("state"), Some(col("is_finished").cast(IntegerType))),
        arm("SPARK_STAGE_EVENT",
          col("executor_run_time") + col("num_tasks") + col("input_records"),
          col("status")),
        arm("SPARK_EXECUTOR_STATE_EVENT", col("task_failures"), col("state")),
        arm("SPARK_EXECUTOR_STORAGE_STATUS_EVENT",
          col("rdd_memory_used") + col("stream_memory_used") + col("broadcast_memory_used"),
          col("executor_hostname")),
        arm("SPARK_RDD_STORAGE_STATUS_EVENT",
          col("memory_used") + col("disk_used"), col("rdd_name")),
        arm("FLINK_JOB_MANAGER_EVENT",
          col("num_registered_task_managers") + col("num_running_jobs") +
            col("task_slots_available") + col("task_slots_total"),
          lit("-")),
        arm("FLINK_TASK_MANAGER_EVENT",
          col("network_total_memory_segments") + col("network_available_memory_segments"),
          lit("-")),
        arm("FLINK_TASK_EVENT",
          col("num_records_in") + col("num_records_out") + col("num_bytes_out") +
            col("current_input_watermark") + col("buffers_input_queue_length"),
          col("job_name"), Some(col("num_bytes_out_per_second"))),
        arm("FLINK_OPERATOR_EVENT",
          col("current_input_watermark") + col("commits_succeeded"),
          col("operator_name"), Some(col("records_lag_max"))),
        arm("FLINK_KAFKA_CONSUMER_EVENT",
          col("current_offsets") + col("committed_offsets"),
          concat(col("topic"), lit("-"), col("partition"))))
        .reduce(_ unionByName _)
        .orderBy(col("event_type"))
    }),

    // ---- S2→S5 on WIRE input: SPARK_TASK_EVENT + CONTAINER_MONITORING
    //      frames → typed decode → the dashboard panel layer (shuffle-read
    //      sums per status, peak-memory max per locality, YARN memory
    //      used) — gates the spark-task and container body codecs AND the
    //      generic panel primitives in one row. ----
    "q_spark_wire_panels" -> ((s, dir) => {
      import s.implicits._
      import graft.model.{EventModel, ProtoDescriptors}
      import graft.sources.FrameSource
      val localities = Array("PROCESS_LOCAL", "NODE_LOCAL", "ANY")
      val frames = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
        .transform(fanWire)
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.flatMap { case (eventId, userId, tsMs) =>
            val header = ProtoDescriptors.header.encode(Seq(
              s"application_${userId % 20}", "1", "graft_pipeline", s"user_${userId % 7}",
              s"container_${userId % 5}", s"host_${userId % 11}", "", "SPARK",
              "EXECUTOR", "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
            val taskBody = ProtoDescriptors.sparkTaskEvent.encode(Seq(
              0L, s"task_$eventId", s"stage_${eventId % 9}", "0", "h",
              if (eventId % 5 == 0) "FAILED" else "COMPLETED", "",
              0L, 0L, eventId % 1000, 0L, 0L, 0L, 0L, eventId % 100000,
              0L, 0L, 0L, 0L, 0L, 0L, eventId % 4096, 0L, 0L, 0L,
              0L, 0L, 0L, eventId % 50, 0L, 0L, 0L,
              "", localities((eventId % 3).toInt), 0))
            val ceBody = ProtoDescriptors.containerResourceEvent.encode(Seq(
              if (eventId % 2 == 0) "MEMORY" else "VCORE",
              1024L + userId % 2048, (eventId % 1000).toFloat))
            Seq(
              (EventModel.encode(EventModel.Frame(
                EventModel.markerForName("SPARK_TASK_EVENT"), tsMs, header, taskBody)), eventId),
              (EventModel.encode(EventModel.Frame(
                EventModel.markerForName("CONTAINER_MONITORING_EVENT"), tsMs, header, ceBody)), eventId))
          }
        }.toDF("value", "offset")
      val decoded = FrameSource.decodeFramesFast(frames)
      val tasks = FrameSource.typedTable(decoded, "SPARK_TASK_EVENT")
      val ce = FrameSource.typedTable(decoded, "CONTAINER_MONITORING_EVENT")
      val shuffleRead = serving.Dashboards.metricSeries(tasks,
          col("shuffle_read_total_bytes"), "sum", "1 hour", Seq(col("status")))
        .select(lit("shuffle_read").as("panel"), col("bucket_start"),
          col("status").as("grp"), col("v").cast(DoubleType).as("v"))
      val peakMem = serving.Dashboards.metricSeries(tasks,
          col("peak_execution_memory"), "max", "1 hour", Seq(col("locality")))
        .select(lit("peak_memory").as("panel"), col("bucket_start"),
          col("locality").as("grp"), col("v").cast(DoubleType).as("v"))
      val yarnMem = serving.Dashboards.containerMemory(ce, "1 hour")
        .select(lit("yarn_memory").as("panel"), col("bucket_start"),
          lit("MEMORY").as("grp"), col("used").cast(DoubleType).as("v"))
      shuffleRead.unionByName(peakMem).unionByName(yarnMem)
        .orderBy(col("panel"), col("bucket_start"), col("grp"))
    }),

    // ---- S2→P4→A6/A7 on WIRE input: JVMSTATS frames carrying
    //      synclocks/safepoints sections → proto_decode → props-map
    //      extraction → the Locks/Safepoints delta-rate heuristics with
    //      their severity ladders — the wire→heuristic chain the
    //      reference's HDFS reader runs for lock contention. The oracle
    //      recomputes counters, lag-window delta rates, truncation and
    //      severity from the raw events columns. ----
    "q_heuristic_locks" -> ((s, dir) => {
      import graft.sources.FrameSource
      val typed = FrameSource.typedTable(
        FrameSource.decodeFramesFast(lockWireFrames(s, dir)), "JVMSTATS_EVENT")
      val stats = typed
        .withColumn("props", JvmStats.toPropsMap(col("sections")))
        .select(col("application_id"), col("attempt_id"), col("container_id"),
          unix_millis(col("timestamp")).as("ts_millis"),
          element_at(col("props"), "synclocks_contendedlockattempts")
            .cast(LongType).as("contendedlockattempts"),
          element_at(col("props"), "safepoints_count")
            .cast(LongType).as("safepoint_count"))
      val l = HeuristicAggs.locks(stats).withColumn("heuristic", lit("locks"))
      val sp = HeuristicAggs.safepoints(stats).withColumn("heuristic", lit("safepoints"))
      l.unionByName(sp)
        .select(col("heuristic"), col("application_id"), col("attempt_id"),
          col("container_id"), col("max_rate"),
          col("severity").cast(LongType).as("severity"))
        .orderBy(col("heuristic"), col("application_id"), col("container_id"))
    }),

    // ---- S2/S3: full wire pipeline, end-to-end. Each events row is
    //      deterministically encoded as a garmadon FS_EVENT wire frame
    //      (proto3 header + body inside the 20-byte envelope), then decoded
    //      back through the engine's envelope + typed-protobuf path and
    //      aggregated. The oracle computes the same aggregate from the raw
    //      table directly — any divergence anywhere in the codec chain
    //      (varint, enum names, proto3 defaults, envelope layout) breaks
    //      the hash match. ----
    "q_wire_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.model.{EventModel, ProtoDescriptors}
      import graft.sources.FrameSource
      val rows = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
        .transform(fanWire).as[(Long, Long, String, Long)]
      val frames = rows.mapPartitions { it =>
        it.map { case (eventId, userId, eventType, tsMs) =>
          val header = ProtoDescriptors.header.encode(Seq(
            s"application_${userId % 50}", "1", "graft_pipeline", s"user_${userId % 7}",
            s"container_${eventId % 1000}", s"host_${userId % 11}", "", "YARN", "EXECUTOR",
            "", Seq("YARN_APPLICATION"), "", "", "", 0, ""))
          val body = ProtoDescriptors.fsEvent.encode(Seq(
            "", "", eventType.toUpperCase, "hdfs://root", eventId % 997,
            s"user_${userId % 7}", if (eventId % 10 == 0) "FAILURE" else "SUCCESS"))
          (EventModel.encode(EventModel.Frame(
            EventModel.markerForName("FS_EVENT"), tsMs, header, body)), eventId)
        }
      }.toDF("value", "offset")
      FrameSource.typedTable(FrameSource.decodeFramesFast(frames), "FS_EVENT")
        .groupBy(col("action"), col("status"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("method_duration_millis")).cast(LongType).as("sum_duration"),
          countDistinct(col("application_id")).as("apps"),
          min(unix_millis(col("timestamp"))).as("min_ts_ms"))
        .orderBy(col("action"), col("status"))
    })
  )

  // =================================================================
  // DuckDB oracle SQL — same column names, same ordering, same
  // deterministic arithmetic as the Spark recipes above.
  // =================================================================

  /** DuckDB brute-force SimHash: recomputes the portable polynomial token
    * hash (graft.functions.TextExpressions — two 31-bit poly hashes packed
    * into 62 bits, no 64-bit wraparound anywhere, so plain BIGINT SQL
    * reproduces it exactly), folds the per-bit ±1 counters, assembles the
    * signature, and emits all pairs with Hamming ≤ 3 — which Spark's
    * 4-quarter pigeonhole blocking finds with guaranteed recall.
    */
  /** DuckDB language-ID oracle generated from the SAME
    * [[graft.operators.LanguageProfiles.profiles]] the Spark operator
    * uses — one source of truth for the 12 profiles. Words are deduped
    * (isInCollection is set-membership; a duplicated profile word must not
    * double-count a token match in the join).
    */
  /** The BPE training replay: k chained levels, each recounting adjacent
    * symbol pairs over the previous level's vocabulary, taking the same
    * (count DESC, pair ASC) argmax, and applying it with the same padded
    * non-overlapping replace. Mirrors [[graft.operators.Bpe.trainBpe]]'s
    * determinism contract exactly.
    */
  /** The BPE training replay as a CTE chain prefix: `v0` (padded word
    * vocab with counts) then `(p_i, m_i, v_i)` per rank — shared by the
    * rank gate ([[bpeTrainOracle]]) and the train→apply composition gate
    * ([[bpeComposeOracle]]). Every CTE MATERIALIZED: each level
    * references its predecessor twice (pair count + replace), so
    * inlining would expand the base scan 2^k times — materialization
    * keeps the chain (and the gate's cost) linear in ranks.
    */
  /** The SemDeDup replay, parametric in the assignment depth: nProbe = 1
    * is the classic nearest-centroid cut, nProbe = 2 the boundary-recall
    * flavor. One generator so both gates share every other line.
    */
  private lazy val sampleKOracle: String =
    s"""WITH f AS (
       |  SELECT source, doc_id,
       |    (($fpSql + ${((3L % 1000000007L) + 1000000007L) % 1000000007L})
       |      * 2654435761 % 1000000007) AS sel
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source ORDER BY sel, doc_id) AS rk
       |  FROM f)
       |SELECT source, doc_id FROM r WHERE rk <= 7
       |ORDER BY source, doc_id""".stripMargin

  /** Replays [[graft.operators.LinearClassifier.trainPerceptron]] epoch
    * by epoch: the token-hash features (bias as bucket −1), then per
    * epoch margins from the previous weights, the misclassified docs'
    * per-bucket deltas, and the weight update — all integer arithmetic,
    * so the held-out scores must match the engine bit for bit.
    * MATERIALIZED is load-bearing: each epoch references the previous
    * weights twice (q_bpe_train's lesson — plain CTEs inline to 2^k
    * base scans).
    */
  // 8 ranks deep (was 4 — the materialized-CTE chain is linear in
  // epochs; the 4-epoch oracle measured 0.3 s, so depth is cheap)
  private lazy val perceptronOracle: String =
    perceptronOracleFor(voted = false, epochs = 8)
  private lazy val perceptronVotedOracle: String = perceptronOracleFor(voted = true)
  private lazy val perceptronBigramOracle: String =
    perceptronOracleFor(voted = false, bigrams = true, epochs = 3)

  /** The pHash fixed-point DCT basis as a SQL VALUES list `(k, n, v)` —
    * printed from [[graft.multimodal.JdkMedia.PHashCos]], the ONE array
    * both engines consume, so the oracle's DCT uses bit-identical basis
    * integers by construction.
    */
  private lazy val phashCosSql: String = {
    val rows = for {
      k <- 0 until 8
      n <- 0 until graft.multimodal.JdkMedia.PHashDim
    } yield s"($k, $n, ${graft.multimodal.JdkMedia.PHashCos(k)(n)})"
    rows.mkString(", ")
  }

  /** The portable token hash as SQL over an arbitrary expression —
    * polyHash over all codepoints, mult 131 mod 1e9+7
    * (Functions.portableTokenHash's exact arithmetic; lambda vars are
    * named hh/cp/ch so CTE names like `h` never capture).
    */
  private def thSql(x: String): String =
    s"(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[CAST(unicode(ch) AS BIGINT) FOR ch IN string_split($x, '')]), " +
      s"(hh, cp) -> (hh * 131 + cp) % 1000000007))"

  /** The hashed-feature bucket stream for a relation `src(doc_id, text)`
    * — unigram buckets, optionally fastText-style adjacent-pair buckets
    * into the same space.
    */
  private def bucketStreamSql(src: String, bigrams: Boolean): String = {
    val uni = s"""SELECT doc_id, ${thSql("t")} % 32 AS bucket FROM (
      |        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM $src)
      |      WHERE t <> ''""".stripMargin
    if (!bigrams) uni
    else uni + s"""
      |      UNION ALL
      |      SELECT doc_id,
      |        ((${thSql("lt[i]")} * 131 + ${thSql("lt[i+1]")})
      |          % 1000000007) % 32 AS bucket
      |      FROM (
      |        SELECT doc_id, lt, UNNEST(range(1, len(lt))) AS i FROM (
      |          SELECT doc_id,
      |            list_filter(string_split(text, ' '), t -> t <> '') AS lt
      |          FROM $src))""".stripMargin
  }

  private def perceptronOracleFor(voted: Boolean, bigrams: Boolean = false,
                                  epochs: Int = 4): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH lab AS MATERIALIZED (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, text
      |  FROM documents WHERE doc_id % 4 <> 0),
      |fy AS MATERIALIZED (
      |  SELECT f.doc_id, f.bucket, f.cnt, l.y FROM (
      |    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
      |      ${bucketStreamSql("lab", bigrams)}) GROUP BY doc_id, bucket
      |    UNION ALL
      |    SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM lab) f
      |  JOIN lab l USING (doc_id)),
      |w0 AS MATERIALIZED (
      |  SELECT CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS BIGINT) AS w
      |  WHERE FALSE)""".stripMargin
    for (e <- 1 to epochs) {
      sb ++= s""",
      |m$e AS MATERIALIZED (
      |  SELECT f.doc_id FROM fy f LEFT JOIN w${e - 1} w USING (bucket)
      |  GROUP BY f.doc_id, f.y
      |  HAVING f.y * SUM(f.cnt * COALESCE(w.w, 0)) <= 0),
      |d$e AS MATERIALIZED (
      |  SELECT f.bucket, SUM(f.y * f.cnt) AS d
      |  FROM fy f JOIN m$e USING (doc_id) GROUP BY f.bucket),
      |w$e AS MATERIALIZED (
      |  SELECT COALESCE(w.bucket, d.bucket) AS bucket,
      |    CAST(COALESCE(w.w, 0) + COALESCE(d.d, 0) AS BIGINT) AS w
      |  FROM w${e - 1} w FULL JOIN d$e d ON w.bucket = d.bucket)""".stripMargin
    }
    // voted flavor: score with Σ_e w_e — the integer-preserving averaged
    // perceptron (same epoch chain, summed at the end)
    val finalW = if (voted) {
      sb ++= ("""|,
        |wv AS MATERIALIZED (
        |  SELECT bucket, CAST(SUM(w) AS BIGINT) AS w FROM (
        |""".stripMargin +
        (1 to epochs).map(e => s"    SELECT * FROM w$e").mkString(" UNION ALL\n") +
        ") GROUP BY bucket)")
      "wv"
    } else s"w$epochs"
    sb ++= s""",
      |held AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
      |hf AS (
      |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
      |      ${bucketStreamSql("held", bigrams)}) GROUP BY doc_id, bucket
      |  UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM held),
      |sc AS (
      |  SELECT h.doc_id, CAST(SUM(h.cnt * COALESCE(w.w, 0)) AS BIGINT) AS score
      |  FROM hf h LEFT JOIN $finalW w USING (bucket) GROUP BY h.doc_id)
      |SELECT doc_id, score, CASE WHEN score > 0 THEN 1 ELSE -1 END AS pred
      |FROM sc ORDER BY doc_id""".stripMargin
    sb.toString
  }

  private def semDeDupOracle(nProbe: Int): String =
    s"""WITH RECURSIVE cents AS (
        |  SELECT CAST(vec_id AS INT) AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
        |  FROM embeddings WHERE vec_id < 8),
        |ncents AS (
        |  SELECT cid,
        |    list_transform(c, x -> x / sqrt(list_sum(list_transform(c, y -> y * y)))) AS cu
        |  FROM cents),
        |scored AS (
        |  SELECT e.vec_id, n.cid,
        |    list_sum(list_transform(
        |      list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), n.cu),
        |      pr -> pr[1] * pr[2])) AS s
        |  FROM embeddings e CROSS JOIN ncents n),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        |    FROM scored) rnk
        |  WHERE rk <= $nProbe),
        |p AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  JOIN embeddings a ON a.vec_id = x.vec_id
        |  JOIN embeddings b ON b.vec_id = y.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p2 -> CAST(p2[1] AS DOUBLE) * CAST(p2[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x2 -> CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |         x2 -> CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE))))) >= 0.45),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM p
        |        UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src),
        |comp AS (
        |  SELECT src AS vec_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src)
        |SELECT e.vec_id FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
        |WHERE c.component IS NULL OR c.component = e.vec_id
        |ORDER BY e.vec_id""".stripMargin

  private def bpeTrainChain(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS MATERIALIZED (
        |  SELECT ' ' || rtrim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS s, n FROM (
        |    SELECT w, count(*) AS n FROM (
        |      SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |    WHERE length(w) > 0 GROUP BY w) v)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT l[i] AS a, l[i+1] AS b, sum(n) AS cnt
        |  FROM (SELECT string_split(trim(s), ' ') AS l, n FROM v${i - 1}) q,
        |       unnest(range(1, len(q.l))) AS t(i)
        |  GROUP BY 1, 2),
        |m$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
        |v$i AS MATERIALIZED (SELECT replace(s,
        |    ' ' || (SELECT a FROM m$i) || ' ' || (SELECT b FROM m$i) || ' ',
        |    ' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ') AS s, n
        |  FROM v${i - 1})""".stripMargin)
    }
    sb.toString
  }

  private def bpeTrainOracle(k: Int): String =
    bpeTrainChain(k) + "\n" + (1 to k).map(i =>
      s"SELECT CAST(${i - 1} AS BIGINT) AS rank, (SELECT a FROM m$i) AS lhs, " +
        s"(SELECT b FROM m$i) AS rhs")
      .mkString("", "\nUNION ALL\n", "\nORDER BY rank")

  /** Train→apply COMPOSITION: encode every document with the merges the
    * training chain just learned (scalar subqueries on `m_i`), not a
    * fixed rule list — the `q_bpe_apply` replace chain with the '|' word
    * boundary (not in the corpus charset, so merges cannot cross words).
    */
  private def bpeComposeOracle(k: Int): String = {
    val sb = new StringBuilder(bpeTrainChain(k))
    sb.append(
      s""",
        |s0 AS MATERIALIZED (
        |  SELECT doc_id,
        |    ' ' || rtrim(regexp_replace(replace(text, ' ', '|'), '(.)', '\\1 ', 'g'))
        |      || ' ' AS s
        |  FROM documents)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |s$i AS MATERIALIZED (SELECT doc_id, replace(s,
        |    ' ' || (SELECT a FROM m$i) || ' ' || (SELECT b FROM m$i) || ' ',
        |    ' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ') AS s
        |  FROM s${i - 1})""".stripMargin)
    }
    sb.append(
      s"""
        |, fin AS (SELECT doc_id, trim(replace(s, ' | ', ' ')) AS toks FROM s$k)
        |SELECT doc_id,
        |  CAST(CASE WHEN toks = '' THEN 0
        |       ELSE len(string_split(toks, ' ')) END AS BIGINT) AS n_tokens,
        |  md5(toks) AS h
        |FROM fin ORDER BY doc_id""".stripMargin)
    sb.toString
  }

  private def languageIdOracle: String = {
    val prof = graft.operators.LanguageProfiles.profiles
    val rows = prof.toSeq.sortBy(_._1).flatMap { case (lang, ws) =>
      ws.distinct.map(w => s"('$lang', '${w.replace("'", "''")}')")
    }.mkString(", ")
    val fallback = prof.keys.max // the all-zero-scores argmax under (score, lang) ordering
    s"""WITH prof(lang, w) AS (VALUES $rows),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |scores AS (
       |  SELECT t.doc_id, p.lang, count(*) AS score
       |  FROM toks t JOIN prof p ON t.w = p.w GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, lang FROM scores
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) = 1)
       |SELECT d.doc_id, coalesce(b.lang, '$fallback') AS lang_pred
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  private def simhashOracle: String = {
    val bitSums = (0 until 62).map(j =>
      s"SUM(CASE WHEN (ph >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val assemble = (0 until 62).map(j =>
      s"(CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)").mkString(" | ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |hashed AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
       |      (h, c) -> (h * 131 + c) % 2147483647)
       |    | (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
       |      (h, c) -> (h * 137 + c) % 2147483629) << 31) AS ph
       |  FROM toks),
       |bits AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $assemble AS sh FROM bits)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.sh, b.sh)) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB rendition of [[TextAnalysis.portableFingerprint]] over `text` —
    * shared by every selector-based oracle so a formula change is made in
    * ONE place (plus the Scala expression).
    */
  /** The shared (image, caption) pair fixture of q_pair_curation AND
    * q_pair_release — ONE definition because the id%13/%5/%11/%3/%40
    * arithmetic is load-bearing for both DuckDB oracles; editing a copy
    * without the other would desynchronize a gate from its oracle.
    */
  private def pairCurationFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.JdkMedia
    graft.multimodal.Multimodal.fanOutIds(
      t(s, dir, "documents").where(col("doc_id") < 240)).map { id =>
        val v = ((id % 40) * 6).toInt
        val img =
          if (id % 13 == 0) "not an image payload".getBytes("UTF-8")
          else JdkMedia.solidPng(8, 8, v, v, v)
        val cap = "pair cap c" + (id % 7) +
          (if (id % 5 == 0) "" else " tail words") +
          (" pad" * (id % 3).toInt) +
          (if (id % 11 == 0) " click here now" else "")
        (id, img, cap)
      }.toDF("pair_id", "image", "caption")
  }

  // the CONTENT document fingerprint (acc·31 + polyHash(token), polyHash
  // = codepoint fold ·131, both mod 1e9+7) — the one arithmetic every
  // fingerprint-keyed oracle replays; empty tokens contribute 0 (DuckDB's
  // unicode('') is −1, hence the CASE guard)
  private val fpSql: String =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' '),
      |        t -> CASE WHEN t = '' THEN CAST(0 AS BIGINT)
      |             ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
      |               list_transform(string_split(t, ''),
      |                 ch -> CAST(unicode(ch) AS BIGINT))),
      |             (hh, cp) -> (hh * 131 + cp) % 1000000007) END)),
      |      (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** The DSIR replay: hashed-unigram bucket counts for the target slice
    * and the raw corpus (the same `bucketStreamSql` stream the
    * perceptron oracles use, D = 32), add-1-smoothed log-ratio weights,
    * per-doc score, (key desc, doc_id) top-50 — ids + ranks only, the
    * doubles never reach the hashed projection (Spark folds per-doc
    * scores in token order, DuckDB sums in group order; both land within
    * ulps, far inside the fixture's adjacent-rank gaps). The gumbel
    * flavor perturbs the key with the deterministic draw
    * `−ln(−ln((Knuth-mix(fp+seed)+1)/(p+2)))` replayed verbatim.
    */
  private def dsirOracleFor(gumbelSeed: Option[Long],
                            bigrams: Boolean = false): String = {
    val key = gumbelSeed match {
      case None => "COALESCE(sc.score, 0.0)"
      case Some(seed) =>
        val s = ((seed % 1000000007L) + 1000000007L) % 1000000007L
        s"""COALESCE(sc.score, 0.0)
           |      + (-ln(-ln((CAST((($fpSql + $s) * 2654435761) % 1000000007
           |          AS DOUBLE) + 1.0) / 1000000009.0)))""".stripMargin
    }
    s"""WITH tgt AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE lang = 'en' AND doc_id % 3 = 0),
       |rawd AS MATERIALIZED (SELECT doc_id, text FROM documents),
       |tc AS MATERIALIZED (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM (
       |    ${bucketStreamSql("tgt", bigrams)}) GROUP BY bucket),
       |rc AS MATERIALIZED (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM (
       |    ${bucketStreamSql("rawd", bigrams)}) GROUP BY bucket),
       |w AS MATERIALIZED (
       |  SELECT b.bucket,
       |    (ln(COALESCE(tc.c, 0) + 1.0)
       |       - ln((SELECT COALESCE(SUM(c), 0) FROM tc) + 32.0))
       |    - (ln(COALESCE(rc.c, 0) + 1.0)
       |       - ln((SELECT COALESCE(SUM(c), 0) FROM rc) + 32.0)) AS w
       |  FROM (SELECT UNNEST(range(0, 32)) AS bucket) b
       |  LEFT JOIN tc ON b.bucket = tc.bucket
       |  LEFT JOIN rc ON b.bucket = rc.bucket),
       |sc AS MATERIALIZED (
       |  SELECT f.doc_id, SUM(w.w) AS score
       |  FROM (${bucketStreamSql("rawd", bigrams)}) f
       |  JOIN w ON f.bucket = w.bucket
       |  GROUP BY f.doc_id),
       |scored AS (
       |  SELECT r.doc_id, $key AS key
       |  FROM rawd r LEFT JOIN sc ON r.doc_id = sc.doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT)
       |    AS rank, doc_id
       |FROM scored ORDER BY key DESC, doc_id LIMIT 50""".stripMargin
  }

  /** The salted Knuth-mixed selector of [[TextAnalysis.stratifiedSample]].
    * The seed is reduced mod p exactly as the operator does it
    * (TextAnalysis.scala `seedReduced`) — embedding the raw seed would make
    * the two renditions drift for any seed ≥ p (e.g. a timestamp) or < 0.
    */
  private def selectorSql(seed: Long): String = {
    val seedReduced = ((seed % 1000000007L) + 1000000007L) % 1000000007L
    s"(($fpSql + $seedReduced) * 2654435761 % 1000000007) % 10000"
  }

  def oracleSql: Map[String, String] = Map(

    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_minhash_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |         ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |            / len(list_distinct(list_concat(a.s, b.s))) END AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q_incremental_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
        |  FROM documents),
        |n AS (SELECT doc_id + 100000 AS new_id, s FROM sh WHERE doc_id < 100),
        |p AS (
        |  SELECT n.new_id, c.doc_id AS corpus_id,
        |    CASE WHEN len(list_distinct(list_concat(n.s, c.s))) = 0 THEN 0.0
        |         ELSE CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
        |            / len(list_distinct(list_concat(n.s, c.s))) END AS jaccard
        |  FROM n JOIN sh c ON TRUE)
        |SELECT new_id, corpus_id, jaccard FROM p WHERE jaccard >= 0.5
        |ORDER BY new_id, corpus_id""".stripMargin,

    // replay the Bloom filter as arithmetic: double-hashing positions
    // (h1 + j·h2 mod p mod m) per doc, history bit-set per shard, probe =
    // all 3 positions present — false positives and all. Seed 7 reduced
    // mod p = 7; second salt = (7 + 1315423911) % p = 315423911.
    "q_bloom_seen" ->
      s"""WITH f AS (
         |  SELECT doc_id, $fpSql AS fp FROM documents),
         |g AS (
         |  SELECT doc_id, fp % 4 AS shard,
         |    ((fp + 7) * 2654435761 % 1000000007) AS h1,
         |    (((fp + 315423911) * 2246822519) % 1000000006 + 1) AS h2
         |  FROM f),
         |hp AS (
         |  SELECT DISTINCT shard, ((h1 + u.j * h2) % 1000000007) % 1024 AS pos
         |  FROM g CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) u
         |  WHERE doc_id % 3 <> 0),
         |bp AS (
         |  SELECT doc_id, shard, ((h1 + u.j * h2) % 1000000007) % 1024 AS pos
         |  FROM g CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) u)
         |SELECT bp.doc_id, bool_and(hp.pos IS NOT NULL) AS maybe_seen
         |FROM bp LEFT JOIN hp ON hp.shard = bp.shard AND hp.pos = bp.pos
         |GROUP BY bp.doc_id ORDER BY bp.doc_id""".stripMargin,

    // same replay as q_bloom_seen over history ∪ appended batch (batch
    // text = text || ' zz'); probing both corpora proves the served
    // generation carries the append
    "q_bloom_serving" ->
      s"""WITH hsrc AS (
         |  SELECT text FROM documents WHERE doc_id % 3 <> 0
         |  UNION ALL
         |  SELECT text || ' zz' FROM documents WHERE doc_id % 7 = 0),
         |hf AS (SELECT $fpSql AS fp FROM hsrc),
         |hp AS (
         |  SELECT DISTINCT fp % 4 AS shard,
         |    ((((fp + 7) * 2654435761 % 1000000007)
         |      + u.j * (((fp + 315423911) * 2246822519)
         |                % 1000000006 + 1)) % 1000000007) % 1024 AS pos
         |  FROM hf CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) u),
         |psrc AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' zz' FROM documents
         |  WHERE doc_id % 7 = 0),
         |pf AS (SELECT doc_id, $fpSql AS fp FROM psrc),
         |bp AS (
         |  SELECT doc_id, fp % 4 AS shard,
         |    ((((fp + 7) * 2654435761 % 1000000007)
         |      + u.j * (((fp + 315423911) * 2246822519)
         |                % 1000000006 + 1)) % 1000000007) % 1024 AS pos
         |  FROM pf CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) u)
         |SELECT bp.doc_id, bool_and(hp.pos IS NOT NULL) AS maybe_seen
         |FROM bp LEFT JOIN hp ON hp.shard = bp.shard AND hp.pos = bp.pos
         |GROUP BY bp.doc_id ORDER BY bp.doc_id""".stripMargin,

    // identical contract to q_incremental_dedup — the Spark side differs
    // only in HOW it fetches (partitioned layout + pruned verify), which
    // must be output-lossless
    "q_sigpt_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
        |  FROM documents),
        |n AS (SELECT doc_id + 100000 AS new_id, s FROM sh WHERE doc_id < 100),
        |p AS (
        |  SELECT n.new_id, c.doc_id AS corpus_id,
        |    CASE WHEN len(list_distinct(list_concat(n.s, c.s))) = 0 THEN 0.0
        |         ELSE CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
        |            / len(list_distinct(list_concat(n.s, c.s))) END AS jaccard
        |  FROM n JOIN sh c ON TRUE)
        |SELECT new_id, corpus_id, jaccard FROM p WHERE jaccard >= 0.5
        |ORDER BY new_id, corpus_id""".stripMargin,

    "q_simhash_pairs" -> simhashOracle,

    "q_heuristic_g1gc" ->
      """SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |  '1' AS attempt_id,
        |  'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |  count(*) AS major_gc,
        |  CAST(sum(event_id % 400) AS BIGINT) AS major_pause_ms,
        |  3 AS severity
        |FROM events WHERE event_id % 21 = 0
        |GROUP BY 1, 2, 3
        |ORDER BY application_id, attempt_id, container_id""".stripMargin,

    "q_annotations" ->
      """SELECT * FROM (
        |  SELECT 1700000000000 + event_id AS ts_ms, 'YARN_APPLICATION' AS tags
        |  FROM events
        |  WHERE user_id % 50 = 7 AND event_id % 4 = 0
        |  ORDER BY ts_ms DESC LIMIT 100)
        |ORDER BY ts_ms""".stripMargin,

    "q_heuristic_codecache" ->
      """WITH agg AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |         max(event_id % 1000) AS peak,
        |         max(950 + user_id % 100) AS cache_max
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT application_id, attempt_id, container_id, peak, cache_max,
        |  CASE WHEN NOT (cache_max > peak
        |         AND (cache_max - peak) * 100 // cache_max >= 5)
        |       THEN 2 ELSE 0 END AS severity
        |FROM agg
        |ORDER BY application_id, attempt_id, container_id""".stripMargin,

    "q_heuristic_files" ->
      """SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |  '1' AS attempt_id,
        |  count(*) FILTER (WHERE event_id % 8 = 0) AS "READ",
        |  count(*) FILTER (WHERE event_id % 8 = 1) AS "WRITE",
        |  count(*) FILTER (WHERE event_id % 8 = 2) AS "RENAME",
        |  count(*) FILTER (WHERE event_id % 8 = 3) AS "DELETE",
        |  count(*) FILTER (WHERE event_id % 8 = 4) AS "APPEND",
        |  count(*) FILTER (WHERE event_id % 8 = 5) AS "ADD_BLOCK",
        |  count(*) FILTER (WHERE event_id % 8 = 6) AS "LIST_STATUS",
        |  count(*) FILTER (WHERE event_id % 8 = 7) AS "GET_CONTENT_SUMMARY",
        |  CASE WHEN count(*) FILTER (WHERE event_id % 8 = 1) > 500 THEN 3
        |       WHEN count(*) FILTER (WHERE event_id % 8 = 1) > 250 THEN 2
        |       WHEN count(*) FILTER (WHERE event_id % 8 = 1) > 50 THEN 1
        |       ELSE 0 END AS severity
        |FROM events GROUP BY 1, 2
        |ORDER BY application_id, attempt_id""".stripMargin,

    "q_flink_checkpoint" ->
      """SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |  'job_' || CAST(event_id % 7 AS VARCHAR) AS job_name,
        |  max(event_id * 131 % 1500000) AS max_checkpoint_ms,
        |  CASE WHEN max(event_id * 131 % 1500000) > 900000 THEN 3 ELSE 0 END AS severity
        |FROM events GROUP BY 1, 2
        |ORDER BY application_id, job_name""".stripMargin,

    "q_wire_union" ->
      """SELECT 'FS_EVENT' AS event_type, count(*) AS n,
        |  count(DISTINCT user_id % 50) AS apps,
        |  CAST(sum(event_id % 31) AS BIGINT) AS sum_dur,
        |  0 AS states
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT 'STATE_EVENT', count(*), count(DISTINCT user_id % 50),
        |  CAST(-1 AS BIGINT), count(DISTINCT event_id % 5)
        |FROM events WHERE event_id % 2 = 1
        |ORDER BY event_type""".stripMargin,

    "q_heuristic_threads" ->
      """WITH stats AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |         event_id % 100 AS thread_count,
        |         50 + event_id % 200 AS thread_total,
        |         event_id
        |  FROM events),
        |agg AS (
        |  SELECT application_id, attempt_id, container_id,
        |    max(thread_count) AS max_count,
        |    arg_max(thread_total, event_id) AS last_total
        |  FROM stats GROUP BY 1, 2, 3)
        |SELECT application_id, attempt_id, container_id, max_count, last_total,
        |  CASE WHEN last_total > 0 THEN max_count * 100 // last_total END AS ratio,
        |  CASE WHEN last_total = 0 OR max_count * 100 // last_total > 10 THEN 0
        |       WHEN max_count * 100 // last_total <= 0 THEN 2
        |       ELSE 1 END AS severity
        |FROM agg
        |ORDER BY application_id, attempt_id, container_id""".stripMargin,

    // Same relational recompute as q_heuristic_heap — the Spark side
    // differs by running the full wire codec (nested Section/Property
    // lists) before the heuristic, which the oracle does not need to
    // model: a decode drift surfaces as a value/hash mismatch.
    "q_jvmstats_pivot" ->
      """SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |  count(*) AS n,
        |  CAST(max(500 + user_id % 2048) AS BIGINT) AS max_heap_committed,
        |  CAST(sum(event_id % 1000) AS BIGINT) AS sum_heap_used,
        |  CAST(max(user_id % 64) AS BIGINT) AS max_threads_count,
        |  CAST(100 AS BIGINT) AS min_threads_total,
        |  6 AS max_numeric_props
        |FROM events GROUP BY 1 ORDER BY application_id""".stripMargin,

    "q_jvmstats_chain" ->
      """WITH heap AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |         max(event_id % 1000) AS peak,
        |         max(500 + user_id % 2048) AS "max"
        |  FROM events GROUP BY 1, 2, 3),
        |majors AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |         count(*) AS major_gc
        |  FROM events WHERE event_id % 7 = 0 AND event_id % 21 = 0
        |  GROUP BY 1, 2, 3)
        |SELECT h.application_id, h.attempt_id, h.container_id, h.peak, h."max",
        |  coalesce(m.major_gc, 0) AS major_gc,
        |  CASE WHEN h."max" > h.peak THEN (h."max" - h.peak) * 100 // h."max" ELSE -1 END AS ratio,
        |  CASE WHEN coalesce(m.major_gc, 0) > 0 OR h."max" <= h.peak THEN 0
        |       WHEN (h."max" - h.peak) * 100 // h."max" > 70 THEN 3
        |       WHEN (h."max" - h.peak) * 100 // h."max" > 50 THEN 2
        |       WHEN (h."max" - h.peak) * 100 // h."max" > 30 THEN 1
        |       ELSE 0 END AS severity
        |FROM heap h LEFT JOIN majors m
        |  ON h.application_id = m.application_id AND h.attempt_id = m.attempt_id
        |  AND h.container_id = m.container_id
        |ORDER BY h.application_id, h.attempt_id, h.container_id""".stripMargin,

    "q_heuristic_heap" ->
      """WITH heap AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |         max(event_id % 1000) AS peak,
        |         max(500 + user_id % 2048) AS "max"
        |  FROM events GROUP BY 1, 2, 3),
        |majors AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |         count(*) AS major_gc
        |  FROM events WHERE event_id % 7 = 0 AND event_id % 21 = 0
        |  GROUP BY 1, 2, 3)
        |SELECT h.application_id, h.attempt_id, h.container_id, h.peak, h."max",
        |  coalesce(m.major_gc, 0) AS major_gc,
        |  CASE WHEN h."max" > h.peak THEN (h."max" - h.peak) * 100 // h."max" ELSE -1 END AS ratio,
        |  CASE WHEN coalesce(m.major_gc, 0) > 0 OR h."max" <= h.peak THEN 0
        |       WHEN (h."max" - h.peak) * 100 // h."max" > 70 THEN 3
        |       WHEN (h."max" - h.peak) * 100 // h."max" > 50 THEN 2
        |       WHEN (h."max" - h.peak) * 100 // h."max" > 30 THEN 1
        |       ELSE 0 END AS severity
        |FROM heap h LEFT JOIN majors m
        |  ON h.application_id = m.application_id AND h.attempt_id = m.attempt_id
        |  AND h.container_id = m.container_id
        |ORDER BY h.application_id, h.attempt_id, h.container_id""".stripMargin,

    "q_dedup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |                / len(list_distinct(list_concat(a.s, b.s))) END >= 0.5),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same closure contract as q_dedup_groups — the Spark side differs only
    // in the CC algorithm (star contraction), which must label identically
    "q_cc_star" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |                / len(list_distinct(list_concat(a.s, b.s))) END >= 0.5),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_dedup_keep_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |                / len(list_distinct(list_concat(a.s, b.s))) END >= 0.5),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |scored AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
        |    len(string_split(d.text, ' ')) AS score
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY component ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_ivf_ann" ->
      "SELECT 20 AS n_queries, 5 AS k, TRUE AS recall_ok",

    "q_ivf_index" ->
      "SELECT 3 AS n_queries, 5 AS k, TRUE AS same_as_inmem, TRUE AS pruned_scan",

    "q_ivf_quant" ->
      """SELECT 3 AS n_queries, 5 AS k, TRUE AS same_as_inmem,
        |  TRUE AS pruned_scan, TRUE AS index_smaller""".stripMargin,

    "q_ivf_append" ->
      """SELECT 3 AS n_queries, 5 AS k, TRUE AS same_as_inmem,
        |  TRUE AS replay_dups_seeded, TRUE AS compaction_restores_unique,
        |  TRUE AS stats_cover_corpus, TRUE AS pruned_scan""".stripMargin,

    // exact replay of the CentroidProbes ranking: dot against the
    // unit-normalized centroid, DESC, ties to the lowest cid
    // assignment + within-cluster exact cosine + recursive closure +
    // min-id survivors, all recomputed from the embeddings table
    "q_semdedup" -> semDeDupOracle(1),

    // the nProbe = 2 flavor: identical replay with the top-2 assignment
    // cut (pairs sharing both probed clusters collapse in the UNION)
    "q_semdedup2" -> semDeDupOracle(2),

    "q_cluster_assign" ->
      """WITH cents AS (
        |  SELECT CAST(vec_id AS INT) AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
        |  FROM embeddings WHERE vec_id < 8),
        |ncents AS (
        |  SELECT cid,
        |    list_transform(c, x -> x / sqrt(list_sum(list_transform(c, y -> y * y)))) AS cu
        |  FROM cents),
        |scored AS (
        |  SELECT e.vec_id, n.cid,
        |    list_sum(list_transform(
        |      list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), n.cu),
        |      p -> p[1] * p[2])) AS s
        |  FROM embeddings e CROSS JOIN ncents n),
        |ranked AS (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        |  FROM scored)
        |SELECT vec_id, CAST(rk - 1 AS INT) AS probe_rank, cid
        |FROM ranked WHERE rk <= 2 ORDER BY vec_id, probe_rank""".stripMargin,

    "q_ivf_filtered" ->
      """SELECT 3 AS n_queries, 5 AS k, TRUE AS same_as_prefiltered_inmem,
        |  TRUE AS all_match_filter, TRUE AS filter_pushed_to_scan""".stripMargin,

    // recompute assignment + population + mean own-centroid cosine
    "q_drift_stats" ->
      """WITH cents AS (
        |  SELECT CAST(vec_id AS INT) AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
        |  FROM embeddings WHERE vec_id < 8),
        |ncents AS (
        |  SELECT cid, c,
        |    list_transform(c, x -> x / sqrt(list_sum(list_transform(c, y -> y * y)))) AS cu
        |  FROM cents),
        |scored AS (
        |  SELECT e.vec_id, n.cid,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_sum(list_transform(
        |      list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), n.cu),
        |      p -> p[1] * p[2])) AS s
        |  FROM embeddings e CROSS JOIN ncents n),
        |assign AS (
        |  SELECT vec_id, cid, v,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        |  FROM scored),
        |cosines AS (
        |  SELECT a.cid,
        |    list_sum(list_transform(list_zip(a.v, n.c), p -> p[1] * p[2]))
        |    / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(n.c, x -> x * x)))) AS cosv
        |  FROM assign a JOIN ncents n USING (cid) WHERE a.rk = 1)
        |SELECT cid, count(*) AS n, ROUND(avg(cosv), 6) AS mean_cos
        |FROM cosines GROUP BY cid ORDER BY cid""".stripMargin,

    // brute-force replay of the semantic-dedup decision: a batch doc is
    // accepted iff no corpus row reaches cosine 0.95 AND no smaller-id
    // batch doc does (single-pair fixture ⇒ pair rule ≡ component rule)
    "q_ivf_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id % 5 <> 0),
        |neg AS (
        |  SELECT list_transform(embedding, x -> -CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id = 1),
        |batch AS (
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, list_transform(embedding, x -> CAST(x AS DOUBLE))
        |  FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id < 40
        |  UNION ALL SELECT 300001, v FROM neg
        |  UNION ALL SELECT 300002, v FROM neg),
        |corp_hit AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM batch b JOIN corpus c ON
        |    list_sum(list_transform(list_zip(b.v, c.v), p -> p[1] * p[2]))
        |    / (sqrt(list_sum(list_transform(b.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(c.v, x -> x * x)))) >= 0.95),
        |self_hit AS (
        |  SELECT DISTINCT b2.vec_id
        |  FROM batch b1 JOIN batch b2 ON b1.vec_id < b2.vec_id AND
        |    list_sum(list_transform(list_zip(b1.v, b2.v), p -> p[1] * p[2]))
        |    / (sqrt(list_sum(list_transform(b1.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(b2.v, x -> x * x)))) >= 0.95)
        |SELECT vec_id FROM batch
        |WHERE vec_id NOT IN (SELECT vec_id FROM corp_hit)
        |  AND vec_id NOT IN (SELECT vec_id FROM self_hit)
        |ORDER BY vec_id""".stripMargin,

    // every resolved blob's md5 recomputed from the raw props string (the
    // pack/resolve round trip must reproduce the exact bytes); byte
    // lengths via octet_length over the UTF-8 encoding; `external` is the
    // packBlobs size rule (> inlineMax = 16) — the Spark side reports the
    // ACTUAL ref presence, so mis-externalization hash-mismatches
    "q_multimodal_blobs" ->
      """WITH m AS (
        |  SELECT event_id,
        |    repeat(props, CAST(event_id % 7 + 1 AS INT)) AS s
        |  FROM events WHERE event_id < 2000),
        |h AS (
        |  SELECT event_id,
        |    octet_length(encode(s)) > 16 AS external,
        |    CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
        |    md5(s) AS h
        |  FROM m)
        |SELECT external, count(*) AS n,
        |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
        |  count(DISTINCT h) AS n_hashes, min(h) AS min_md5
        |FROM h GROUP BY external ORDER BY external""".stripMargin,

    // the real-codec chain's expected output from the generating
    // arithmetic alone (PNG lossless + solid fill ⇒ means == fill color)
    "q_image_decode" ->
      """SELECT doc_id AS media_id, TRUE AS ok,
        |  (doc_id % 13) + 1 AS width,
        |  (doc_id % 7) + 1 AS height,
        |  doc_id % 251 AS r,
        |  (doc_id * 7) % 251 AS g,
        |  (doc_id * 31) % 251 AS b
        |FROM documents ORDER BY media_id""".stripMargin,

    // every animation frame's expected features from the generating
    // arithmetic: frame count = (id % 3) + 1, per-frame solid colors
    // follow the (id, frame) congruences — GIF palettes hold solid
    // colors exactly, so the decode is lossless
    "q_gif_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range((doc_id % 3) + 1)) AS frame
        |  FROM documents)
        |SELECT media_id, CAST(frame AS BIGINT) AS frame, TRUE AS ok,
        |  (media_id % 11) + 2 AS width,
        |  (media_id % 5) + 2 AS height,
        |  (media_id + 17 * frame) % 251 AS r,
        |  (media_id * 7 + 29 * frame) % 251 AS g,
        |  (media_id * 31 + 41 * frame) % 251 AS b
        |FROM f ORDER BY media_id, frame""".stripMargin,

    // the integer DCT replayed end-to-end: the 32×32 luma grid from the
    // gradient arithmetic, both separable passes over the SAME
    // fixed-point cosine table (phashCosSql — the Scala array printed as
    // VALUES), the 32nd-smallest-AC median, and the 63 bit positions
    "q_image_phash" ->
      s"""WITH cosv AS MATERIALIZED (
        |  SELECT * FROM (VALUES $phashCosSql) AS c(k, n, v)),
        |px AS MATERIALIZED (
        |  SELECT d.doc_id, yy.y, xx.x,
        |    CAST((d.doc_id % 32) + (d.doc_id % 4) * xx.x
        |      + ((3 * d.doc_id) % 4) * yy.y
        |      + 16 * ((xx.x + yy.y + d.doc_id) % 2) AS BIGINT) AS luma
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
        |  CROSS JOIN (SELECT UNNEST(range(0, 32)) AS x) xx
        |  CROSS JOIN (SELECT UNNEST(range(0, 32)) AS y) yy),
        |tpass AS MATERIALIZED (
        |  SELECT px.doc_id, cv.k AS v, px.y, SUM(cv.v * px.luma) AS tv
        |  FROM px JOIN cosv cv ON cv.n = px.x
        |  GROUP BY px.doc_id, cv.k, px.y),
        |f AS MATERIALIZED (
        |  SELECT tpass.doc_id, cu.k AS u, tpass.v,
        |    CAST(SUM(cu.v * tpass.tv) AS BIGINT) AS fc
        |  FROM tpass JOIN cosv cu ON cu.n = tpass.y
        |  GROUP BY tpass.doc_id, cu.k, tpass.v),
        |med AS (
        |  SELECT doc_id, fc AS m FROM (
        |    SELECT doc_id, fc,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY fc, u, v) AS rn
        |    FROM f WHERE NOT (u = 0 AND v = 0))
        |  WHERE rn = 32)
        |SELECT f.doc_id AS media_id, TRUE AS ok,
        |  CAST(SUM(CASE WHEN f.fc > med.m
        |    THEN (CAST(1 AS BIGINT) << CAST(u * 8 + v - 1 AS INT))
        |    ELSE 0 END) AS BIGINT) AS phash
        |FROM f JOIN med USING (doc_id)
        |WHERE NOT (u = 0 AND v = 0)
        |GROUP BY f.doc_id ORDER BY media_id""".stripMargin,

    // uniform images pair iff |Δ BT.601 luma| ≤ 4; luma = (77r+150g+29b)>>8
    // over the doc_id color arithmetic (non-negative, so >>8 is // 256)
    "q_image_neardup" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    (77 * (doc_id % 251) + 150 * ((doc_id * 7) % 251)
        |     + 29 * ((doc_id * 31) % 251)) // 256 AS luma
        |  FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  abs(a.luma - b.luma) AS mean_gap
        |FROM l a JOIN l b ON a.doc_id < b.doc_id
        |WHERE abs(a.luma - b.luma) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    // constant-amplitude PCM: duration = frames/8 ms at 8 kHz (integer —
    // frames*0.125 is exact in binary, so the engines agree), amplitude
    // recovered exactly from the RMS of a constant signal
    "q_audio_decode" ->
      """SELECT doc_id AS media_id, TRUE AS ok,
        |  8000 AS sample_rate, 1 AS channels,
        |  (doc_id % 400) + 100 AS n_frames,
        |  ((doc_id % 400) + 100) // 8 AS duration_ms,
        |  (doc_id * 37) % 32768 AS amp_rec
        |FROM documents ORDER BY media_id""".stripMargin,

    // modality = doc_id % 4; each modality's floor replayed from the
    // fixture arithmetic (audio duration_ms = frames // 8 at 8 kHz;
    // AVI duration = (id%3+1) frames x (id%9+1)*500 ms)
    "q_media_gate" ->
      """SELECT doc_id FROM documents
        |WHERE (doc_id % 4 = 0 AND (doc_id % 13) + 1 >= 3 AND (doc_id % 7) + 1 >= 3)
        |   OR (doc_id % 4 = 1 AND ((doc_id % 400) + 100) // 8 >= 30)
        |   OR (doc_id % 4 = 2 AND (doc_id % 9000) + 1000 >= 3000)
        |   OR (doc_id % 4 = 3 AND ((doc_id % 3) + 1) * ((doc_id % 9) + 1) * 500 >= 3000)
        |ORDER BY doc_id""".stripMargin,

    // the whole pair-curation chain from id arithmetic: decode fate
    // (id%13), caption string + token count ((id%7, id%5, id%3, id%11)
    // arithmetic), image class (id%40 — solid luma spacing 6 > tol 4 ⇒
    // components == classes), keep-best (max tokens, tie min id), exact
    // caption dedup (min id), and every stage's ledger count
    "q_pair_curation" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    'pair cap c' || CAST(doc_id % 7 AS VARCHAR)
        |      || (CASE WHEN doc_id % 5 = 0 THEN '' ELSE ' tail words' END)
        |      || repeat(' pad', CAST(doc_id % 3 AS INT))
        |      || (CASE WHEN doc_id % 11 = 0 THEN ' click here now' ELSE '' END)
        |      AS caption,
        |    doc_id % 40 AS img_class,
        |    3 + (CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 2 END) + (doc_id % 3)
        |      + (CASE WHEN doc_id % 11 = 0 THEN 3 ELSE 0 END) AS n_tok
        |  FROM documents WHERE doc_id < 240),
        |decoded AS (SELECT * FROM base WHERE doc_id % 13 <> 0),
        |qual AS (SELECT * FROM decoded
        |  WHERE doc_id % 11 <> 0 AND n_tok BETWEEN 4 AND 512),
        |coll AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY img_class ORDER BY n_tok DESC, doc_id) AS rn
        |  FROM qual) WHERE rn = 1),
        |fin AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY caption ORDER BY doc_id) AS rn2
        |  FROM coll) WHERE rn2 = 1)
        |SELECT doc_id AS pair_id, caption,
        |  (SELECT count(*) FROM base) AS led_input,
        |  (SELECT count(*) FROM decoded) AS led_decode,
        |  (SELECT count(*) FROM qual) AS led_quality,
        |  (SELECT count(*) FROM coll) AS led_keepbest,
        |  (SELECT count(*) FROM fin) AS led_final
        |FROM fin ORDER BY pair_id""".stripMargin,

    // the release figures from the same survivor arithmetic as
    // q_pair_curation: rel_n = survivor count, rel_toks = survivor
    // caption-token mass; the crc32 pack round-trip is a Spark-side
    // measured witness (oracle hardcodes TRUE)
    "q_pair_release" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    'pair cap c' || CAST(doc_id % 7 AS VARCHAR)
        |      || (CASE WHEN doc_id % 5 = 0 THEN '' ELSE ' tail words' END)
        |      || repeat(' pad', CAST(doc_id % 3 AS INT))
        |      || (CASE WHEN doc_id % 11 = 0 THEN ' click here now' ELSE '' END)
        |      AS caption,
        |    doc_id % 40 AS img_class,
        |    3 + (CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 2 END) + (doc_id % 3)
        |      + (CASE WHEN doc_id % 11 = 0 THEN 3 ELSE 0 END) AS n_tok
        |  FROM documents WHERE doc_id < 240),
        |decoded AS (SELECT * FROM base WHERE doc_id % 13 <> 0),
        |qual AS (SELECT * FROM decoded
        |  WHERE doc_id % 11 <> 0 AND n_tok BETWEEN 4 AND 512),
        |coll AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY img_class ORDER BY n_tok DESC, doc_id) AS rn
        |  FROM qual) WHERE rn = 1),
        |fin AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY caption ORDER BY doc_id) AS rn2
        |  FROM coll) WHERE rn2 = 1)
        |SELECT doc_id AS pair_id, caption,
        |  (SELECT count(*) FROM fin) AS rel_n,
        |  CAST((SELECT SUM(n_tok) FROM fin) AS BIGINT) AS rel_toks,
        |  TRUE AS roundtrip_ok
        |FROM fin ORDER BY pair_id""".stripMargin,

    // the incremental pair store from id arithmetic: intra-batch image
    // keep-one (min id per (batch, img class) — equal caption lengths)
    // then caption keep-one, batch 2 admitted only where neither class
    // appears among batch 1's admitted; the replay skip is a Spark-side
    // measured witness (oracle hardcodes TRUE)
    "q_pair_incremental" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 5 = 0 THEN (doc_id // 2) % 60
        |         ELSE doc_id // 2 END AS img_class,
        |    CASE WHEN doc_id % 7 = 0 THEN doc_id % 120
        |         ELSE doc_id END AS cap_class,
        |    doc_id // 120 AS b
        |  FROM documents WHERE doc_id < 240),
        |k1 AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY b, img_class ORDER BY id) AS rn FROM base)
        |  WHERE rn = 1),
        |k2 AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY b, cap_class ORDER BY id) AS rn2 FROM k1)
        |  WHERE rn2 = 1),
        |h AS (SELECT img_class, cap_class FROM k2 WHERE b = 0),
        |b2 AS (SELECT * FROM k2 WHERE b = 1),
        |imgdup AS (SELECT id FROM b2
        |  WHERE img_class IN (SELECT img_class FROM h)),
        |capdup AS (SELECT id FROM b2
        |  WHERE cap_class IN (SELECT cap_class FROM h)),
        |adm AS (
        |  SELECT id FROM k2 WHERE b = 0
        |  UNION ALL
        |  SELECT id FROM b2 WHERE id NOT IN (SELECT id FROM imgdup)
        |    AND id NOT IN (SELECT id FROM capdup))
        |SELECT a.id AS pair_id,
        |  'inc cap c' || CAST(CASE WHEN a.id % 7 = 0 THEN a.id % 120
        |    ELSE a.id END AS VARCHAR) || ' x y' AS caption,
        |  (SELECT count(*) FROM imgdup) AS img_dups,
        |  (SELECT count(*) FROM capdup) AS cap_dups,
        |  TRUE AS replay_skip_ok,
        |  TRUE AS indexed_ok
        |FROM adm a ORDER BY pair_id""".stripMargin,

    // the probed container facts from the generating arithmetic alone
    // (mvhd timescale fixed at 1000 ⇒ duration_ms == the stamped value)
    "q_video_probe" ->
      """SELECT doc_id AS media_id, TRUE AS ok,
        |  (doc_id % 9000) + 1000 AS duration_ms,
        |  (doc_id % 3) + 1 AS n_tracks,
        |  ((doc_id % 16) + 1) * 80 AS width,
        |  ((doc_id % 9) + 1) * 80 AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    // container_id = 'container_' || user_id % 5 in the wire fixture;
    // every event emits exactly one GC frame with pause = event_id % 500
    "q_container_filter" ->
      """SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |  count(*) AS n,
        |  CAST(sum(event_id % 500) AS BIGINT) AS sum_pause
        |FROM events
        |WHERE user_id % 5 = 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // constant signals ⇒ uniform RMS grids ⇒ pairs decided by the
    // amplitude gap alone, which the doc_id arithmetic reproduces
    "q_audio_neardup" ->
      """WITH a AS (
        |  SELECT doc_id, (doc_id * 37) % 32768 AS amp
        |  FROM documents WHERE doc_id < 300)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  abs(x.amp - y.amp) AS amp_gap
        |FROM a x JOIN a y ON x.doc_id < y.doc_id
        |WHERE abs(x.amp - y.amp) <= 100
        |ORDER BY id_a, id_b""".stripMargin,

    // every MJPEG frame's expected row from the generating arithmetic:
    // frame count = (id % 3) + 1, bucket-center colors recovered as
    // floor(mean/16) == the bucket index (JPEG wobble ≤ ±3 vs the
    // 8-offset center — see AviMjpeg.solidJpeg)
    "q_video_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range((doc_id % 3) + 1)) AS frame
        |  FROM documents WHERE doc_id < 2000)
        |SELECT media_id, CAST(frame AS BIGINT) AS frame, TRUE AS ok,
        |  ((media_id % 3) + 2) * 16 AS width,
        |  ((media_id % 2) + 2) * 16 AS height,
        |  (media_id + 17 * frame) % 14 AS r16,
        |  (media_id * 7 + 29 * frame) % 14 AS g16,
        |  (media_id * 31 + 41 * frame) % 14 AS b16
        |FROM f ORDER BY media_id, frame""".stripMargin,

    // both 8-bit palettized flavors (RLE8 + uncompressed) resolve through
    // the per-doc palette: frame f is solid at index (id+f)%16, whose
    // RGBQUAD the same arithmetic rebuilds — lossless, exact values
    "q_video_rle8" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range((doc_id % 3) + 1)) AS frame
        |  FROM documents WHERE doc_id < 2000),
        |p AS (SELECT media_id, frame, (media_id + frame) % 16 AS pi FROM f)
        |SELECT media_id, CAST(frame AS BIGINT) AS frame, TRUE AS ok,
        |  (media_id % 6) + 3 AS width,
        |  (media_id % 4) + 2 AS height,
        |  (media_id + 11 * pi) % 256 AS r,
        |  (media_id * 3 + 17 * pi) % 256 AS g,
        |  (media_id * 7 + 23 * pi) % 256 AS b
        |FROM p ORDER BY media_id, frame""".stripMargin,

    // the DIB flavor is lossless — decoded means equal the written fill
    // EXACTLY, so the oracle replays the raw color arithmetic unbucketed
    "q_video_dib" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range((doc_id % 3) + 1)) AS frame
        |  FROM documents WHERE doc_id < 2000)
        |SELECT media_id, CAST(frame AS BIGINT) AS frame, TRUE AS ok,
        |  (media_id % 6) + 3 AS width,
        |  (media_id % 4) + 2 AS height,
        |  (media_id + 17 * frame) % 256 AS r,
        |  (media_id * 7 + 29 * frame) % 256 AS g,
        |  (media_id * 31 + 41 * frame) % 256 AS b
        |FROM f ORDER BY media_id, frame""".stripMargin,

    // gray-tone videos pair iff they share id % 8 (tone spacing 28 vs
    // JPEG wobble <= 3 vs meanTol 8 — decisive on both sides)
    "q_video_neardup" ->
      """WITH v AS (SELECT doc_id FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM v a JOIN v b ON a.doc_id < b.doc_id
        |WHERE a.doc_id % 8 = b.doc_id % 8
        |ORDER BY id_a, id_b""".stripMargin,

    // every archive member's identity, order and exact bytes replayed
    // from the raw text: member_idx = rank of doc_id within its archive
    "q_gzip_ingest" ->
      """SELECT doc_id % 20 AS archive_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1
        |       AS BIGINT) AS member_idx,
        |  TRUE AS ok,
        |  md5(text) AS h,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents
        |ORDER BY archive_id, member_idx""".stripMargin,

    // every WARC header value and the payload md5 recomputed from the
    // generating arithmetic
    "q_warc_ingest" ->
      """SELECT doc_id % 20 AS archive_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1
        |       AS BIGINT) AS member_idx,
        |  TRUE AS ok,
        |  'conversion' AS warc_type,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    || 'T00:00:00Z' AS warc_date,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |  md5(text) AS h
        |FROM documents ORDER BY archive_id, member_idx""".stripMargin,

    // final text of the four-stage chain derived from arithmetic alone
    "q_crawl_e2e" ->
      """SELECT doc_id % 10 AS archive_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 10 ORDER BY doc_id) - 1
        |       AS BIGINT) AS member_idx,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  md5(text || chr(10)
        |    || 'tail & ' || CAST(doc_id % 7 AS VARCHAR)) AS h
        |FROM documents ORDER BY archive_id, member_idx""".stripMargin,

    // status, charset and the charset-DECODED body text all derived from
    // the generating arithmetic (chr(233) = 'é', chr(8364) = '€' — the
    // marks the three encodings carry differently on the wire)
    "q_http_parse" ->
      """SELECT doc_id % 16 AS archive_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1
        |       AS BIGINT) AS member_idx,
        |  TRUE AS ok,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status,
        |  'text/html' AS mime,
        |  CASE doc_id % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |    ELSE 'windows-1252' END AS charset,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN '<meta charset="'
        |        || (CASE doc_id % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |              ELSE 'windows-1252' END) || '">' ELSE '' END
        |    || '<p>doc ' || CAST(doc_id AS VARCHAR) || ' '
        |    || (CASE WHEN doc_id % 3 = 2 THEN chr(8364) ELSE chr(233) END)
        |    || ' p' || CAST(doc_id % 100 AS VARCHAR) || '</p>') AS h,
        |  CAST(length(CASE WHEN doc_id % 5 = 0 THEN '<meta charset="'
        |        || (CASE doc_id % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |              ELSE 'windows-1252' END) || '">' ELSE '' END
        |    || '<p>doc ' || CAST(doc_id AS VARCHAR) || ' '
        |    || (CASE WHEN doc_id % 3 = 2 THEN chr(8364) ELSE chr(233) END)
        |    || ' p' || CAST(doc_id % 100 AS VARCHAR) || '</p>') AS BIGINT)
        |    AS n_chars
        |FROM documents ORDER BY archive_id, member_idx""".stripMargin,

    // ids + ranks of the DSIR selection (see dsirOracleFor); measured
    // adjacent-key gaps in the top-60 at sf0.01: ≥ 5.5e-5, zero exact
    // ties — six orders of magnitude above any libm ulp divergence
    "q_dsir" -> dsirOracleFor(None),

    // the Gumbel-perturbed resampling flavor, draw replayed verbatim
    // (measured gaps ≥ 2.5e-5, zero ties)
    "q_dsir_gumbel" -> dsirOracleFor(Some(7L)),

    // the bigram-feature flavor: the adjacent-pair stream joins the
    // unigram stream in both count CTEs and the per-doc score
    // (measured gaps ≥ 1.0e-4, zero ties)
    "q_dsir_bigram" -> dsirOracleFor(None, bigrams = true),

    // bigram features + the Gumbel draw — the production combination
    "q_dsir_full" -> dsirOracleFor(Some(13L), bigrams = true),

    // the surviving content block of the five-stage chain (gzip → WARC
    // bytes → HTTP → charset decode → boilerplate clean) from arithmetic
    "q_crawl_http_e2e" ->
      """SELECT doc_id % 12 AS archive_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 12 ORDER BY doc_id) - 1
        |       AS BIGINT) AS member_idx,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  CASE doc_id % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |    ELSE 'windows-1252' END AS charset,
        |  md5('it is the price '
        |    || (CASE WHEN doc_id % 3 = 2 THEN chr(8364) ELSE chr(233) END)
        |    || CAST(doc_id % 50 AS VARCHAR) || ' of the day') AS h
        |FROM documents ORDER BY archive_id, member_idx""".stripMargin,

    // the Morton code replayed with the same signed-64-safe spread chain
    // (each mask keeps set bits below 62, so no BIGINT shift overflows)
    "q_zorder" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 1000 AS BIGINT) & 2147483647 AS a,
        |    CAST((doc_id * 7) % 1000 AS BIGINT) & 2147483647 AS b
        |  FROM documents),
        |s1 AS (SELECT doc_id, (a | (a << 16)) & 281470681808895 AS a,
        |         (b | (b << 16)) & 281470681808895 AS b FROM base),
        |s2 AS (SELECT doc_id, (a | (a << 8)) & 71777214294589695 AS a,
        |         (b | (b << 8)) & 71777214294589695 AS b FROM s1),
        |s3 AS (SELECT doc_id, (a | (a << 4)) & 1085102592571150095 AS a,
        |         (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
        |s4 AS (SELECT doc_id, (a | (a << 2)) & 3689348814741910323 AS a,
        |         (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
        |s5 AS (SELECT doc_id, (a | (a << 1)) & 6148914691236517205 AS a,
        |         (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
        |SELECT doc_id, a | (b << 1) AS z FROM s5 ORDER BY doc_id""".stripMargin,

    // the 3-way interleave with the same signed-64-safe mask chain
    "q_zorder3" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 365 AS BIGINT) & 2097151 AS a,
        |    CAST((doc_id * 7) % 1000 AS BIGINT) & 2097151 AS b,
        |    CAST(doc_id % 24 AS BIGINT) & 2097151 AS c
        |  FROM documents),
        |s1 AS (SELECT doc_id, (a | (a << 32)) & 8725724278095871 AS a,
        |  (b | (b << 32)) & 8725724278095871 AS b,
        |  (c | (c << 32)) & 8725724278095871 AS c FROM base),
        |s2 AS (SELECT doc_id, (a | (a << 16)) & 8725728556220671 AS a,
        |  (b | (b << 16)) & 8725728556220671 AS b,
        |  (c | (c << 16)) & 8725728556220671 AS c FROM s1),
        |s3 AS (SELECT doc_id, (a | (a << 8)) & 1157144660301377551 AS a,
        |  (b | (b << 8)) & 1157144660301377551 AS b,
        |  (c | (c << 8)) & 1157144660301377551 AS c FROM s2),
        |s4 AS (SELECT doc_id, (a | (a << 4)) & 1207822528635744451 AS a,
        |  (b | (b << 4)) & 1207822528635744451 AS b,
        |  (c | (c << 4)) & 1207822528635744451 AS c FROM s3),
        |s5 AS (SELECT doc_id, (a | (a << 2)) & 1317624576693539401 AS a,
        |  (b | (b << 2)) & 1317624576693539401 AS b,
        |  (c | (c << 2)) & 1317624576693539401 AS c FROM s4)
        |SELECT doc_id, a | (b << 1) | (c << 2) AS z
        |FROM s5 ORDER BY doc_id""".stripMargin,

    // survivors = docs whose token list misses every blocklisted word
    "q_blocklist" ->
      """SELECT doc_id FROM documents
        |WHERE len(list_intersect(string_split(text, ' '),
        |      ['spark', 'vector', 'window'])) = 0
        |ORDER BY doc_id""".stripMargin,

    // the canonical form derived from the ARITHMETIC (not a regex
    // replay): http(s)://site{id%5}.com/p/{id%7}[?x={id%2}]; raw
    // spellings rebuilt with the same concat for n_raw_forms
    "q_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://'
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || 'Site' || CAST(doc_id % 5 AS VARCHAR) || '.COM'
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':80'
        |             WHEN doc_id % 4 = 3 THEN ':443' ELSE '' END)
        |    || '/p/' || CAST(doc_id % 7 AS VARCHAR)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 1 THEN '?utm_source=a&utm_medium=m&gclid=g&x=' || CAST(doc_id % 2 AS VARCHAR)
        |             WHEN doc_id % 3 = 2 THEN '?x=' || CAST(doc_id % 2 AS VARCHAR) || '&utm_campaign=c&fbclid=f'
        |             WHEN doc_id % 12 = 0 THEN '?utm_a=1&utm_b=2&utm_c=3&gclid=x'
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 1 THEN '#s' ELSE '' END) AS url,
        |    'http' || (CASE WHEN doc_id % 2 = 0 THEN '' ELSE 's' END)
        |    || '://site' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/'
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN ''
        |             ELSE '?x=' || CAST(doc_id % 2 AS VARCHAR) END) AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, count(*) AS n_docs,
        |  count(DISTINCT url) AS n_raw_forms,
        |  min(doc_id) AS keep_doc
        |FROM u GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    // BM25 with the identical operation order: idf, norm, term score and
    // the sorted-term fold are each basic IEEE ops evaluated in the same
    // sequence as the Spark kernel, so the doubles match bit-for-bit
    "q_bm25" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |  FROM documents),
        |dl AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
        |  WHERE term IN ('spark', 'table', 'join') GROUP BY 1, 2),
        |df AS MATERIALIZED (
        |  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY 1),
        |sc AS MATERIALIZED (
        |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
        |         (SELECT sum(dl) FROM dl)::DOUBLE AS total),
        |scored AS (
        |  SELECT t.doc_id,
        |    ((sc.n - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
        |      * ((tf::DOUBLE * 2.2)
        |         / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / (sc.total / sc.n))))) AS s,
        |    t.term
        |  FROM tf t JOIN df USING (term) JOIN dl USING (doc_id), sc),
        |folded AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, score FROM folded
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the log-idf flavor, ids + ranks only: DuckDB's ln replays the
    // kernel, the projection drops the (libm-dependent) doubles, and the
    // measured >= 7.7e-5 adjacent gaps make the order libm-independent
    "q_bm25_log" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |  FROM documents),
        |dl AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
        |  WHERE term IN ('spark', 'table', 'join') GROUP BY 1, 2),
        |df AS MATERIALIZED (
        |  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY 1),
        |sc AS MATERIALIZED (
        |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
        |         (SELECT sum(dl) FROM dl)::DOUBLE AS total),
        |scored AS (
        |  SELECT t.doc_id,
        |    ln(1.0 + (sc.n - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
        |      * ((tf::DOUBLE * 2.2)
        |         / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / (sc.total / sc.n))))) AS s,
        |    t.term
        |  FROM tf t JOIN df USING (term) JOIN dl USING (doc_id), sc),
        |folded AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id
        |FROM folded ORDER BY rank LIMIT 20""".stripMargin,

    // 24 BPE training ranks replayed level-by-level (see bpeTrainOracle;
    // cost is linear in ranks thanks to the MATERIALIZED chain)
    "q_bpe_train" -> bpeTrainOracle(24),

    // the uncapped DataFrame merge loop must land the identical rules
    "q_bpe_train_dist" -> bpeTrainOracle(24),

    // the full train→apply composition at the same depth
    "q_bpe_compose" -> bpeComposeOracle(24),

    // the fixed 6-rule encode replayed on the whole text with a '|'
    // boundary symbol (not in the corpus charset, so merges cannot cross
    // words); stripping ' | ' afterwards yields exactly the encoder's
    // space-joined token stream
    "q_bpe_apply" ->
      """WITH s0 AS (
        |  SELECT doc_id,
        |    ' ' || rtrim(regexp_replace(replace(text, ' ', '|'), '(.)', '\1 ', 'g'))
        |      || ' ' AS s
        |  FROM documents),
        |s1 AS (SELECT doc_id, replace(s, ' e r ', ' er ') AS s FROM s0),
        |s2 AS (SELECT doc_id, replace(s, ' a t ', ' at ') AS s FROM s1),
        |s3 AS (SELECT doc_id, replace(s, ' t h ', ' th ') AS s FROM s2),
        |s4 AS (SELECT doc_id, replace(s, ' s t ', ' st ') AS s FROM s3),
        |s5 AS (SELECT doc_id, replace(s, ' at a ', ' ata ') AS s FROM s4),
        |s6 AS (SELECT doc_id, replace(s, ' l e ', ' le ') AS s FROM s5),
        |fin AS (SELECT doc_id, trim(replace(s, ' | ', ' ')) AS toks FROM s6)
        |SELECT doc_id,
        |  CAST(CASE WHEN toks = '' THEN 0
        |       ELSE len(string_split(toks, ' ')) END AS BIGINT) AS n_tokens,
        |  md5(toks) AS h
        |FROM fin ORDER BY doc_id""".stripMargin,

    // every remaining typed body codec replayed from eid arithmetic; the
    // per-type checksums cover int64/int32/bool/double/string-list fields
    "q_wire_all_types" ->
      """WITH e AS (SELECT event_id AS eid FROM events WHERE event_id < 500)
        |SELECT 'PATH_EVENT' AS event_type, count(*) AS n,
        |  CAST(sum(length('p_' || CAST(eid % 97 AS VARCHAR))) AS BIGINT) AS checksum,
        |  CAST(0 AS BIGINT) AS checksum2,
        |  min(CASE WHEN eid % 2 = 0 THEN 'FILE' ELSE 'DIR' END) AS tag FROM e
        |UNION ALL
        |SELECT 'STATE_EVENT', count(*),
        |  CAST(sum(length('S' || CAST(eid % 5 AS VARCHAR))) AS BIGINT),
        |  CAST(0 AS BIGINT), min('S' || CAST(eid % 5 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'APPLICATION_EVENT', count(*),
        |  CAST(sum(eid % 1009 + eid % 503) AS BIGINT), CAST(0 AS BIGINT),
        |  min((CASE WHEN eid % 2 = 0 THEN 'RUNNING' ELSE 'FINISHED' END)
        |      || '|tag_' || CAST(eid % 3 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'CONTAINER_EVENT', count(*),
        |  CAST(sum(eid % 31 + eid % 4096 + eid % 7) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE eid % 2 = 0) AS BIGINT),
        |  min('ST' || CAST(eid % 3 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'FLINK_JOB_MANAGER_EVENT', count(*),
        |  CAST(sum(eid % 9 + eid % 11 + eid % 13 + eid % 17) AS BIGINT),
        |  CAST(0 AS BIGINT), '-' FROM e
        |UNION ALL
        |SELECT 'FLINK_KAFKA_CONSUMER_EVENT', count(*),
        |  CAST(sum(eid % 8191 + eid % 4001) AS BIGINT), CAST(0 AS BIGINT),
        |  min('t' || CAST(eid % 3 AS VARCHAR) || '-' || CAST(eid % 8 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'FLINK_OPERATOR_EVENT', count(*),
        |  CAST(sum(eid % 200 + eid % 29) AS BIGINT),
        |  CAST(sum(eid % 17) AS BIGINT),
        |  min('op' || CAST(eid % 5 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'FLINK_TASK_EVENT', count(*),
        |  CAST(sum(eid % 512 + eid % 256 + eid % 1024 + eid % 100 + eid % 16) AS BIGINT),
        |  CAST(sum(eid % 10) AS BIGINT),
        |  min('job' || CAST(eid % 3 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'FLINK_TASK_MANAGER_EVENT', count(*),
        |  CAST(sum(eid % 64 + eid % 32) AS BIGINT), CAST(0 AS BIGINT), '-' FROM e
        |UNION ALL
        |SELECT 'SPARK_EXECUTOR_STATE_EVENT', count(*),
        |  CAST(sum(eid % 6) AS BIGINT), CAST(0 AS BIGINT),
        |  min('E' || CAST(eid % 3 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'SPARK_EXECUTOR_STORAGE_STATUS_EVENT', count(*),
        |  CAST(sum(eid % 4096 + eid % 128 + eid % 64) AS BIGINT), CAST(0 AS BIGINT),
        |  min('h' || CAST(eid % 4 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'SPARK_RDD_STORAGE_STATUS_EVENT', count(*),
        |  CAST(sum(eid % 2048 + eid % 32) AS BIGINT), CAST(0 AS BIGINT),
        |  min('rdd' || CAST(eid % 5 AS VARCHAR)) FROM e
        |UNION ALL
        |SELECT 'SPARK_STAGE_EVENT', count(*),
        |  CAST(sum(eid % 1000 + eid % 13 + eid % 50) AS BIGINT), CAST(0 AS BIGINT),
        |  min(CASE WHEN eid % 4 = 0 THEN 'FAILED' ELSE 'COMPLETED' END) FROM e
        |ORDER BY event_type""".stripMargin,

    // spark-task/container wire panels: the sums are exact (integer-valued
    // floats/longs folded in double stay exact below 2^53, so the fold
    // order the engines use is irrelevant)
    "q_spark_wire_panels" ->
      """WITH base AS (
        |  SELECT date_trunc('hour', ts) AS bucket_start,
        |         CASE WHEN event_id % 5 = 0 THEN 'FAILED' ELSE 'COMPLETED' END AS status,
        |         CASE event_id % 3 WHEN 0 THEN 'PROCESS_LOCAL'
        |              WHEN 1 THEN 'NODE_LOCAL' ELSE 'ANY' END AS locality,
        |         event_id % 4096 AS srb, event_id % 100000 AS pem,
        |         event_id % 2 AS ctype, event_id % 1000 AS cval
        |  FROM events)
        |SELECT 'shuffle_read' AS panel, bucket_start, status AS grp,
        |  CAST(sum(srb) AS DOUBLE) AS v
        |FROM base GROUP BY bucket_start, status
        |UNION ALL
        |SELECT 'peak_memory' AS panel, bucket_start, locality AS grp,
        |  CAST(max(pem) AS DOUBLE) AS v
        |FROM base GROUP BY bucket_start, locality
        |UNION ALL
        |SELECT 'yarn_memory' AS panel, bucket_start, 'MEMORY' AS grp,
        |  CAST(sum(cval) AS DOUBLE) AS v
        |FROM base WHERE ctype = 0 GROUP BY bucket_start
        |ORDER BY panel, bucket_start, grp""".stripMargin,

    // the GC/FS wire chain: every count/sum/severity recomputed from raw
    // events columns (cause codes 1/2 = the flagged causes, collector 0 =
    // G1 Old Generation, action 1/0 = WRITE/READ in fsActions order);
    // g1FullGc filters to G1-old BEFORE grouping, so the oracle's a2 arm
    // keeps only groups that have such rows
    "q_gc_wire_chain" ->
      """WITH e AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 5 AS VARCHAR) AS container_id,
        |         event_id % 4 AS coll, event_id % 5 AS cause,
        |         event_id % 500 AS pause, event_id % 8 AS act
        |  FROM events),
        |a1 AS (
        |  SELECT application_id, attempt_id, container_id,
        |    count(*) FILTER (WHERE cause IN (1, 2)) AS metric
        |  FROM e GROUP BY 1, 2, 3),
        |a2 AS (
        |  SELECT application_id, attempt_id, container_id,
        |    count(*) AS metric, CAST(sum(pause) AS BIGINT) AS extra
        |  FROM e WHERE coll = 0 GROUP BY 1, 2, 3),
        |a8 AS (
        |  SELECT application_id, attempt_id,
        |    count(*) FILTER (WHERE act = 1) AS metric,
        |    count(*) FILTER (WHERE act = 0) AS extra
        |  FROM e GROUP BY 1, 2)
        |SELECT 'gc_cause' AS heuristic, application_id, attempt_id, container_id,
        |  metric, CAST(0 AS BIGINT) AS extra,
        |  CAST(CASE WHEN metric > 0 THEN 2 ELSE 0 END AS BIGINT) AS severity
        |FROM a1
        |UNION ALL
        |SELECT 'g1_full_gc' AS heuristic, application_id, attempt_id, container_id,
        |  metric, extra,
        |  CAST(CASE WHEN metric > 0 THEN 3 ELSE 0 END AS BIGINT) AS severity
        |FROM a2
        |UNION ALL
        |SELECT 'files' AS heuristic, application_id, attempt_id, '' AS container_id,
        |  metric, extra,
        |  CAST(CASE WHEN metric > 50 THEN 3 WHEN metric > 25 THEN 2
        |       WHEN metric > 5 THEN 1 ELSE 0 END AS BIGINT) AS severity
        |FROM a8
        |ORDER BY heuristic, application_id, container_id""".stripMargin,

    // wire-input delta-rate heuristics: counters and unique timestamps
    // replayed from raw events columns; `/` is true division in both
    // engines (one correctly-rounded IEEE op on exact integer inputs) and
    // trunc() reproduces Spark's double->long cast for negative deltas too
    "q_heuristic_locks" ->
      """WITH s AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         '1' AS attempt_id,
        |         'container_' || CAST(user_id % 5 AS VARCHAR) AS container_id,
        |         1700000000000 + event_id * 1000 AS ts_millis,
        |         (event_id * 37) % 10007 AS lck,
        |         (event_id * 11) % 4001 AS spc
        |  FROM events),
        |d AS (
        |  SELECT application_id, attempt_id, container_id,
        |    lck - lag(lck) OVER w AS dc,
        |    spc - lag(spc) OVER w AS ds,
        |    ts_millis - lag(ts_millis) OVER w AS dt
        |  FROM s WINDOW w AS (
        |    PARTITION BY application_id, attempt_id, container_id
        |    ORDER BY ts_millis)),
        |r AS (
        |  SELECT application_id, attempt_id, container_id,
        |    CAST(trunc(max(dc * 1000 / dt)) AS BIGINT) AS lock_rate,
        |    CAST(trunc(max(ds * 1000 / dt)) AS BIGINT) AS sp_rate
        |  FROM d WHERE dt IS NOT NULL AND dt <> 0 GROUP BY 1, 2, 3)
        |SELECT 'locks' AS heuristic, application_id, attempt_id, container_id,
        |  lock_rate AS max_rate,
        |  CAST(CASE WHEN lock_rate > 500 THEN 4 WHEN lock_rate > 100 THEN 3
        |       WHEN lock_rate > 50 THEN 2 WHEN lock_rate > 10 THEN 1
        |       ELSE 0 END AS BIGINT) AS severity
        |FROM r
        |UNION ALL
        |SELECT 'safepoints' AS heuristic, application_id, attempt_id, container_id,
        |  sp_rate AS max_rate,
        |  CAST(CASE WHEN sp_rate > 10 THEN 4 WHEN sp_rate > 7 THEN 3
        |       WHEN sp_rate > 5 THEN 2 WHEN sp_rate > 3 THEN 1
        |       ELSE 0 END AS BIGINT) AS severity
        |FROM r
        |ORDER BY heuristic, application_id, container_id""".stripMargin,

    "q_wire_roundtrip" ->
      """SELECT upper(event_type) AS action,
        |  CASE WHEN event_id % 10 = 0 THEN 'FAILURE' ELSE 'SUCCESS' END AS status,
        |  count(*) AS n,
        |  CAST(sum(event_id % 997) AS BIGINT) AS sum_duration,
        |  count(DISTINCT 'application_' || CAST(user_id % 50 AS VARCHAR)) AS apps,
        |  CAST(min(epoch_ns(ts) // 1000000) AS BIGINT) AS min_ts_ms
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY action, status""".stripMargin,

    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b FROM s WHERE cosine >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "q_lsh_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 50),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.qv, e.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_scan_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 150.0
        |ORDER BY event_id""".stripMargin,

    "q_composite_route" ->
      """WITH routed AS (
        |  SELECT 'errors' AS route, event_type, value
        |    FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT 'big_values', event_type, value
        |    FROM events WHERE event_type IN ('click','signup') AND value > 100
        |  UNION ALL
        |  SELECT 'audit', event_type, value
        |    FROM events WHERE event_type <> 'error' AND user_id % 10 = 0)
        |SELECT route, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM routed GROUP BY route, event_type ORDER BY route, event_type""".stripMargin,

    "q_filter_algebra" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE (event_type = 'error' OR event_type = 'signup')
        |  AND NOT (user_id < 10) AND value BETWEEN 5.0 AND 400.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_json_day" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST(props->>'k' AS BIGINT) % 10 AS k_bucket, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q5_star_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  TRUE AS shuffle_free_join
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the PLAIN join — the salt must be invisible in the result
    "q_salted_join" ->
      """WITH dim AS (SELECT event_type, count(*) AS n_type FROM events GROUP BY event_type)
        |SELECT e.event_type, d.n_type, count(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type, d.n_type ORDER BY e.event_type""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_anti_join" ->
      """SELECT n_name, count(*) AS n_customers FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_enrich_first_wins" ->
      """WITH dim AS (
        |  SELECT user_id AS dim_user_id, event_type AS first_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT first_type, event_type, count(*) AS n
        |FROM events LEFT JOIN dim ON user_id = dim_user_id
        |GROUP BY first_type, event_type ORDER BY first_type, event_type""".stripMargin,

    "q_time_bucket" ->
      """SELECT date_trunc('hour', ts) AS bucket, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_hourly_route" ->
      """SELECT 'graft-' || strftime(ts, '%Y-%m-%d-%H') AS es_index,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS checksum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the JDBC-round-tripped heuristic result rows recomputed from raw
    // events (resultRows shape: HeuristicsResultDB.java:27-30 analog)
    "q_jdbc_roundtrip" ->
      """SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS yarn_app_result_id,
        |  'io.graft.heuristics.AppActivity' AS heuristic_class,
        |  'AppActivity@1' AS heuristic_name,
        |  CASE WHEN max(value) > 190 THEN 4
        |       WHEN max(value) > 150 THEN 2 ELSE 0 END AS severity,
        |  CAST(count(*) AS INT) AS score,
        |  1 AS ready
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the catalog-served day-partitioned dump aggregate from raw events
    // (same 14-day window the Spark side writes)
    "q_hive_ddl" ->
      """WITH mx AS (SELECT date_trunc('day', max(ts)) AS max_day FROM events)
        |SELECT event_type, count(*) AS n,
        |  count(DISTINCT date_trunc('day', ts)) AS n_days,
        |  CAST(sum(event_id) AS BIGINT) AS checksum
        |FROM events, mx
        |WHERE ts >= max_day - INTERVAL 13 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_extractor_counts" ->
      """SELECT 'container_' || CAST(user_id % 97 AS VARCHAR) AS container_id,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_topk" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id
        |ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin,

    "q_percentile" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_dash_gc_rate" ->
      """WITH g AS (
        |  SELECT 'application_' || CAST(user_id % 20 AS VARCHAR) AS application_id,
        |         date_trunc('hour', ts) AS bucket_start,
        |         (event_id * 13) % 100000 AS gc_time
        |  FROM events),
        |b AS (
        |  SELECT application_id, bucket_start, max(gc_time) AS v
        |  FROM g GROUP BY 1, 2)
        |SELECT application_id, bucket_start, v,
        |  v - lag(v) OVER (PARTITION BY application_id ORDER BY bucket_start)
        |    AS dv_per_bucket
        |FROM b ORDER BY application_id, bucket_start""".stripMargin,

    // the alias map sends hdfs://preprod-am6:8020 through port-strip +
    // alias to hdfs://root-ns; event_id % 3 = 2 rows go to a different
    // uri and must be filtered out
    "q_dash_fsops_user" ->
      """WITH f AS (
        |  SELECT date_trunc('hour', ts) AS bucket_start,
        |         'user_' || CAST(user_id % 7 AS VARCHAR) AS hdfs_user,
        |         upper(event_type) AS action,
        |         event_id % 997 AS d
        |  FROM events WHERE event_id % 3 IN (0, 1))
        |SELECT bucket_start, hdfs_user, action, count(*) AS n,
        |  ROUND(quantile_cont(d, 0.99), 4) AS p99_ms
        |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_derivative" ->
      """WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, bucket, n,
        |  n - lag(n) OVER (PARTITION BY event_type ORDER BY bucket) AS dn
        |FROM b ORDER BY event_type, bucket""".stripMargin,

    "q_delta_rate" ->
      """WITH d AS (
        |  SELECT user_id,
        |    value - lag(value) OVER w AS dv,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dus
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, ROUND(MAX(dv * 1000000.0 / dus), 4) AS max_rate
        |FROM d WHERE dus IS NOT NULL AND dus > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_sessionize" ->
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
        |  FROM flags),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions, MAX(n_events) AS max_session_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_session_window" ->
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flags)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_enrich" ->
      """WITH facts AS (
        |  SELECT 'app_' || CAST(user_id % 50 AS VARCHAR) AS application_id,
        |         event_type,
        |         'container_' || CAST(event_id % 5 AS VARCHAR) AS container_id,
        |         event_id AS ts_ms,
        |         user_id % 50 AS a,
        |         CASE WHEN event_id % 3 = 0 THEN 'UNKNOWN' ELSE 'EXECUTOR' END AS raw_component
        |  FROM events),
        |first_comp AS (
        |  SELECT application_id, container_id,
        |         arg_min(raw_component, ts_ms) AS first_component
        |  FROM facts GROUP BY 1, 2),
        |registry AS (
        |  SELECT application_id, container_id,
        |         CASE WHEN first_component <> 'UNKNOWN' THEN first_component
        |              WHEN container_id = 'container_0' THEN 'APP_MASTER'
        |              ELSE 'APP_SLAVE' END AS component
        |  FROM first_comp)
        |SELECT f.application_id, f.event_type, f.container_id, f.ts_ms,
        |  'name_first_' || CAST(f.a AS VARCHAR) AS application_name,
        |  'SPARK' AS framework,
        |  'user_' || CAST(f.a % 7 AS VARCHAR) AS username,
        |  r.component,
        |  TRUE AS enriched
        |FROM facts f JOIN registry r
        |  ON f.application_id = r.application_id AND f.container_id = r.container_id
        |ORDER BY f.ts_ms""".stripMargin,

    "q_stream_sessionize" ->
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ms,
        |    floor(value * 100) AS metric
        |  FROM events)
        |SELECT user_id,
        |  count(DISTINCT event_type) + 1 AS n_containers,
        |  count(*) + 1 AS n_events,
        |  sum(metric) AS sum_metric,
        |  greatest(max(metric), 0.0) AS max_metric,
        |  least(min(metric), 0.0) AS min_metric,
        |  (max(ms) + 1000) - min(ms) AS duration_ms,
        |  'END' AS closed_by
        |FROM base GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the routed-table aggregate recomputed from raw events columns: the
    // FS half covers every row, the GC half the every-7th rows; the two
    // layout witnesses are Spark-side measured, hardcoded TRUE here
    "q_stream_route" ->
      """WITH fs AS (
        |  SELECT date_trunc('day', ts) AS day,
        |         upper(event_type) AS grp,
        |         count(*) AS n,
        |         count(DISTINCT user_id % 20) AS n_apps,
        |         CAST(sum(event_id % 997) AS BIGINT) AS checksum
        |  FROM events GROUP BY 1, 2),
        |gc AS (
        |  SELECT date_trunc('day', ts) AS day,
        |         CASE WHEN event_id % 21 = 0 THEN 'G1 Old Generation'
        |              ELSE 'PS Scavenge' END AS grp,
        |         count(*) AS n,
        |         count(DISTINCT user_id % 20) AS n_apps,
        |         CAST(sum(event_id % 50) AS BIGINT) AS checksum
        |  FROM events WHERE event_id % 7 = 0 GROUP BY 1, 2)
        |SELECT 'FS_EVENT' AS event_type, day, grp, n, n_apps, checksum,
        |       TRUE AS day_partitioned, TRUE AS markers_ok,
        |       TRUE AS lag_listener_ok FROM fs
        |UNION ALL
        |SELECT 'GC_EVENT' AS event_type, day, grp, n, n_apps, checksum,
        |       TRUE AS day_partitioned, TRUE AS markers_ok,
        |       TRUE AS lag_listener_ok FROM gc
        |ORDER BY event_type, day, grp""".stripMargin,

    // the maintained (compacted + retention-dropped) sink table aggregate
    // recomputed from raw events in the retained window: 10 days ending
    // at the data's own max day (maintenance must lose/duplicate nothing)
    "q_sink_maintenance" ->
      """WITH mx AS (SELECT date_trunc('day', max(ts)) AS max_day FROM events)
        |SELECT event_type, date_trunc('day', ts) AS day,
        |       count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(event_id) AS BIGINT) AS checksum,
        |       TRUE AS compaction_ok, TRUE AS retention_ok,
        |       TRUE AS isolated_read_ok
        |FROM events, mx
        |WHERE date_trunc('day', ts) >= max_day - INTERVAL 9 DAY
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q_sort_limit" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_cond_agg" ->
      """SELECT event_type,
        |  count(*) FILTER (WHERE value > 150.0) AS n_high,
        |  CAST(SUM(CASE WHEN value > 150.0 THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_high,
        |  MAX(value) AS max_value, MIN(value) AS min_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_text_tokens" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_stopword_mass" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','an','of','and','or','to','in','is','it')))) AS DOUBLE)
        |    / SUM(len(string_split(text, ' '))) AS stopword_mass
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_quality" ->
      """WITH d AS (
        |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT event_id + 1000000 AS id, props AS text FROM events WHERE event_id < 40
        |), s AS (
        |  SELECT id, text,
        |    len(string_split(text, ' ')) AS nt,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |           / CAST(length(text) AS DOUBLE) END AS pr,
        |    CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS DOUBLE)
        |           / CAST(len(string_split(text, ' ')) AS DOUBLE) END AS sr
        |  FROM d)
        |SELECT id,
        |  CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}'']+'),
        |    t -> length(t) > 0)) AS BIGINT) AS n_tokens_regex,
        |  pr AS punct_ratio,
        |  sr AS stopword_ratio,
        |  CASE WHEN nt = 0 THEN 0.0
        |    ELSE CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)), 'sum') AS DOUBLE)
        |         / CAST(nt AS DOUBLE) END AS mean_token_len,
        |  (least(CAST(nt AS DOUBLE) / 50.0, 1.0) + (1.0 - least(pr * 4, 1.0)) + least(sr * 5, 1.0)) / 3 AS quality
        |FROM s ORDER BY id""".stripMargin,

    "q_language_id" -> languageIdOracle,

    "q_pii_scrub" ->
      """WITH t AS (
        |  SELECT event_id,
        |    'contact user' || CAST(user_id AS VARCHAR) || ' at u' || CAST(user_id AS VARCHAR) ||
        |    '@example.com or 10.0.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR) ||
        |    ' tel 555' || lpad(CAST(event_id % 10000 AS VARCHAR), 7, '0') || ' ref ' || event_type AS text
        |  FROM events WHERE event_id < 200)
        |SELECT event_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<NUM>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
        |FROM t ORDER BY event_id""".stripMargin,

    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 8, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+8], ' ')))) AS gram
        |  FROM documents),
        |ev AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (gram)
        |  WHERE s.doc_id % 20 <> 0)
        |SELECT h.doc_id, d.lang, d.n_chars
        |FROM hits h JOIN documents d USING (doc_id)
        |ORDER BY h.doc_id""".stripMargin,

    "q_dup_ngrams" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))) AS gram
        |  FROM documents WHERE doc_id < 120),
        |gd AS (SELECT gram, count(*) AS n_docs_with FROM sh GROUP BY gram)
        |SELECT s.doc_id,
        |  count(*) AS n_grams,
        |  CAST(sum(CASE WHEN gd.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  CAST(sum(CASE WHEN gd.n_docs_with >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_fraction
        |FROM sh s JOIN gd USING (gram)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "q_drop_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 180),
        |tok AS (
        |  SELECT doc_id, pos, toks[pos+1] AS tok
        |  FROM t, UNNEST(range(0, len(toks))) AS u(pos)),
        |grams AS (
        |  SELECT doc_id, gpos, array_to_string(toks[gpos+1:gpos+8], ' ') AS gram
        |  FROM t, UNNEST(range(0, greatest(len(toks) - 8, 0) + 1)) AS g(gpos)),
        |shared AS (
        |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
        |  GROUP BY gram HAVING count(*) >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos
        |  FROM (SELECT g.doc_id, g.gpos FROM grams g JOIN shared USING (gram)) gs,
        |    UNNEST(range(gs.gpos, gs.gpos + 8)) AS c(pos)),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.tok
        |  FROM tok ANTI JOIN covered USING (doc_id, pos)),
        |rebuilt AS (
        |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS kept_text,
        |    count(*) AS n FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.kept_text, '') AS kept_text,
        |  CAST(coalesce(r.n, 0) AS BIGINT) AS n_tokens_kept
        |FROM t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 40),
        |s AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, greatest(len(toks) - 1, 0) + 1, 24)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
        |  CAST(least(len(toks) - start, 32) AS BIGINT) AS chunk_tokens,
        |  array_to_string(toks[start+1:start+32], ' ') AS chunk_text
        |FROM s
        |WHERE start = 0 OR start + 8 < len(toks)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_seq_pack" ->
      s"""WITH f AS (
         |  SELECT doc_id, $fpSql AS fp,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |w AS (
        |  SELECT doc_id, n_tokens, fp % 8 AS bin,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY fp % 8 ORDER BY fp, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM f)
        |SELECT bin, cum_before // 256 AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_doc
        |FROM w GROUP BY bin, cum_before // 256
        |ORDER BY bin, pack_id""".stripMargin,

    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 100),
        |c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct,
        |  CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_token_share,
        |  CAST(count(*) AS DOUBLE) / sum(cnt) AS distinct_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_lm_familiarity" ->
      """WITH ref AS (
        |  SELECT string_split(text, ' ') AS ts FROM documents WHERE lang = 'en'),
        |refbg AS (
        |  SELECT ts[pos] || ' ' || ts[pos+1] AS bigram
        |  FROM ref, UNNEST(range(1, len(ts))) AS u(pos)),
        |lm AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM refbg GROUP BY bigram),
        |d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents WHERE doc_id < 100),
        |dbg AS (
        |  SELECT doc_id, ts[pos] || ' ' || ts[pos+1] AS bigram
        |  FROM d, UNNEST(range(1, len(ts))) AS u(pos)),
        |st AS (
        |  SELECT doc_id, count(*) AS n_bigrams, count(c) AS hit_bigrams,
        |         coalesce(sum(c), 0) AS hit_mass
        |  FROM dbg LEFT JOIN lm USING (bigram) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(hit_bigrams, 0) AS BIGINT) AS hit_bigrams,
        |  CAST(coalesce(hit_mass, 0) AS BIGINT) AS hit_mass,
        |  CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |       ELSE CAST(hit_bigrams AS DOUBLE) / n_bigrams END AS familiarity
        |FROM d LEFT JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the familiarity chain + the identical per-source ntile banding
    "q_ccnet_buckets" ->
      """WITH ref AS (
        |  SELECT string_split(text, ' ') AS ts FROM documents WHERE lang = 'en'),
        |refbg AS (
        |  SELECT ts[pos] || ' ' || ts[pos+1] AS bigram
        |  FROM ref, UNNEST(range(1, len(ts))) AS u(pos)),
        |lm AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM refbg GROUP BY bigram),
        |d AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
        |dbg AS (
        |  SELECT doc_id, ts[pos] || ' ' || ts[pos+1] AS bigram
        |  FROM d, UNNEST(range(1, len(ts))) AS u(pos)),
        |st AS (
        |  SELECT doc_id, count(*) AS n_bigrams, count(c) AS hit_bigrams
        |  FROM dbg LEFT JOIN lm USING (bigram) GROUP BY doc_id),
        |f AS (
        |  SELECT d.doc_id, d.source,
        |    CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |         ELSE CAST(hit_bigrams AS DOUBLE) / n_bigrams END AS familiarity
        |  FROM d LEFT JOIN st USING (doc_id))
        |SELECT doc_id, source,
        |  CAST(ntile(3) OVER (PARTITION BY source
        |    ORDER BY familiarity DESC, doc_id) AS BIGINT) AS bucket
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_quality_gate" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS nt,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |           / CAST(length(text) AS DOUBLE) END AS pr,
        |    CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS DOUBLE)
        |           / CAST(len(string_split(text, ' ')) AS DOUBLE) END AS sr
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |    (least(CAST(nt AS DOUBLE) / 50.0, 1.0) + (1.0 - least(pr * 4, 1.0))
        |     + least(sr * 5, 1.0)) / 3 AS quality
        |  FROM s),
        |r AS (
        |  SELECT doc_id, source, quality,
        |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n_grp
        |  FROM q)
        |SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk, quality
        |FROM r WHERE rnk * 2 <= n_grp * 1 ORDER BY doc_id""".stripMargin,

    // fractions via the τ=½ identity f_s = sqrt(n_min/n_s) (the operator
    // computes exactly this): sqrt is correctly rounded in IEEE 754, so
    // both engines produce the bit-identical double and the integer
    // floor(frac·10⁴) cut cannot straddle a pow ulp.
    "q_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |fr AS (
         |  SELECT lang,
         |    sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE)) AS frac
         |  FROM c),
         |sel AS (
         |  SELECT lang, doc_id, ${selectorSql(11L)} AS sel
         |  FROM documents)
         |SELECT s.lang, count(*) AS n_docs, min(s.doc_id) AS min_id
         |FROM sel s JOIN fr USING (lang)
         |WHERE s.sel < CAST(floor(fr.frac * 10000) AS BIGINT)
         |GROUP BY s.lang ORDER BY s.lang""".stripMargin,

    // factor chain replayed via the τ=½ identity f = min(sqrt(n_max/n_s),
    // cap): sqrt and least are correctly rounded / exact, floor(f) and
    // f − floor(f) are IEEE-exact, so whole copies + the fractional
    // integer cut match the operator's driver-side constants bit-exactly
    "q_upsample_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |f AS (
         |  SELECT lang,
         |    least(sqrt(CAST((SELECT max(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE)),
         |          4.0) AS f
         |  FROM c),
         |k AS (
         |  SELECT lang, CAST(floor(f) AS BIGINT) AS whole,
         |         CAST(floor((f - floor(f)) * 10000) AS BIGINT) AS cut
         |  FROM f),
         |sel AS (SELECT lang, doc_id, ${selectorSql(13L)} AS sel FROM documents),
         |copies AS (
         |  SELECT s.lang, s.doc_id,
         |         k.whole + (CASE WHEN s.sel < k.cut THEN 1 ELSE 0 END) AS n_copies
         |  FROM sel s JOIN k USING (lang)),
         |exploded AS (
         |  SELECT lang, doc_id, u.epoch
         |  FROM copies, UNNEST(range(n_copies)) AS u(epoch))
         |SELECT lang, epoch, count(*) AS n_docs, min(doc_id) AS min_id,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_id
         |FROM exploded GROUP BY lang, epoch ORDER BY lang, epoch""".stripMargin,

    // the composed pipeline replayed end-to-end: survivor set from the
    // fate-class arithmetic (gopher kills m=1, phrases m=2, exact dedup
    // the mojibake twin of m=3 — which only collapses because preClean
    // canonicalized it — keep-best the near-twin of m=4, decontamination
    // m=0; lineDedup rewrote m=9's text before anything hashed it), the
    // per-stage ledger counts, the fp-mod split, the full temperature-
    // upsample expansion (sqrt factor, floor/cut, salted selector,
    // epochs) and the manifest's per-split row/token counts. The crc32
    // fingerprint and readRelease verification ride as TRUE witnesses
    // (no crc32 in this engine; they compare manifest vs recomputation
    // inside the query).
    "q_pipeline_full" ->
      s"""WITH surv AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 IN (3, 4) THEN 'mid'
        |         WHEN doc_id % 10 = 9 THEN 'small' ELSE 'big' END AS grp,
        |    CASE
        |      WHEN doc_id % 10 = 3 THEN 'the solid and stable u'
        |        || CAST((doc_id - 3) // 20 AS VARCHAR)
        |        || ' block text café' || CAST((doc_id - 3) // 20 AS VARCHAR)
        |      WHEN doc_id % 10 = 4 THEN 'the river and mountain d'
        |        || CAST((doc_id - 4) // 20 AS VARCHAR)
        |        || ' stone valley cloud tok'
        |        || CAST((doc_id - 4) // 20 AS VARCHAR) || 'a'
        |      WHEN doc_id % 10 = 9 THEN 'promo banner' || chr(10)
        |        || 'the grove and stone d' || CAST(doc_id AS VARCHAR) || ' walk'
        |      ELSE 'the garden and flower d' || CAST(doc_id AS VARCHAR)
        |        || ' window seat light b' || CAST(doc_id % 10 AS VARCHAR)
        |    END AS text
        |  FROM documents
        |  WHERE doc_id % 10 IN (5, 6, 7, 8, 9)
        |     OR (doc_id % 10 = 3 AND ((doc_id - 3) // 10) % 2 = 0)
        |     OR (doc_id % 10 = 4 AND ((doc_id - 4) // 10) % 2 = 0)),
        |sp AS MATERIALIZED (
        |  SELECT doc_id, grp, text,
        |    CASE WHEN $fpSql % 100 < 80 THEN 'train' ELSE 'val' END AS split
        |  FROM surv),
        |tr AS MATERIALIZED (SELECT * FROM sp WHERE split = 'train'),
        |va AS (SELECT * FROM sp WHERE split = 'val'),
        |c AS (SELECT grp, count(*) AS n FROM tr GROUP BY grp),
        |fac AS (
        |  SELECT grp,
        |    least(sqrt(CAST((SELECT max(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE)),
        |          4.0) AS f
        |  FROM c),
        |k AS (
        |  SELECT grp, CAST(floor(f) AS BIGINT) AS whole,
        |         CAST(floor((f - floor(f)) * 10000) AS BIGINT) AS cut
        |  FROM fac),
        |selx AS (SELECT grp, doc_id, text, ${selectorSql(13L)} AS sel FROM tr),
        |copies AS (
        |  SELECT s.grp, s.doc_id, s.text,
        |         k.whole + (CASE WHEN s.sel < k.cut THEN 1 ELSE 0 END) AS n_copies
        |  FROM selx s JOIN k USING (grp)),
        |trrows AS MATERIALIZED (
        |  SELECT doc_id, grp, 'train' AS split,
        |    CAST(u.epoch AS BIGINT) AS epoch, text
        |  FROM copies, UNNEST(range(n_copies)) AS u(epoch)),
        |varows AS MATERIALIZED (
        |  SELECT doc_id, grp, 'val' AS split, CAST(0 AS BIGINT) AS epoch, text
        |  FROM va),
        |allrows AS MATERIALIZED (
        |  SELECT * FROM trrows UNION ALL SELECT * FROM varows),
        |leds AS (
        |  SELECT
        |    (SELECT count(*) FROM documents WHERE doc_id % 10 <> 1) AS led_gopher,
        |    (SELECT count(*) FROM documents
        |       WHERE doc_id % 10 NOT IN (1, 2)) AS led_phrase,
        |    (SELECT count(*) FROM documents
        |       WHERE doc_id % 10 NOT IN (1, 2)
        |         AND NOT (doc_id % 10 = 3 AND ((doc_id - 3) // 10) % 2 = 1))
        |      AS led_exact,
        |    (SELECT count(*) FROM surv)
        |      + (SELECT count(*) FROM documents WHERE doc_id % 10 = 0)
        |      AS led_keepbest,
        |    (SELECT count(*) FROM surv) AS led_decon,
        |    (SELECT count(*) FROM allrows) AS led_final,
        |    (SELECT count(*) FROM trrows) AS train_n,
        |    (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |       FROM trrows) AS train_toks,
        |    (SELECT count(*) FROM varows) AS val_n,
        |    (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |       FROM varows) AS val_toks)
        |SELECT a.doc_id, a.grp, a.split, a.epoch, md5(a.text) AS h,
        |  l.led_gopher, l.led_phrase, l.led_exact, l.led_keepbest,
        |  l.led_decon, l.led_final, l.train_n, l.train_toks, l.val_n,
        |  l.val_toks, TRUE AS fp_match, TRUE AS read_ok
        |FROM allrows a CROSS JOIN leds l
        |ORDER BY a.doc_id, a.epoch""".stripMargin,

    "q_stratified_sample" ->
      s"""WITH f AS (
         |  SELECT lang, doc_id, ${selectorSql(7L)} AS sel
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs, min(doc_id) AS min_id
         |FROM f
         |WHERE sel < CAST(floor(
         |  (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 1.0 END) * 10000)
         |  AS BIGINT)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_hash_split" ->
      s"""WITH f AS (
         |  SELECT lang, text,
         |    CASE WHEN $fpSql % 100 < 90
         |    THEN 'train' ELSE 'val' END AS split
         |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT lang) AS n_langs
        |FROM f GROUP BY split ORDER BY split""".stripMargin,

    "q_doc_fingerprint" ->
      s"""SELECT doc_id, $fpSql AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the expected CLEAN text from the arithmetic; the garbled length is
    // the clean text's UTF-8 byte count by the mis-decode's definition
    "q_mojibake" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'plain' || CAST(doc_id % 9 AS VARCHAR)
        |    ELSE 'w'
        |      || repeat(chr(CAST(224 + doc_id % 16 AS INT)),
        |           CAST(doc_id % 3 + 1 AS INT))
        |      || (CASE WHEN doc_id % 4 = 0
        |          THEN chr(CAST(19968 + (doc_id % 7) * 2 AS INT)) ELSE '' END)
        |      || (CASE WHEN doc_id % 5 IN (1, 3) THEN chr(8217) ELSE '' END)
        |    END AS clean
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(octet_length(encode(clean)) AS BIGINT) AS garbled_len,
        |  CAST(length(clean) AS BIGINT) AS fixed_len,
        |  md5(clean) AS h
        |FROM f ORDER BY doc_id""".stripMargin,

    // the same codepoint fixture rebuilt with chr(), normalized by
    // DuckDB's own (independent) NFC — lengths are codepoint counts on
    // both engines, md5 runs over the normalized UTF-8 bytes
    "q_nfc_normalize" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    'w' || repeat(chr(101) || chr(769), CAST((doc_id % 3) + 1 AS INT))
        |    || (CASE WHEN doc_id % 2 = 0 THEN chr(65) || chr(778) ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN chr(233) ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN chr(111) || chr(776) || chr(772)
        |        ELSE '' END) AS text
        |  FROM documents)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS pre_len,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS post_len,
        |  md5(nfc_normalize(text)) AS h
        |FROM f ORDER BY doc_id""".stripMargin,

    // rank by the full salted selector (mod p, not the 10^4 cut) with
    // doc_id ties — the same arithmetic sampleKPerGroup orders on
    // paragraphs rebuilt from the same arithmetic, winner window and
    // in-order reassembly replayed; 1-based list index -> 0-based pos is
    // irrelevant to the ORDER BY (same monotone order both engines)
    "q_paragraph_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'common ' || CAST(doc_id % 17 AS VARCHAR) || chr(10)
        |    || (CASE WHEN doc_id % 4 = 0 THEN chr(10) ELSE '' END)
        |    || 'shared ' || CAST(doc_id % 5 AS VARCHAR) || chr(10)
        |    || 'unique ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, q.l[i] AS para, i AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d) q,
        |       unnest(range(1, len(q.l) + 1)) AS t(i)
        |  WHERE length(trim(q.l[i])) > 0),
        |k AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
        |  FROM p),
        |re AS (
        |  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
        |    count(*) AS n_kept
        |  FROM k WHERE rk = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_total FROM p GROUP BY doc_id)
        |SELECT r.doc_id, md5(r.text) AS h, CAST(r.n_kept AS BIGINT) AS n_kept,
        |  CAST(t.n_total AS BIGINT) AS n_total
        |FROM re r JOIN tot t USING (doc_id) ORDER BY r.doc_id""".stripMargin,

    "q_sample_k" -> sampleKOracle,

    // the bounded-aggregate flavor must select the IDENTICAL rows — one
    // oracle serves both gates
    "q_sample_k_agg" -> sampleKOracle,

    // bucketed-rank global position vs a plain global row_number over the
    // same replayed selector (seed 5 reduced mod p = 5)
    "q_corpus_shuffle" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    (($fpSql + 5) * 2654435761 % 1000000007) AS sel
         |  FROM documents)
         |SELECT doc_id,
         |  row_number() OVER (ORDER BY sel, doc_id) - 1 AS shuffle_pos
         |FROM f ORDER BY doc_id""".stripMargin,

    // selector → global token cumsum → prefix cut, survivors' inclusive
    // cum_tokens gated (SUM over BIGINT promotes to HUGEINT → cast back)
    "q_token_budget" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    (($fpSql + 7) * 2654435761 % 1000000007) AS sel,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, toks,
         |    SUM(toks) OVER (ORDER BY sel, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM f)
         |SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM cum WHERE cum_tokens - toks < 12000
         |ORDER BY doc_id""".stripMargin,

    // the per-stratum flavor: within-lang cumsum, en/fr budgets applied,
    // the other strata pass whole
    "q_token_budget_mix" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |    (($fpSql + 7) * 2654435761 % 1000000007) AS sel,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, lang, toks,
         |    SUM(toks) OVER (PARTITION BY lang ORDER BY sel, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM f)
         |SELECT doc_id, lang, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM cum
         |WHERE CASE lang WHEN 'en' THEN cum_tokens - toks < 2000
         |                WHEN 'fr' THEN cum_tokens - toks < 800
         |                ELSE TRUE END
         |ORDER BY doc_id""".stripMargin,

    // the streaming admission replayed batch-arithmetically: per-batch
    // raw token totals decide whole/cut/none, the crossing batch keeps
    // its within-batch (selector, id) prefix under what remains of the
    // budget, total_after = the admitted token mass; replay_ok is a
    // Spark-side measured witness (oracle hardcodes TRUE)
    "q_stream_token_budget" ->
      s"""WITH f AS (
         |  SELECT doc_id, doc_id % 5 AS b,
         |    (($fpSql + 7) * 2654435761 % 1000000007) AS sel,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents),
         |bt AS (SELECT b, SUM(toks) AS btoks FROM f GROUP BY b),
         |run AS (SELECT b, btoks,
         |  SUM(btoks) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_raw
         |  FROM bt),
         |dc AS (SELECT doc_id, b, toks,
         |  SUM(toks) OVER (PARTITION BY b ORDER BY sel, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS dcum FROM f),
         |adm AS (
         |  SELECT dc.doc_id, dc.b, dc.toks
         |  FROM dc JOIN run ON dc.b = run.b
         |  WHERE run.cum_raw <= 12000
         |     OR (run.cum_raw - run.btoks < 12000
         |         AND dc.dcum - dc.toks < 12000 - (run.cum_raw - run.btoks)))
         |SELECT doc_id, b AS batch_id,
         |  CAST((SELECT SUM(toks) FROM adm) AS BIGINT) AS total_after,
         |  (SELECT SUM(toks) FROM adm) >= 12000 AS exhausted,
         |  TRUE AS replay_ok
         |FROM adm ORDER BY doc_id""".stripMargin,

    // per-stratum streaming admission: each budgeted lang's whole/cut/
    // none fate replays from per-(lang, batch) raw totals and the
    // within-(lang, batch) selector prefix; unbudgeted (and NULL) langs
    // pass whole in every batch
    "q_stream_token_budget_mix" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang, doc_id % 4 AS b,
         |    (($fpSql + 7) * 2654435761 % 1000000007) AS sel,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents),
         |bud AS (SELECT 'en' AS lang, 2000 AS bud
         |        UNION ALL SELECT 'fr', 800),
         |bt AS (SELECT f.lang, b, SUM(toks) AS btoks
         |  FROM f JOIN bud ON f.lang = bud.lang GROUP BY 1, 2),
         |run AS (SELECT lang, b, btoks,
         |  SUM(btoks) OVER (PARTITION BY lang ORDER BY b
         |    ROWS UNBOUNDED PRECEDING) AS cum_raw FROM bt),
         |dc AS (SELECT f.doc_id, f.lang, f.b, f.toks,
         |  SUM(f.toks) OVER (PARTITION BY f.lang, f.b ORDER BY sel, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS dcum
         |  FROM f JOIN bud ON f.lang = bud.lang),
         |adm AS (
         |  SELECT dc.doc_id, dc.lang, dc.b, dc.toks
         |  FROM dc
         |  JOIN run ON dc.lang = run.lang AND dc.b = run.b
         |  JOIN bud ON dc.lang = bud.lang
         |  WHERE run.cum_raw <= bud.bud
         |     OR (run.cum_raw - run.btoks < bud.bud
         |         AND dc.dcum - dc.toks < bud.bud - (run.cum_raw - run.btoks))),
         |allrows AS (
         |  SELECT doc_id, lang, b FROM adm
         |  UNION ALL
         |  SELECT doc_id, lang, b FROM f
         |  WHERE lang IS NULL OR lang NOT IN ('en', 'fr'))
         |SELECT doc_id, lang, b AS batch_id,
         |  CAST((SELECT SUM(toks) FROM adm WHERE lang = 'en') AS BIGINT)
         |    AS en_after,
         |  CAST((SELECT SUM(toks) FROM adm WHERE lang = 'fr') AS BIGINT)
         |    AS fr_after,
         |  TRUE AS replay_ok
         |FROM allrows ORDER BY doc_id""".stripMargin,

    // the writer must land exactly the permutation the rank assigns
    "q_shuffle_shards" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    (($fpSql + 5) * 2654435761 % 1000000007) AS sel
         |  FROM documents)
         |SELECT doc_id,
         |  row_number() OVER (ORDER BY sel, doc_id) - 1 AS shuffle_pos
         |FROM f ORDER BY doc_id""".stripMargin,

    "q_perceptron" -> perceptronOracle,

    "q_perceptron_voted" -> perceptronVotedOracle,

    "q_perceptron_bigram" -> perceptronBigramOracle,

    // the expected extraction from the generating arithmetic: the TITLE
    // is metadata and must NOT leak into body text (all head chrome
    // drops), then the document text, newline, decoded tail
    "q_html_extract" ->
      """SELECT doc_id,
        |  text || chr(10)
        |    || 'tail & ' || CAST(doc_id % 7 AS VARCHAR) AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the surviving text from the generating arithmetic: the nav bar,
    // the zero-stopword keyword block and the tiny block always drop;
    // the cat sentence drops only on the % 6 slice (4 words < minWords);
    // the moderately-linked prose block always survives
    "q_boilerplate" ->
      """SELECT doc_id,
        |  md5(CASE WHEN doc_id % 6 = 0 THEN '' ELSE
        |        'the cat and the dog sat in the house '
        |          || CAST(doc_id AS VARCHAR) || chr(10) END
        |    || 'it is the link ' || CAST(doc_id % 7 AS VARCHAR)
        |    || ' of the day today') AS h,
        |  CAST(length(CASE WHEN doc_id % 6 = 0 THEN '' ELSE
        |        'the cat and the dog sat in the house '
        |          || CAST(doc_id AS VARCHAR) || chr(10) END
        |    || 'it is the link ' || CAST(doc_id % 7 AS VARCHAR)
        |    || ' of the day today') AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // both chunks' text + token counts from the generating arithmetic:
    // the lowercase decoy (". gamma") stays inside a sentence, and the
    // abbreviation decoys (U.S. / e.g. / Mr., each followed by an
    // UPPERCASE word) must not split either — sentence 1 is 5 tokens,
    // sentences 2+3 pack to exactly the 10-token budget
    "q_sentence_chunk" ->
      """SELECT doc_id, CAST(u.ci AS INT) AS chunk_idx,
        |  md5(CASE u.ci WHEN 0 THEN
        |        'Alpha one U.S. Government ' || CAST(doc_id AS VARCHAR) || '.'
        |      ELSE 'Beta e.g. Mr. Smith x' || CAST(doc_id % 7 AS VARCHAR)
        |        || '. gamma six. Delta seven ' || CAST(doc_id % 5 AS VARCHAR)
        |        || '.' END) AS h,
        |  CAST(CASE u.ci WHEN 0 THEN 5 ELSE 10 END AS BIGINT) AS n_tokens
        |FROM documents CROSS JOIN (SELECT UNNEST([0, 1]) AS ci) u
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // every Gopher signal recomputed: whitespace-class word split,
    // length sums, alpha test, replace-arithmetic symbol counts,
    // line classification, stop-word hits, cross-multiplied verdict
    "q_gopher" ->
      """WITH txt AS (
        |  SELECT doc_id, text
        |    || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '• bullet item here' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'to be continued...' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN chr(10) || '## symbols # here' ELSE '' END) AS t
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(t, '\s+'), w -> w <> '') AS ws,
        |    list_filter(string_split(t, chr(10)), l -> trim(l) <> '') AS ls,
        |    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
        |    CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS n_ellipsis
        |  FROM txt),
        |cnt AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(ws, w -> CAST(len(w) AS BIGINT))), 0)
        |      AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
        |      AS n_alpha_words,
        |    n_hash, n_ellipsis,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[•\-\*] ')))
        |      AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '\.\.\.$')))
        |      AS BIGINT) AS n_ellipsis_lines,
        |    CAST((CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ws, 'have') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_stop_hits
        |  FROM sig)
        |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_hash, n_ellipsis,
        |  n_lines, n_bullet_lines, n_ellipsis_lines, n_stop_hits,
        |  (n_words >= 10 AND n_words <= 100000
        |    AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
        |    AND 10 * (n_hash + n_ellipsis) <= n_words
        |    AND 10 * n_bullet_lines <= 9 * n_lines
        |    AND 10 * n_ellipsis_lines <= 3 * n_lines
        |    AND 10 * n_alpha_words >= 8 * n_words
        |    AND n_stop_hits >= 2) AS gopher_keep
        |FROM cnt ORDER BY doc_id""".stripMargin,

    // per-phrase occurrence counts via non-overlapping replace
    // arithmetic on the constructed text (phrases are border-free)
    "q_phrase_block" ->
      """WITH txt AS (
        |  SELECT doc_id, text
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' lorem ipsum' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0
        |          THEN ' click here now and click here now' ELSE '' END) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST((length(t) - length(replace(t, 'lorem ipsum', ''))) // 11
        |    + (length(t) - length(replace(t, 'click here now', ''))) // 14
        |    AS INT) AS n_phrase_hits,
        |  ((length(t) - length(replace(t, 'lorem ipsum', ''))) // 11
        |    + (length(t) - length(replace(t, 'click here now', ''))) // 14) > 0
        |    AS blocked
        |FROM txt ORDER BY doc_id""".stripMargin,

    // q_heavy_hitters' grid replay with the candidate slice swapped for
    // the salted-selector document sample (seed 5, frac 0.2)
    "q_top_tokens" ->
      s"""WITH toks AS MATERIALIZED (
        |  SELECT t,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(t, '')]),
        |      (hh, cp) -> (hh * 131 + cp) % 1000000007)) AS fp
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |h AS MATERIALIZED (
        |  SELECT t,
        |    ((fp + 11) * 2654435761 % 1000000007) AS h1,
        |    (((fp + 315423915) * 2246822519) % 1000000006 + 1) AS h2
        |  FROM toks),
        |grid AS MATERIALIZED (
        |  SELECT u.j, ((h1 + u.j * h2) % 1000000007) % 4096 AS pos,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM h CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) u
        |  GROUP BY u.j, pos),
        |q AS (
        |  SELECT DISTINCT t FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
        |    WHERE (($fpSql + 5) * 2654435761 % 1000000007) % 10000 < 2000)
        |  WHERE t <> ''),
        |qh AS (
        |  SELECT t,
        |    ((fp + 11) * 2654435761 % 1000000007) AS h1,
        |    (((fp + 315423915) * 2246822519) % 1000000006 + 1) AS h2
        |  FROM (
        |    SELECT t,
        |      (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(t, '')]),
        |        (hh, cp) -> (hh * 131 + cp) % 1000000007)) AS fp
        |    FROM q)),
        |est AS (
        |  SELECT qh.t AS token, MIN(COALESCE(g.c, 0)) AS est
        |  FROM qh CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) u
        |  LEFT JOIN grid g
        |    ON g.j = u.j AND g.pos = ((qh.h1 + u.j * qh.h2) % 1000000007) % 4096
        |  GROUP BY qh.t)
        |SELECT token, est FROM est
        |ORDER BY est DESC, token LIMIT 15""".stripMargin,

    // normalized host + blocklist verdict from the id arithmetic
    "q_domain_filter" ->
      """SELECT doc_id,
        |  'h' || CAST(doc_id % 10 AS VARCHAR) || '.ex' AS host,
        |  (doc_id % 10 = 0) OR (doc_id % 10 = 3) AS blocked
        |FROM documents ORDER BY doc_id""".stripMargin,

    // eTLD+1 from the generating arithmetic: multi-label suffixes
    // (co.uk, com.au, github.io), the *.ck wildcard (any label is a
    // public suffix there, so the registrable domain keeps the
    // subdomain), the !www.ck exception, and the implicit-* default
    // the file-loaded PSL cut replayed from the same id arithmetic:
    // exact co.uk, wildcard *.ck, exception !www.ck, private github.io,
    // plain com, and the unregistrable dotless host (NULL)
    "q_domain_etld_file" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'sub.h' || CAST(doc_id % 50 AS VARCHAR) || '.co.uk'
        |    WHEN 1 THEN 'deep.h' || CAST(doc_id % 50 AS VARCHAR) || '.any.ck'
        |    WHEN 2 THEN 'x.sub.www.ck'
        |    WHEN 3 THEN 'a.h' || CAST(doc_id % 50 AS VARCHAR) || '.github.io'
        |    WHEN 4 THEN 'h' || CAST(doc_id % 50 AS VARCHAR) || '.com'
        |    ELSE 'localhost' END AS host,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'h' || CAST(doc_id % 50 AS VARCHAR) || '.co.uk'
        |    WHEN 1 THEN 'h' || CAST(doc_id % 50 AS VARCHAR) || '.any.ck'
        |    WHEN 2 THEN 'www.ck'
        |    WHEN 3 THEN 'h' || CAST(doc_id % 50 AS VARCHAR) || '.github.io'
        |    WHEN 4 THEN 'h' || CAST(doc_id % 50 AS VARCHAR) || '.com'
        |    ELSE NULL END AS etld1
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_domain_etld" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'spam.co.uk'
        |    WHEN 1 THEN 'example.com.au'
        |    WHEN 2 THEN 'example.com'
        |    WHEN 3 THEN 's' || CAST(doc_id % 3 AS VARCHAR) || '.anylabel.ck'
        |    WHEN 4 THEN 'www.ck'
        |    ELSE 'mysite.github.io' END AS domain,
        |  (doc_id % 6 = 0) OR (doc_id % 6 = 5) AS blocked
        |FROM documents ORDER BY doc_id""".stripMargin,

    // keep-first of the planted lines, paragraph break intact
    "q_line_dedup" ->
      """SELECT doc_id,
        |  md5('promo banner' || chr(10) || 'line a ' || CAST(doc_id AS VARCHAR)
        |    || chr(10) || chr(10) || 'line b ' || CAST(doc_id % 5 AS VARCHAR))
        |    AS h,
        |  CAST(length('promo banner' || chr(10) || 'line a '
        |    || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || 'line b '
        |    || CAST(doc_id % 5 AS VARCHAR)) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the French content sentence survives (10 words, 6 French
    // stopwords: le, et, le, est, la, dans? — the oracle doesn't care:
    // it derives the surviving text from the arithmetic)
    "q_boilerplate_fr" ->
      """SELECT doc_id,
        |  md5('le chat et le chien est dans la maison '
        |    || CAST(doc_id AS VARCHAR)) AS h,
        |  CAST(length('le chat et le chien est dans la maison '
        |    || CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // verdicts from the generating arithmetic: hosts 0-8 carry robots
    // (class 0 public and class 2 deep-allow pass, class 1 private and
    // class 3 host-specific /x{k} are blocked); host 9 has no robots
    "q_robots_filter" ->
      """SELECT doc_id,
        |  (doc_id % 10 = 9) OR (doc_id % 4 = 2)
        |    OR (doc_id % 4 = 0 AND doc_id % 8 <> 0) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q_countmin's replay at 4×4096 (seed 11) + the candidate slice +
    // the deterministic (est desc, token) cut
    "q_heavy_hitters" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT t,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(t, '')]),
        |      (hh, cp) -> (hh * 131 + cp) % 1000000007)) AS fp
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |h AS MATERIALIZED (
        |  SELECT t,
        |    ((fp + 11) * 2654435761 % 1000000007) AS h1,
        |    (((fp + 315423915) * 2246822519) % 1000000006 + 1) AS h2
        |  FROM toks),
        |grid AS MATERIALIZED (
        |  SELECT u.j, ((h1 + u.j * h2) % 1000000007) % 4096 AS pos,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM h CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) u
        |  GROUP BY u.j, pos),
        |q AS (
        |  SELECT DISTINCT t FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
        |    WHERE doc_id % 5 = 0) WHERE t <> ''),
        |qh AS (
        |  SELECT t,
        |    ((fp + 11) * 2654435761 % 1000000007) AS h1,
        |    (((fp + 315423915) * 2246822519) % 1000000006 + 1) AS h2
        |  FROM (
        |    SELECT t,
        |      (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(t, '')]),
        |        (hh, cp) -> (hh * 131 + cp) % 1000000007)) AS fp
        |    FROM q)),
        |est AS (
        |  SELECT qh.t AS token, MIN(COALESCE(g.c, 0)) AS est
        |  FROM qh CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) u
        |  LEFT JOIN grid g
        |    ON g.j = u.j AND g.pos = ((qh.h1 + u.j * qh.h2) % 1000000007) % 4096
        |  GROUP BY qh.t)
        |SELECT token, est FROM est
        |ORDER BY est DESC, token LIMIT 15""".stripMargin,

    // replay the count-min grid: token hash → 3 double-hashed counter
    // positions (seed 9; second salt = (9 + 1315423911) % p), counters =
    // occurrence counts per (row, pos), estimate = min over rows
    "q_countmin" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT t,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(t, '')]),
        |      (hh, cp) -> (hh * 131 + cp) % 1000000007)) AS fp
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |h AS MATERIALIZED (
        |  SELECT t,
        |    ((fp + 9) * 2654435761 % 1000000007) AS h1,
        |    (((fp + 315423913) * 2246822519) % 1000000006 + 1) AS h2
        |  FROM toks),
        |grid AS MATERIALIZED (
        |  SELECT u.j, ((h1 + u.j * h2) % 1000000007) % 64 AS pos,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM h CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) u
        |  GROUP BY u.j, pos),
        |q AS (
        |  SELECT DISTINCT t FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
        |    WHERE doc_id < 10) WHERE t <> ''),
        |qh AS (
        |  SELECT t,
        |    ((fp + 9) * 2654435761 % 1000000007) AS h1,
        |    (((fp + 315423913) * 2246822519) % 1000000006 + 1) AS h2
        |  FROM (
        |    SELECT t,
        |      (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(t, '')]),
        |        (hh, cp) -> (hh * 131 + cp) % 1000000007)) AS fp
        |    FROM q))
        |SELECT qh.t AS token, MIN(COALESCE(g.c, 0)) AS est
        |FROM qh CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) u
        |LEFT JOIN grid g
        |  ON g.j = u.j AND g.pos = ((qh.h1 + u.j * qh.h2) % 1000000007) % 64
        |GROUP BY qh.t ORDER BY token""".stripMargin,

    "q_embed_norms" ->
      """SELECT label, count(*) AS n,
        |  ROUND(MIN(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS min_norm,
        |  ROUND(MAX(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS max_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "q_quantize_int8" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
        |    embedding
        |  FROM embeddings WHERE vec_id < 100),
        |c AS (
        |  SELECT vec_id, max_abs, embedding,
        |    list_transform(embedding, x -> CASE WHEN max_abs = 0 THEN 0
        |      ELSE CAST(floor(CAST(x AS DOUBLE) / max_abs * 127 + 0.5) AS INT) END) AS codes
        |  FROM b)
        |SELECT vec_id, max_abs,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(codes, x -> CAST(x AS BIGINT))), (a, v) -> a + v) AS code_sum,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(codes, x -> CAST(abs(x) AS BIGINT))), (a, v) -> a + v) AS code_abs_sum,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(list_zip(embedding, codes),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * max_abs / 127)
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * max_abs / 127))),
        |    (a, e) -> a + e) AS err2
        |FROM c ORDER BY vec_id""".stripMargin,

    "q_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.qv, e.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
        |  FROM documents),
        |pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents)
        |SELECT p.id_a, p.id_b,
        |  CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.s, b.s))) END AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.id_a
        |JOIN sh b ON b.doc_id = p.id_b
        |ORDER BY p.id_a""".stripMargin
  )
}

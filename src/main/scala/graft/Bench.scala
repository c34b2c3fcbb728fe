package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Driver contract: run every SparkEntry query (or the SPARK_GRAFT_QUERIES
  * subset, e.g. to bisect a regression) at SPARK_GRAFT_SF_DIR and print
  * ONE JSON line of per-query wall-clock seconds.
  *
  * Measurement hygiene:
  *  - results are written to the `noop` sink, which evaluates every output
  *    column (a bare `count()` lets Catalyst prune unreferenced projection
  *    work, so map-only queries would measure as free);
  *  - one unmeasured warmup run per query (codegen + JIT), then
  *    median-of-N measured runs (this box shows large transient outliers);
  *  - per-query {min, median, max, spread} are emitted so a regression can
  *    be told apart from host contention: an untouched query whose spread
  *    spans 20x is noise, a tight spread that moved is a plan change;
  *  - TWO fixed canaries are timed before and after the sweep (min of
  *    N after warmup — min tracks the machine's available capacity, not
  *    stragglers): a 0.2 s scan+shuffle (CPU/IO capacity) and a
  *    ~1-2 s 30-sequential-tiny-jobs probe (scheduler+collect latency —
  *    the term that dominates iterative queries like the perceptron
  *    epochs and that ambient load amplifies hardest). A swing in a
  *    many-small-jobs query with a matching canary_jobs swing is host
  *    drift; without one it is a plan change. If the scan canary's two
  *    ends diverge by more than 50 % AND 0.5 s the box was contended
  *    mid-run and the whole round is marked `"dirty": true` — per-query
  *    numbers are then unattributable;
  *  - failures are isolated per query: a broken query records an `"error"`
  *    entry (and forces a nonzero exit at the end) instead of erasing the
  *    other measurements — one analysis error must not null the whole
  *    round's perf artifact, but it must still fail the run loudly.
  */
object Bench {

  private def runOnce(spark: SparkSession, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, sfDir: String): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed load sentinel: one scan + one shuffle over lineitem. Cheap,
    * stable across rounds, and sensitive to both CPU and IO contention.
    */
  private def canaryOnce(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(org.apache.spark.sql.functions.sum("l_quantity"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** MID-WEIGHT canary: 30 tiny SEQUENTIAL jobs (~1-2 s total) — the
    * shape of the iterative queries (perceptron epochs, distributed BPE
    * merge rounds, bloom generation loops) whose wall time is dominated
    * by per-job scheduler+collect latency, which ambient host load
    * amplifies far more than it does one big scan. The 0.2 s scan canary
    * tracks CPU/IO capacity; this one tracks scheduling latency — with
    * both, a swing in a many-small-jobs query is mechanically
    * attributable to host drift vs a plan change. Pure Spark primitives
    * on purpose: operator-code changes must never move the canary.
    */
  private def canaryJobsOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < 30) {
      spark.range(200000L + i).selectExpr("sum(id * 3 + 1)").collect()
      i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def medianOf(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_QUERIES"))
    val spark = GraftSession(cpus, "Bench")
    // Warm the JVM/session so the first query isn't charged for executor
    // start; per-query warmup below handles per-plan codegen.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // canary warmup x3: JIT keeps speeding this plan up for a few runs, and
    // the canary must measure host contention, not warm-in drift
    (1 to 3).foreach(_ => canaryOnce(spark, sfDir))
    val canaryFirst = Seq.fill(5)(canaryOnce(spark, sfDir)).min
    (1 to 2).foreach(_ => canaryJobsOnce(spark))
    val canaryJobsFirst = Seq.fill(3)(canaryJobsOnce(spark)).min
    // fault injection for the isolation path itself: name a query here and
    // it throws instead of running — the artifact must still carry every
    // other measurement plus one "error" entry, and exit nonzero
    val inject = sys.env.get("SPARK_GRAFT_BENCH_INJECT_FAILURE")
    val queryMap = inject.fold(selected)(n =>
      selected + (n -> ((_: SparkSession, _: String) =>
        throw new RuntimeException("injected failure (SPARK_GRAFT_BENCH_INJECT_FAILURE)"))))
    val attempts: Seq[(String, Either[String, Seq[Double]])] =
      queryMap.toSeq.sortBy(_._1).map { case (name, fn) =>
        try {
          runOnce(spark, fn, sfDir) // warmup (codegen, shuffle-file cache)
          name -> Right(Seq.fill(runs)(runOnce(spark, fn, sfDir)).sorted)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            name -> Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
      }
    val results = attempts.collect { case (n, Right(ts)) => n -> ts }
    val failures = attempts.collect { case (n, Left(msg)) => n -> msg }
    val canaryLast = Seq.fill(5)(canaryOnce(spark, sfDir)).min
    val canaryJobsLast = Seq.fill(3)(canaryJobsOnce(spark)).min
    val canarySpread =
      math.max(canaryFirst, canaryLast) / math.max(math.min(canaryFirst, canaryLast), 1e-9) - 1.0
    val canaryJobsSpread =
      math.max(canaryJobsFirst, canaryJobsLast) /
        math.max(math.min(canaryJobsFirst, canaryJobsLast), 1e-9) - 1.0
    // relative drift alone would flag sub-second jitter at tiny SF; demand
    // both >50% drift and >0.5s absolute before declaring the round dirty
    val dirty = canarySpread > 0.5 && math.abs(canaryFirst - canaryLast) > 0.5
    def f(d: Double): String = "%.4f".format(d)
    val qs = results.map { case (k, ts) => "\"" + k + "\":" + f(medianOf(ts)) }
      .mkString("{", ",", "}")
    val stats = results.map { case (k, ts) =>
      val med = medianOf(ts)
      val spread = if (med > 0) (ts.max - ts.min) / med else 0.0
      "\"" + k + "\":{\"min\":" + f(ts.min) + ",\"median\":" + f(med) +
        ",\"max\":" + f(ts.max) + ",\"spread\":" + f(spread) + "}"
    }.mkString("{", ",", "}")
    val total = results.map(ts => medianOf(ts._2)).sum
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val errs = failures.map { case (k, msg) => "\"" + k + "\":" + jstr(msg) }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"stats":$stats,""" +
        s""""errors":$errs,"n_errors":${failures.size},""" +
        s""""canary":{"first":${f(canaryFirst)},"last":${f(canaryLast)},"spread":${f(canarySpread)}},""" +
        s""""canary_jobs":{"first":${f(canaryJobsFirst)},"last":${f(canaryJobsLast)},"spread":${f(canaryJobsSpread)}},""" +
        s""""dirty":$dirty,"runs":$runs,"sf":"$sfDir"}"""
    println(fullLine)
    // Compact SECOND line after the full stats: the driver's artifact
    // captures the output tail, and the full per-query line is ~15 KB —
    // truncation used to leave BENCH_r*.json unparseable. This line is
    // complete on its own: total, count, the 5 most expensive medians,
    // canary + dirty.
    val top5 = results.map { case (k, ts) => k -> medianOf(ts) }
      .sortBy(-_._2).take(5)
      .map { case (k, m) => "\"" + k + "\":" + f(m) }.mkString("{", ",", "}")
    val summaryLine =
      s"""{"metric":"summary","value":${f(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""n_errors":${failures.size},""" +
        s""""top5":$top5,"canary_first":${f(canaryFirst)},"canary_last":${f(canaryLast)},""" +
        s""""canary_jobs_first":${f(canaryJobsFirst)},"canary_jobs_last":${f(canaryJobsLast)},""" +
        s""""dirty":$dirty,"runs":$runs,"sf":"$sfDir"}"""
    println(summaryLine)
    // Belt-and-braces for the driver's line parser (its artifact keeps only a
    // truncated stdout tail, and BENCH_r14/r15 both ended "parsed": null):
    // ALSO write the two JSON lines to a file. Purely additive — stdout
    // carries the exact same lines it always has.
    try {
      // one file per core count, so a c8 sweep keeps the c32 sweep's data
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", s"bench_summary_c$cpus.json")
      val w = new java.io.PrintWriter(new java.io.File(out), "UTF-8")
      // PrintWriter never throws on I/O: it only sets an error flag
      try {
        w.println(fullLine); w.println(summaryLine)
        if (w.checkError()) throw new java.io.IOException(s"write to $out failed")
      } finally w.close()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] summary file write failed (non-fatal): $e")
    }
    spark.stop()
    // Nonzero exit AFTER emitting partial numbers: the artifact stays
    // parseable, the failure stays loud.
    if (failures.nonEmpty) sys.exit(1)
  }
}

package graft
/** Dev utility: print explain("formatted") for the named queries. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession(GraftSession.cpus, "PlanDump")
    // SPARK_GRAFT_NO_AQE=1: static planning, so ReuseExchange shows in
    // explain output (AQE reuses stages at runtime without printing it)
    if (sys.env.contains("SPARK_GRAFT_NO_AQE"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    // "exec:<name>" runs the query first and prints the FINAL adaptive plan
    // (shows runtime decisions: ReusedExchange, AQE join/coalesce choices).
    args.foreach { q =>
      if (q.startsWith("exec:")) {
        val name = q.stripPrefix("exec:")
        println(s"========== FINAL PLAN $name ==========")
        val df = SparkEntry.queries(name)(spark, dir)
        df.foreach(_ => ()) // execute THIS plan so AQE finalizes it
        println(df.queryExecution.executedPlan.toString)
      } else {
        println(s"========== PLAN $q ==========")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}

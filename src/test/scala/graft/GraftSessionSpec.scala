package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory of the mains and specs, and the
  * `SPARK_GRAFT_QUERIES` selector that `Bench` and `Verify` share.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("a factory session reports local[n], n shuffle partitions, UTC, AQE on, UI off") {
    // master is fixed when a SparkContext starts, so this case needs its
    // own context; it hands the other suites back the usual local[4] one
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = GraftSession(3, "GraftSessionSpec")
    try {
      assert(spark.sparkContext.master == "local[3]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(spark.sparkContext.uiWebUrl.isEmpty)
      assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
      assert(java.util.Locale.getDefault(java.util.Locale.Category.FORMAT) ==
        java.util.Locale.ROOT)
    } finally {
      spark.stop()
      GraftSession(4, "SparkSpecBase")
    }
  }

  test("SPARK_GRAFT_QUERIES: unset or empty selects every gate, a subset exactly itself, an unknown name throws") {
    val all = SparkEntry.queries.keySet
    assert(all.size == 157)
    assert(SparkEntry.selected(None).keySet == all)
    assert(SparkEntry.selected(Some("")).keySet == all)
    assert(SparkEntry.selected(Some(" , ")).keySet == all)
    assert(SparkEntry.selected(Some("q_stream_route")).keySet == Set("q_stream_route"))
    assert(SparkEntry.selected(Some("q_stream_route, q_dedup_keep_best")).keySet ==
      Set("q_stream_route", "q_dedup_keep_best"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selected(Some("q_stream_route,no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
    assert(e.getMessage.contains("valid: ") && e.getMessage.contains("q_stream_route"),
      e.getMessage)
  }
}

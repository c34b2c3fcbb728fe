package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of every main and every spec, so their
  * configs cannot drift: `local[n]` with `n` shuffle partitions, UTC
  * session time, AQE on, UI off, WARN logs. It also sets the JVM's
  * FORMAT locale to ROOT, so `%f` in the JSON lines the mains print never
  * writes a decimal comma. Only FORMAT: with ROOT as the whole default
  * locale, Derby cannot create a database (the JDBC heuristics sink).
  * Artifact isolation is off ([[shareCompiledCode]]).
  */
object GraftSession {

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else 4. The default is the one
    * the driver-contract mains have always had: it fixes Verify's shuffle
    * partition count, and with it the fold order of double sums under the
    * hash-exact oracle gate.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def apply(n: Int, appName: String): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.Category.FORMAT, java.util.Locale.ROOT)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    shareCompiledCode(spark)
    spark
  }

  /** Let every session cloned from `spark` find the classes that earlier
    * queries compiled. Each streaming query runs on a clone of its
    * caller's session; with `spark.sql.artifact.isolation.enabled` on (the
    * default) each clone gets its own artifact class loader, Spark's
    * codegen cache is keyed on the class loader, and so every reader start
    * recompiled its whole plan and the JIT warmed the new classes again.
    * graft adds no artifacts (jars, files) to a session, so isolation
    * guards nothing here. The setting is read when a session first runs a
    * job: the factory sets it on a new session, and the reader entry
    * points set it on their caller's session before the query clones it.
    */
  def shareCompiledCode(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
}

package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of every main and every spec, so their
  * configs cannot drift: `local[n]` with `n` shuffle partitions, UTC
  * session time, AQE on, UI off, WARN logs. It also sets the JVM's
  * FORMAT locale to ROOT, so `%f` in the JSON lines the mains print never
  * writes a decimal comma. Only FORMAT: with ROOT as the whole default
  * locale, Derby cannot create a database (the JDBC heuristics sink).
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
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of every main and every spec, so their
  * configs cannot drift: `local[n]` with `n` shuffle partitions, UTC
  * session time, AQE on, UI off, WARN logs. It also sets the JVM's
  * FORMAT locale to ROOT, so `%f` in the JSON lines the mains print never
  * writes a decimal comma. Only FORMAT: with ROOT as the whole default
  * locale, Derby cannot create a database (the JDBC heuristics sink).
  * Artifact isolation is off and the `file:` scheme is graft's fork-free
  * local file system ([[configure]]).
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
    configure(spark)
    spark
  }

  /** Set, on `spark`'s own session conf, what every graft session and
    * every streaming query cloned from it needs. This MUTATES the caller's
    * session: the reader entry points ([[graft.streaming.EventRouter.routeTyped]],
    * [[graft.streaming.EventSink.partitionedStreamWriter]],
    * [[graft.serving.HeuristicsSink.streamWriter]]) call it on the session
    * of the frame they are given, before the query clones that session, and
    * the factory calls it on each session it builds.
    *
    *  - Artifact isolation off. With `spark.sql.artifact.isolation.enabled`
    *    on (the default) each cloned session gets its own artifact class
    *    loader, Spark's codegen cache is keyed on the class loader, and so
    *    every reader start recompiled its whole plan and the JIT warmed the
    *    new classes again. graft adds no artifacts (jars, files) to a
    *    session, so isolation guards nothing here. The setting is read when
    *    a session first runs a job.
    *  - The `file:` scheme, for FileSystem and FileContext alike, is
    *    [[ForkFreeLocalFileSystem]] / [[ForkFreeLocalFs]]: Hadoop's own
    *    checksummed local file system except that it sets a new file's or
    *    directory's permission and stats a rename's source and target from
    *    the JVM. Without libhadoop, Hadoop's own forks `chmod` once per file
    *    and directory it creates and `readlink` for each of those stats, and
    *    a reader batch creates and renames dozens of files: checkpoint
    *    logs, state-store deltas, sink and route files and their `.crc`s.
    *    Its FileContext flavour also verifies `.crc` files on `open(path)`,
    *    the call Spark's checkpoint and state-store reads make.
    *    `sessionState.newHadoopConf()` carries the keys to the checkpoint,
    *    the state store, the file sink and the route writer. Hadoop caches
    *    one `file:` FileSystem per JVM whatever the conf says, so the
    *    session's lookups bypass that cache and build a new instance each.
    *    Code that takes its FS from `sparkContext.hadoopConfiguration`
    *    still gets Hadoop's.
    */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    spark.conf.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    spark.conf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
  }
}

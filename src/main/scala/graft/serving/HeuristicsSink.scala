package graft.serving

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** S8: the heuristic-results JDBC sink.
  *
  * The reference writes one row per heuristic result plus detail rows into
  * the Dr-Elephant-compatible tables via prepared statements
  * (reference: readers/heuristics/src/main/java/.../HeuristicsResultDB.java:24-110,
  * HeuristicResult.java:10-60). The Spark shape: normalize any heuristic
  * aggregate ([[graft.heuristics.HeuristicAggs]] output) into the result
  * schema with [[resultRows]], then `df.write.jdbc` per micro-batch
  * ([[streamWriter]]) or once for a batch job ([[writeResults]]).
  *
  * One deliberate delta: the reference links detail rows to results via the
  * DB's auto-increment key (HeuristicsResultDB.java:88-97 reads generated
  * keys row-by-row — inherently serial). A distributed writer can't round-trip
  * generated keys, so details join on the deterministic composite key
  * (yarn_app_result_id, heuristic_name) instead — same information, scale-safe.
  * THE KEY MUST BE UNIQUE PER RESULT ROW: heuristics that emit one row per
  * INSTANCE within an attempt (per-container gcCause, per-device splits)
  * must pass `instanceCol` to BOTH [[resultRows]] and [[detailRows]] so the
  * instance rides the name (`Simple@attempt@container`) — without it the
  * detail join fans out across same-key siblings and misattributes counters.
  */
object HeuristicsSink {

  val ResultTable = "garmadon_yarn_app_heuristic_result"
  val DetailsTable = "garmadon_yarn_app_heuristic_result_details"

  /** Normalize a heuristic output to the result-row schema
    * (HeuristicsResultDB.java:27-30): app id, heuristic class FQCN,
    * `SimpleName@attemptId`, severity, score, ready=1.
    */
  def resultRows(heuristic: DataFrame, heuristicClass: String,
                 severityCol: String = "severity", scoreCol: Option[String] = None,
                 instanceCol: Option[String] = None): DataFrame = {
    heuristic.select(
      col("application_id").as("yarn_app_result_id"),
      lit(heuristicClass).as("heuristic_class"),
      heuristicName(heuristicClass, instanceCol),
      col(severityCol).cast("int").as("severity"),
      scoreCol.map(c => col(c).cast("int")).getOrElse(lit(0)).as("score"),
      lit(1).as("ready"))
  }

  /** `Simple@attempt` (per-attempt heuristics) or
    * `Simple@attempt@instance` (per-container/per-device heuristics) —
    * ONE definition so results and details can never disagree on the
    * composite key.
    */
  private def heuristicName(heuristicClass: String,
                            instanceCol: Option[String]): org.apache.spark.sql.Column = {
    val simpleName = heuristicClass.split('.').last
    val base = concat(lit(simpleName), lit("@"), col("attempt_id"))
    instanceCol.fold(base)(c => concat(base, lit("@"), col(c)))
      .as("heuristic_name")
  }

  /** Detail rows: (result key, name, value, details) — one row per named
    * counter, joined to results on the composite key (see object scaladoc;
    * `instanceCol` must match the [[resultRows]] call's).
    */
  def detailRows(heuristic: DataFrame, heuristicClass: String,
                 nameValueCols: Seq[(String, String)],
                 instanceCol: Option[String] = None): DataFrame = {
    val base = heuristic.select(
      col("application_id").as("yarn_app_result_id"),
      heuristicName(heuristicClass, instanceCol),
      array(nameValueCols.map { case (n, vc) =>
        struct(lit(n).as("name"), col(vc).cast("string").as("value"))
      }: _*).as("_d"))
    base.select(col("yarn_app_result_id"), col("heuristic_name"), explode(col("_d")).as("d"))
      .select(col("yarn_app_result_id"), col("heuristic_name"),
        col("d.name").as("name"), col("d.value").as("value"),
        // a bare lit(null) is NullType (SQL void), which the JDBC writer
        // cannot map to a column type — writeResults over detail rows
        // would throw at CREATE TABLE; cast pins the declared varchar
        lit(null).cast("string").as("details"))
  }

  private def props(user: String, password: String, driver: Option[String]): Properties = {
    val p = new Properties()
    if (user.nonEmpty) p.setProperty("user", user)
    if (password.nonEmpty) p.setProperty("password", password)
    driver.foreach(p.setProperty("driver", _))
    p
  }

  /** Batch write (also the per-micro-batch body). Spark's JDBC writer
    * creates the table from the DataFrame schema if absent and batches
    * inserts (`batchsize`), replacing the reference's per-row prepared
    * statements with bulk writes per partition.
    */
  def writeResults(results: DataFrame, url: String, table: String = ResultTable,
                   user: String = "", password: String = "",
                   driver: Option[String] = None): Unit =
    results.write.mode(SaveMode.Append).option("batchsize", 1000)
      .jdbc(url, table, props(user, password, driver))

  /** Streaming flavor: results stream → JDBC per micro-batch, exactly the
    * reference's consume-and-insert loop with Spark's checkpointed
    * at-least-once semantics (duplicate tolerance is the same as the
    * reference's replay-after-crash behavior). Like the other readers'
    * entry points, it configures the caller's session
    * ([[graft.GraftSession.configure]]): shared compiled code, and graft's
    * fork-free local file system for the checkpoint and the state store.
    */
  def streamWriter(results: DataFrame, url: String, table: String = ResultTable,
                   user: String = "", password: String = "",
                   driver: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.GraftSession.configure(results.sparkSession)
    results.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      writeResults(batch, url, table, user, password, driver)
    }
  }
}

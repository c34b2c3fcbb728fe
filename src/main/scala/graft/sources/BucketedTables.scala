package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Bucketed (co-located) table support: the third leg of the shuffle-
  * avoidance toolkit next to broadcast (small dims) and AQE skew handling
  * (`Joins.saltedEquiJoin`). A fact table written `bucketBy(n, key)` is
  * physically hash-partitioned on disk; two tables bucketed on the same
  * key with the same bucket count join with ZERO exchanges — at 100 TB
  * the repeated lineitem⋈orders-shaped join skips shuffling both sides
  * every time it runs, which is the single largest recurring cost in a
  * fact-to-fact pipeline. `sortBy(key)` additionally lets sort-merge join
  * skip its sorts.
  *
  * Scale notes:
  *  - bucket count is a LAYOUT decision: pick it for the target cluster
  *    (e.g. 4–8× executor count), not the current session's
  *    `spark.sql.shuffle.partitions`; all co-located readers must agree.
  *  - bucketing pays off when the table is joined/aggregated on the bucket
  *    key repeatedly; for one-shot joins the write-side shuffle costs the
  *    same as the join shuffle it saves.
  *  - [[countShuffles]] is the plan witness: assert 0 on the join of two
  *    co-bucketed tables (used by `q_bucketed_join` and
  *    `BucketedTablesSpec` so the property is checked, not assumed).
  */
object BucketedTables {

  /** Scratch directory for throwaway on-disk fixtures, deleted recursively
    * on JVM exit — the ONE temp-dir discipline for every gate/bench
    * fixture in the engine (bucketed layouts here; signature/banded tables
    * and IVF stores in `SparkEntry`). Gate/bench queries
    * write fixtures INSIDE the query closure, where eager deletion is
    * impossible (the returned lazy plan still reads the files) — without
    * the hook every invocation leaks a directory. The unique stamp in the
    * name doubles as a table-name suffix so concurrent runs sharing a
    * warehouse cannot race on a fixed catalog name.
    */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  // ONE hook for all scratch dirs: a hook per call would accumulate an
  // unbounded thread list over a long bench/serving run.
  private lazy val cleanupHook: Unit = {
    import java.nio.file.{Files, Path}
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { dir =>
        try {
          val walk = Files.walk(dir)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach((p: Path) => { Files.deleteIfExists(p); () })
          finally walk.close()
        } catch { case _: Exception => () } // best-effort: never block JVM exit
      }
    }))
  }

  def scratchDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    cleanupHook
    scratchDirs.add(dir)
    dir
  }

  /** Write `df` as a bucketed, per-bucket-sorted parquet catalog table.
    * `path` makes it an external table (data under `path`, metadata in the
    * session catalog) — at corpus scale the location is a real layout
    * decision, not a warehouse default.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    path: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    // repartition on the key with the bucket count first: same hash as the
    // bucketizer, so each task holds exactly one bucket → ONE file per
    // bucket. Without it every input task writes a file per bucket (small-
    // file explosion at scale) and a multi-file bucket loses the sorted-
    // scan property (SMJ re-sorts it).
    val w = df.repartition(buckets, col(key))
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Equi-join two co-bucketed catalog tables on their bucket key. The
    * merge hint pins sort-merge join (a broadcast pick at toy scale would
    * hide the co-location; at real scale SMJ is what the planner chooses
    * anyway), and bucketing makes it exchange-free on both sides.
    */
  def bucketedEquiJoin(spark: SparkSession, leftTable: String, rightTable: String,
                       leftKey: String, rightKey: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable), col(leftKey) === col(rightKey))
  }

  /** Number of shuffle exchanges in the executed physical plan — the
    * co-location witness: 0 for a bucketed-bucketed equi-join. Must look at
    * `executedPlan` (post-EnsureRequirements; `sparkPlan` has no exchanges
    * yet, making any shuffle count there vacuously 0) and descend through
    * AQE wrapper nodes, which `collect` alone does not.
    */
  def countShuffles(df: DataFrame): Int =
    PlanWitness.countShuffles(df)

  /** Executed-plan inspection that sees through AdaptiveSparkPlanExec. */
  object PlanWitness extends AdaptiveSparkPlanHelper {
    def countShuffles(df: DataFrame): Int =
      collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size

    def collectNodes[A](df: DataFrame)(f: PartialFunction[SparkPlan, A]): Seq[A] =
      collect(df.queryExecution.executedPlan)(f)
  }
}

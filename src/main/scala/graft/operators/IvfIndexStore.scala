package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Functions => F, VectorExpressions}

/** Versioned, maintainable serving store for the IVF ANN index.
  *
  * [[Similarity.writeIvfIndex]] materializes the classic inverted-file index
  * as a `partitionBy(cid)` parquet layout; this object adds the operational
  * loop a 100 TB corpus needs around that layout — the ANN analog of the
  * dedup serving-table maintenance in [[Dedup.recapBandedTable]] /
  * [[graft.streaming.IncrementalDedup]]:
  *
  *  - '''Generations + atomic flip.''' Each build lands in its own
  *    `gen-<stamp>/` dir (index + centroids + `_LAYOUT.json`); a `_CURRENT`
  *    pointer file is flipped atomically ([[Manifests.writeAtomic]]) only
  *    after the generation is fully written. Readers resolve through
  *    `_CURRENT`, so a retrain in progress — or a crash mid-build — never
  *    exposes a torn index (the ES-reader analog is serving through index
  *    aliases while new dailies build:
  *    reference readers/elasticsearch/.../ElasticSearchReader.java:205-228).
  *  - '''Map-only appends.''' New vectors are assigned to the CURRENT
  *    generation's centroids (a literal array inside the codegen
  *    [[VectorExpressions.centroid_probes]] — no shuffle, no corpus read)
  *    and appended into the partitioned layout. Append cost is
  *    O(increment), independent of index size.
  *  - '''Drift measurement, not guesswork.''' [[driftStats]] reports per-
  *    cluster population and mean cosine-to-own-centroid from the index
  *    itself; [[retrainAdvised]] turns the population skew into a retrain
  *    trigger. Appends degrade an IVF index gradually (new mass lands in
  *    stale clusters); the stats make the degradation observable before it
  *    becomes bad recall.
  *  - '''Layout stamp with a centroid fingerprint.''' Serving an IVF layout
  *    with ANY centroids other than the ones it was assigned with silently
  *    probes the wrong partitions — bad recall, no error: the same
  *    worst-case failure mode [[DedupLayout]] guards against. The
  *    generation's `_LAYOUT.json` stamps (numCentroids, dim, quantized,
  *    column names, a 64-bit centroid fingerprint); every serve re-hashes
  *    the centroids it loaded and refuses on mismatch.
  *  - '''Replay repair.''' At-least-once upstream delivery can replay an
  *    append; duplicate id rows would surface a neighbor at two ranks.
  *    [[compactGeneration]] rewrites each cid partition through
  *    [[Dedup.rewriteTableDir]] (per-partition lock + trash + crash
  *    recovery reused wholesale), restoring one-row-per-id and folding the
  *    append small-files back to `targetFiles` per partition.
  */
object IvfIndexStore {

  val CurrentName = "_CURRENT"
  val LayoutName = "_LAYOUT.json"

  case class IndexLayout(numCentroids: Int, dim: Int, quantized: Boolean,
                         idCol: String, vecCol: String, centroidsHash: Long,
                         payloadCols: Seq[String] = Nil)

  /** Order-sensitive FNV-1a over the raw double bits — centroid tables are
    * written and read in cid order, so equal arrays hash equal and any
    * value/order/count drift changes the fingerprint.
    */
  def centroidsHash(cs: Array[Array[Double]]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < cs.length) {
      val row = cs(i)
      var j = 0
      while (j < row.length) {
        var bits = java.lang.Double.doubleToLongBits(row(j))
        var b = 0
        while (b < 8) { h = (h ^ (bits & 0xff)) * 0x100000001b3L; bits >>>= 8; b += 1 }
        j += 1
      }
      i += 1
    }
    h
  }

  private def toJson(l: IndexLayout): String =
    s"""{"numCentroids":${l.numCentroids},"dim":${l.dim},"quantized":${l.quantized},""" +
      s""""idCol":"${l.idCol}","vecCol":"${l.vecCol}","centroidsHash":${l.centroidsHash},""" +
      s""""payloadCols":"${l.payloadCols.mkString(",")}"}"""

  private def parseLayout(s: String): IndexLayout =
    IndexLayout(
      Manifests.numField(s, "numCentroids").toInt,
      Manifests.numField(s, "dim").toInt,
      Manifests.numField(s, "quantized").toBoolean,
      Manifests.strField(s, "idCol"),
      Manifests.strField(s, "vecCol"),
      Manifests.numField(s, "centroidsHash").toLong,
      // absent in pre-payload stamps: treat as "no payload columns"
      (try Manifests.strField(s, "payloadCols") catch { case _: IllegalStateException => "" })
        .split(",").filter(_.nonEmpty).toSeq)

  def currentGeneration(spark: SparkSession, rootPath: String): Option[String] =
    Manifests.read(spark, s"$rootPath/$CurrentName")
      .map(Manifests.strField(_, "generation"))

  private def genOrFail(spark: SparkSession, rootPath: String): String =
    currentGeneration(spark, rootPath).getOrElse(throw new IllegalStateException(
      s"no $CurrentName pointer at $rootPath — the store has no committed generation " +
        "(build one with writeGeneration)"))

  def readLayout(spark: SparkSession, rootPath: String, gen: String): IndexLayout =
    parseLayout(Manifests.read(spark, s"$rootPath/$gen/$LayoutName")
      .getOrElse(throw new IllegalStateException(
        s"generation $gen at $rootPath has no $LayoutName — refusing to serve an unstamped index")))

  def indexPath(rootPath: String, gen: String): String = s"$rootPath/$gen/index"

  /** Load + verify the generation's centroids: the fingerprint check turns
    * "swapped/corrupted centroid table" from silent bad recall into a loud
    * error.
    */
  def loadCentroids(spark: SparkSession, rootPath: String, gen: String,
                    layout: IndexLayout): Array[Array[Double]] = {
    val cs = Similarity.readCentroids(spark, s"$rootPath/$gen/centroids")
    val h = centroidsHash(cs)
    if (cs.length != layout.numCentroids || h != layout.centroidsHash)
      throw new IllegalStateException(
        s"centroid fingerprint mismatch for $gen at $rootPath: layout stamps " +
          s"${layout.numCentroids} centroids / hash ${layout.centroidsHash}, loaded " +
          s"${cs.length} / hash $h — serving with drifted centroids probes the wrong " +
          "partitions silently; rebuild the generation")
    cs
  }

  /** Build a complete generation (index layout + centroids + stamp) and
    * atomically flip `_CURRENT` to it. Everything is written BEFORE the
    * flip; a crash at any earlier point leaves an orphan `gen-*` dir that
    * [[dropStaleGenerations]] sweeps, with the previous generation still
    * served. Returns the new generation name.
    */
  def writeGeneration(spark: SparkSession, corpus: DataFrame, idCol: String,
                      vecCol: String, centroids: Array[Array[Double]],
                      rootPath: String, quantized: Boolean = false,
                      payloadCols: Seq[String] = Nil): String = {
    require(centroids.nonEmpty, s"writeGeneration at $rootPath needs >= 1 centroid")
    require(payloadCols.isEmpty || !quantized,
      s"payload columns are not supported on the quantized layout at $rootPath " +
        "(codes-only rows; serve metadata filters from the full-precision store)")
    // the centroids DEFINE the space: per-row raise_error guard inside the
    // build projection (one pass — a separate min/max aggregate would
    // double the build's read I/O) fails loudly on any corpus row whose
    // dimension disagrees, covering both mixed-dim and wrong-dim-corpus
    val dim = centroids(0).length
    val guarded = corpus.withColumn(vecCol,
      when(size(col(vecCol)) === dim, col(vecCol))
        .otherwise(raise_error(concat(
          lit("corpus vector dimension "), size(col(vecCol)).cast("string"),
          lit(s" does not match the centroid dimension $dim at $rootPath")))))
    val stamp = System.currentTimeMillis() + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    val gen = s"gen-$stamp"
    if (quantized)
      Similarity.writeIvfIndexQuantized(guarded, idCol, vecCol, centroids,
        indexPath(rootPath, gen))
    else
      Similarity.writeIvfIndex(guarded, idCol, vecCol, centroids,
        indexPath(rootPath, gen), payloadCols)
    // emptiness check AFTER the write (free — a directory listing, not a
    // corpus scan): never flip _CURRENT to a generation with no rows; a
    // transiently empty store of record must not replace a served index
    val idxDir = new org.apache.hadoop.fs.Path(indexPath(rootPath, gen))
    val fs = idxDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasRows = fs.exists(idxDir) && fs.listStatus(idxDir)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
    if (!hasRows) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$rootPath/$gen"), true)
      throw new IllegalArgumentException(
        s"writeGeneration on an EMPTY corpus at $rootPath — refusing to build and " +
          "flip to a generation with no rows (a transiently empty store of record " +
          "must not replace a served index)")
    }
    Similarity.writeCentroids(spark, centroids, s"$rootPath/$gen/centroids")
    Manifests.writeAtomic(spark, s"$rootPath/$gen/$LayoutName",
      toJson(IndexLayout(centroids.length, dim, quantized, idCol, vecCol,
        centroidsHash(centroids), payloadCols)))
    // a sweep racing this build may have observation-stamped the dir as
    // stale ([[dropStaleGenerations]]) — clear that before making it
    // current, or the NEXT sweep would measure the serving generation's
    // "staleness" from mid-build
    fs.delete(new org.apache.hadoop.fs.Path(s"$rootPath/$gen/$StaleSinceName"), false)
    val previous = currentGeneration(spark, rootPath)
    Manifests.writeAtomic(spark, s"$rootPath/$CurrentName",
      s"""{"generation":"$gen"}""")
    // the flip IS the staleness instant of the superseded generation —
    // stamp it so the sweep grace runs from NOW, not from its build mtime
    previous.filter(_ != gen).foreach { old =>
      val oldDir = new org.apache.hadoop.fs.Path(s"$rootPath/$old")
      if (fs.exists(oldDir)) markStaleSince(fs, oldDir)
    }
    gen
  }

  /** Retrain from the primary corpus and flip to the new generation. The
    * primary corpus is passed explicitly (an index is derived data; the
    * quantized flavor doesn't even hold full-precision vectors), so retrain
    * reads the store of record, never its own possibly-degraded layout.
    */
  def retrain(spark: SparkSession, corpus: DataFrame, idCol: String, vecCol: String,
              rootPath: String, numCentroids: Int, iters: Int = 3,
              quantized: Boolean = false): String =
    writeGeneration(spark, corpus, idCol, vecCol,
      Similarity.trainCentroids(corpus, idCol, vecCol, numCentroids, iters),
      rootPath, quantized)

  /** Map-only append of an increment into the CURRENT generation: assign
    * each new vector to its nearest stamped centroid and append into the
    * partitioned layout. No shuffle, no read of the existing index — cost
    * is O(increment) regardless of index size. Column names and dimension
    * are verified against the stamp first (a wrong-dim increment must fail
    * loudly, not score garbage cosines forever after).
    */
  def append(spark: SparkSession, increment: DataFrame, idCol: String,
             vecCol: String, rootPath: String): String = {
    val gen = genOrFail(spark, rootPath)
    val layout = readLayout(spark, rootPath, gen)
    appendResolved(spark, increment, idCol, vecCol, rootPath, gen, layout,
      loadCentroids(spark, rootPath, gen, layout))
    gen
  }

  /** [[append]] body against an ALREADY-RESOLVED generation — the internal
    * entry [[dedupAppendBatch]] uses so its probe and its append cannot
    * straddle a `_CURRENT` flip from a concurrent retrain.
    */
  private def appendResolved(spark: SparkSession, increment: DataFrame,
                             idCol: String, vecCol: String, rootPath: String,
                             gen: String, layout: IndexLayout,
                             centroids: Array[Array[Double]]): Unit = {
    require(layout.idCol == idCol && layout.vecCol == vecCol,
      s"append columns ($idCol, $vecCol) do not match the index stamp " +
        s"(${layout.idCol}, ${layout.vecCol}) at $rootPath/$gen")
    // empty-increment short-circuit: a limit-1 probe is far cheaper than
    // the parquet write job (+ _SUCCESS rewrite) an empty append would
    // launch — the common case for idle stream triggers and all-duplicate
    // dedup batches
    if (increment.isEmpty) return
    // per-row dim guard INSIDE the projection — a single-row peek would
    // let a mixed-dimension increment through (CentroidProbes/VecDot
    // truncate to min(length), poisoning the index with garbage-cid rows
    // that never error afterwards), and a separate min/max aggregate
    // would put a shuffle into the measured map-only append path. The
    // guarded column fails the write loudly on the first bad row.
    val vecG = when(size(col(vecCol)) === layout.dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit("increment vector dimension "), size(col(vecCol)).cast("string"),
        lit(s" does not match the index dimension ${layout.dim} at $rootPath/$gen"))))
    val path = indexPath(rootPath, gen)
    val cid = element_at(
      VectorExpressions.centroid_probes(vecG, centroids, 1), 1).as("cid")
    val rows =
      if (layout.quantized) {
        // codegen kernel, matching the BUILD pass (writeIvfIndexQuantized
        // got it in r12; this append site still carried the interpreted
        // array_max(transform(…)) lambda on the increment path) — and
        // the same loud-null-element discipline
        val maxAbs = VectorExpressions.vec_max_abs(vecG)
        increment.select(col(idCol), cid, maxAbs.as("max_abs"), vecG.as("_v"))
          .select(col(idCol), col("cid"), col("max_abs"),
            Similarity.int8Codes(col("_v"), col("max_abs")).as("codes"))
      } else
        increment.select(col(idCol) +: vecG.as(vecCol) +:
          layout.payloadCols.map(col) :+ cid: _*)
    rows.write.mode("append").partitionBy("cid").parquet(path)
  }

  /** Per-cluster health of the CURRENT generation, computed from the index
    * itself: population and mean cosine to the own centroid (for the
    * quantized layout the codes are used directly — cosine is
    * scale-invariant, so cos(codes, centroid) IS cos(vector, centroid) up
    * to quantization error). One scan, one small (numCentroids-row)
    * aggregate. Emits (cid, n, mean_cos).
    */
  def driftStats(spark: SparkSession, rootPath: String): DataFrame = {
    val gen = genOrFail(spark, rootPath)
    val layout = readLayout(spark, rootPath, gen)
    // fingerprint-gated load: silent bad HEALTH numbers from drifted
    // centroids would be as damaging as silent bad recall — retrain
    // decisions hang off these stats
    val cents = loadCentroids(spark, rootPath, gen, layout)
    import spark.implicits._
    val centDf = cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "_centroid")
    val vecExpr = if (layout.quantized) col("codes") else col(layout.vecCol)
    spark.read.parquet(indexPath(rootPath, gen))
      .join(broadcast(centDf), "cid")
      .select(col("cid"), F.cosine(vecExpr, col("_centroid")).as("_cos"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), avg("_cos").as("mean_cos"))
  }

  /** Retrain trigger from [[driftStats]] output: true when the most
    * populated cluster exceeds `maxImbalance` times the mean population —
    * the signature of append mass landing in stale clusters (probe cost for
    * queries near that centroid grows with the cluster, which is exactly
    * the degradation IVF partitioning exists to bound).
    */
  def retrainAdvised(stats: DataFrame, maxImbalance: Double = 4.0): Boolean = {
    val r = stats.agg(max("n").as("mx"), avg("n").as("av")).first()
    if (r.isNullAt(0)) false else r.getLong(0) > maxImbalance * r.getDouble(1)
  }

  /** Repair + compact the CURRENT generation's partitions: per-cid
    * [[Dedup.rewriteTableDir]] (lock / trash / crash-recovery discipline
    * reused) dropping replay-duplicate ids and folding append small files
    * to `targetFiles` per partition. Returns the number of partitions
    * rewritten.
    */
  def compactGeneration(spark: SparkSession, rootPath: String,
                        targetFiles: Int = 1,
                        timeout: scala.concurrent.duration.Duration =
                          scala.concurrent.duration.Duration(600, "s"),
                        parallelism: Int = Maintenance.DefaultSweepParallelism): Int = {
    val gen = genOrFail(spark, rootPath)
    val layout = readLayout(spark, rootPath, gen)
    val dir = new org.apache.hadoop.fs.Path(indexPath(rootPath, gen))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val parts = fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
    // partitions compact in parallel (per-partition locks; the scheduler
    // is thread-safe) — serial per-cid Spark jobs would make the sweep
    // O(numCentroids) in job-launch latency. Pool lifecycle + the
    // failed-sweep interrupt/drain discipline live in the shared helper.
    Maintenance.parallelSweep(parts.toSeq, s"compactGeneration at $rootPath",
      parallelism, timeout) { p =>
      Dedup.rewriteTableDir(spark, p.getPath.toString,
        _.dropDuplicates(layout.idCol), targetFiles)
    }.count(identity)
  }

  /** Delete ids from the CURRENT generation — the right-to-erasure path.
    * One column-pruned scan of (id, cid) locates the affected partitions;
    * each is then rewritten through [[Dedup.rewriteTableDir]] with an
    * id drop (same lock/trash/crash-recovery discipline as compaction —
    * a crash mid-delete restores the ORIGINAL rows, never a half-deleted
    * partition, and [[recoverGenerationMaintenance]] repairs it).
    * Untouched partitions are never read again or rewritten. Returns the
    * number of partitions rewritten.
    *
    * `ids` is driver-sized (an erasure batch, not a corpus) — it rides
    * into the rewrite predicates as a literal `isin`.
    */
  def deleteIds(spark: SparkSession, rootPath: String, ids: Seq[Long],
                targetFiles: Int = 1): Int = {
    if (ids.isEmpty) return 0
    val gen = genOrFail(spark, rootPath)
    val layout = readLayout(spark, rootPath, gen)
    val path = indexPath(rootPath, gen)
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val affected = spark.read.parquet(path)
      .where(col(layout.idCol).isin(ids: _*))
      .select("cid").distinct().collect().map(_.getInt(0)).toSet
    val parts = fs.listStatus(dir).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("cid=") &&
      affected.contains(s.getPath.getName.stripPrefix("cid=").toInt))
    parts.count(p => Dedup.rewriteTableDir(spark, p.getPath.toString,
      _.where(!col(layout.idCol).isin(ids: _*)), targetFiles))
  }

  /** Run [[Dedup.recoverTableMaintenance]] over every partition of the
    * CURRENT generation — call at maintainer startup to repair
    * [[compactGeneration]] runs that died mid-swap. Returns the number of
    * partitions that had something to restore.
    */
  def recoverGenerationMaintenance(spark: SparkSession, rootPath: String): Int = {
    val gen = genOrFail(spark, rootPath)
    val dir = new org.apache.hadoop.fs.Path(indexPath(rootPath, gen))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
      .count(p => Dedup.recoverTableMaintenance(spark, p.getPath.toString))
  }

  /** Default [[dropStaleGenerations]] grace: an hour comfortably outlasts
    * any interactive ANN query that resolved `_CURRENT` just before a
    * retrain flipped it.
    */
  val DefaultSweepGraceMs: Long = 60L * 60L * 1000L

  /** Tombstone marking WHEN a generation became stale. Written into the
    * superseded gen dir by [[writeGeneration]] at the `_CURRENT` flip (the
    * precise staleness instant), or by [[dropStaleGenerations]] on first
    * observing a never-flipped dir (crashed builds have no flip moment —
    * first observation is the earliest provable staleness bound). The
    * file's mtime is the clock the sweep grace measures from.
    */
  val StaleSinceName = "_STALE_SINCE"

  private[operators] def markStaleSince(fs: org.apache.hadoop.fs.FileSystem,
                                        genDir: org.apache.hadoop.fs.Path): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(genDir, StaleSinceName), true)
    try out.writeBytes(System.currentTimeMillis().toString) finally out.close()
  }

  /** Drop every `gen-*` dir that `_CURRENT` does not reference — crashed
    * builds (written but never flipped) and superseded generations after a
    * retrain — PROVIDED the generation has been STALE for at least
    * `minAgeMs`. Staleness is measured from the `_STALE_SINCE` tombstone,
    * NOT from the gen dir's own mtime: a superseded generation's dir mtime
    * is its (old) build time, so an mtime-based grace would expire the
    * instant `_CURRENT` flips — deleting files a reader that resolved
    * `_CURRENT` pre-flip is still scanning, exactly the torn read the
    * grace exists to prevent. The tombstone is stamped at the flip
    * ([[writeGeneration]]) for superseded generations; a dir with no
    * tombstone (crashed or in-flight build) gets one stamped NOW and is
    * skipped — it becomes deletable only once a full grace passes after
    * that first observation, which also shields a live builder (its
    * not-yet-flipped dir survives at least one grace period from the
    * sweep that first saw it; the flip clears the stamp). Builds longer
    * than the grace with sweeps racing them need a bigger grace — same
    * liveness contract as readers. Pass `minAgeMs = 0` only when no
    * reader/builder can be live (tests, cold stores). Returns the dropped
    * generation names.
    */
  def dropStaleGenerations(spark: SparkSession, rootPath: String,
                           minAgeMs: Long = DefaultSweepGraceMs): Seq[String] = {
    val current = currentGeneration(spark, rootPath)
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-") &&
        !current.contains(s.getPath.getName))
      .flatMap { s =>
        val stamp = new org.apache.hadoop.fs.Path(s.getPath, StaleSinceName)
        if (!fs.exists(stamp)) {
          // first observation of an unflipped dir: start its staleness
          // clock, never delete in the same sweep that discovered it
          // (except at zero grace, where the caller asserts no liveness)
          markStaleSince(fs, s.getPath)
          if (minAgeMs <= 0) { fs.delete(s.getPath, true); Some(s.getPath.getName) }
          else None
        } else if (fs.getFileStatus(stamp).getModificationTime <=
            System.currentTimeMillis() - minAgeMs) {
          fs.delete(s.getPath, true); Some(s.getPath.getName)
        } else None
      }
      .toIndexedSeq
  }

  /** What one [[maintain]] pass did. `retrainAdvised` surfaces the drift
    * verdict so the maintainer's loop can trigger [[retrain]] — advise,
    * don't auto-retrain: rebuilding the index is a corpus-scale job the
    * operator schedules, not a side effect of a sweep.
    */
  final case class StoreMaintenanceReport(
      recoveredPartitions: Int,
      compactedPartitions: Int,
      droppedGenerations: Seq[String],
      retrainAdvised: Boolean)

  /** ONE maintenance pass over the serving store — the ANN analog of
    * [[Dedup.maintainServingTables]], composing the tools in the safe
    * order: crash recovery first ([[recoverGenerationMaintenance]] —
    * half-swapped partitions must be repaired before any new rewrite),
    * then replay-dedup compaction ([[compactGeneration]]), then the
    * graced stale-generation sweep ([[dropStaleGenerations]]), and
    * finally the drift verdict ([[driftStats]] → [[retrainAdvised]]).
    * Same liveness contract as the parts: no concurrent maintainer
    * (per-partition locks make a second caller a no-op, never a
    * corruption).
    */
  def maintain(spark: SparkSession, rootPath: String, targetFiles: Int = 1,
               sweepGraceMs: Long = DefaultSweepGraceMs,
               maxImbalance: Double = 4.0,
               timeout: scala.concurrent.duration.Duration =
                 scala.concurrent.duration.Duration(600, "s"),
               parallelism: Int = Maintenance.DefaultSweepParallelism)
      : StoreMaintenanceReport = {
    val recovered = recoverGenerationMaintenance(spark, rootPath)
    val compacted = compactGeneration(spark, rootPath, targetFiles, timeout, parallelism)
    val dropped = dropStaleGenerations(spark, rootPath, sweepGraceMs)
    val advise = retrainAdvised(driftStats(spark, rootPath), maxImbalance)
    StoreMaintenanceReport(recovered, compacted, dropped, advise)
  }

  /** The streaming ingest wrapper: embedding micro-batches → [[append]]
    * per batch (map-only; see SCALE.md "Measured scale constants", IVF-store append point). Caller
    * starts it with its own trigger/checkpoint. Replay of a micro-batch
    * after a crash re-appends its rows — at-least-once, repaired by
    * [[compactGeneration]] at maintenance time (same contract as the
    * dedup serving tables' recap loop). A retrain flipping `_CURRENT`
    * between batches is safe: each batch re-resolves the pointer and
    * assigns against the generation it lands in.
    */
  def appendStream(increments: DataFrame, idCol: String, vecCol: String,
                   rootPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    increments.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(batch.sparkSession, batch, idCol, vecCol, rootPath); ()
      }

  /** Serve top-k from the CURRENT generation: resolve `_CURRENT`, load +
    * fingerprint-check the centroids, then delegate to the probed-partition
    * serving path ([[Similarity.ivfTopKFromIndex]], or the quantized
    * re-rank flavor — which needs the primary `corpus` for the exact
    * re-rank join, see [[Similarity.ivfTopKFromQuantizedIndex]]).
    */
  def topK(spark: SparkSession, queries: DataFrame, rootPath: String,
           k: Int, nProbe: Int, corpusForRerank: Option[DataFrame] = None,
           preselect: Int = 4, maxBucket: Int = 1000000,
           excludeSelf: Boolean = true,
           metadataFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val gen = genOrFail(spark, rootPath)
    val layout = readLayout(spark, rootPath, gen)
    val centroids = loadCentroids(spark, rootPath, gen, layout)
    val path = indexPath(rootPath, gen)
    if (layout.quantized) {
      require(metadataFilter.isEmpty,
        s"metadata filters are not supported on the quantized layout at $rootPath " +
          "(codes-only rows carry no payload columns); use a full-precision store " +
          s"built with payloadCols")
      // the quantized serving path hardcodes the self-exclusion; silently
      // ignoring the flag would let a self-match-based caller (the dedup
      // probe pattern) admit replays as novel
      require(excludeSelf,
        s"excludeSelf = false is not supported on the quantized layout at $rootPath " +
          "(the re-rank path always excludes self matches); use a full-precision store")
      val corpus = corpusForRerank.getOrElse(throw new IllegalArgumentException(
        s"the index at $rootPath is quantized — serving needs the full-precision " +
          "corpus for the exact re-rank join (corpusForRerank)"))
      Similarity.ivfTopKFromQuantizedIndex(spark, queries, path, corpus,
        layout.idCol, layout.vecCol, k, centroids, nProbe, preselect, maxBucket)
    } else
      Similarity.ivfTopKFromIndex(spark, queries, path, layout.idCol,
        layout.vecCol, k, centroids, nProbe, maxBucket, excludeSelf,
        metadataFilter)
  }

  /** Incremental SEMANTIC dedup against the served index — the embedding
    * analog of [[graft.streaming.IncrementalDedup.processBatch]]: a batch
    * doc is a duplicate if its best match in the CURRENT generation has
    * cosine ≥ `threshold`; intra-batch near-dup groups keep one
    * representative per CONNECTED COMPONENT (same over-removal-safe rule
    * as the text flavor); survivors are appended to the index and
    * returned.
    *
    * Replay is IDEMPOTENT, stronger than the text flavor's at-least-once:
    * the corpus probe runs with `excludeSelf = false`, so a replayed
    * batch's docs match their own already-indexed rows at cosine 1.0 and
    * are rejected — nothing is re-appended (the text flavor can't do
    * this: a MinHash signature table probe excludes by id; embeddings
    * self-describe).
    *
    * Batch size is bounded by the ANN probe contract
    * ([[Similarity.MaxProbeRows]]) — micro-batch-sized increments, not
    * corpus-sized backfills (those belong in
    * [[Dedup.embeddingNearDups]] + a generation rebuild).
    *
    * ZERO-NORM vectors are dropped from the batch up front: their cosine
    * is defined as 0.0 ([[graft.functions.VectorExpressions.VecCosine]]),
    * so they can never match anything — including their own indexed copy
    * on replay, which would break the idempotence guarantee by
    * re-appending them every replay. A zero embedding is a degenerate
    * artifact (dead encoder output), not a document to index.
    */
  def dedupAppendBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                       vecCol: String, rootPath: String, threshold: Double,
                       nProbe: Int = 2, selfBands: Int = 16,
                       selfBitsPerBand: Int = 8,
                       maxBucket: Int = 1000000): DataFrame = {
    // resolve the generation ONCE: probing one generation and appending
    // to another (a concurrent retrain flipping _CURRENT mid-call) would
    // admit docs into the new generation without ever probing it, and the
    // replay-idempotence guarantee would stop reproducing
    val gen = genOrFail(spark, rootPath)
    val layout = readLayout(spark, rootPath, gen)
    require(!layout.quantized,
      s"dedupAppendBatch needs the full-precision layout at $rootPath " +
        "(the quantized store holds codes only; the dedup decision is an exact cosine)")
    val centroids = loadCentroids(spark, rootPath, gen, layout)
    // zero-norm rows out FIRST (see scaladoc: they can never self-match,
    // so replay would re-append them forever) — a cheap filter inside the
    // batch's own scan, no extra pass
    val nonZero = batch.where(F.vecNorm(col(vecCol)) > 0.0)
    // persist only if the caller hasn't: unpersisting a frame the CALLER
    // cached would silently evict their cache (a measurement harness
    // reusing one batch across calls pays a recompute it never asked for)
    val callerCached = batch.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val b = if (callerCached) nonZero else nonZero.persist()
    try {
      val selfPairs = Dedup.embeddingNearDups(b, idCol, vecCol, threshold,
        selfBands, selfBitsPerBand, maxBucket)
      val comps = Dedup.connectedComponents(selfPairs.select("id_a", "id_b"))
      try {
        val reps = Dedup.dropNearDupGroupsWith(b, idCol, comps)
        val dupIds = Similarity.ivfTopKFromIndex(spark, reps,
            indexPath(rootPath, gen), layout.idCol, layout.vecCol,
            k = 1, centroids, nProbe, maxBucket, excludeSelf = false)
          .where(col("cosine") >= threshold)
          .select(col("query_id").as(idCol))
        val novelPlan = reps.join(dupIds, Seq(idCol), "left_anti")
        // materialize to LOCAL rows before the append mutates the probe
        // target — a lazily returned plan re-executed after the append
        // would self-match everything and come back empty. The batch is
        // driver-sized by the probe contract, so its novel subset is too.
        val rows = novelPlan.collect()
        val novel = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), novelPlan.schema)
        if (rows.nonEmpty) // all-duplicate batch: skip the write job
          appendResolved(spark, novel, idCol, vecCol, rootPath, gen, layout, centroids)
        novel
      } finally { comps.unpersist(); () }
    } finally { if (!callerCached) { b.unpersist(); () } }
  }

  /** Streaming wrapper for [[dedupAppendBatch]]: embedding micro-batches →
    * semantic-dedup-then-append per batch. Idempotent under replay (see
    * [[dedupAppendBatch]]).
    */
  def dedupAppendStream(increments: DataFrame, idCol: String, vecCol: String,
                        rootPath: String, threshold: Double, nProbe: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    increments.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dedupAppendBatch(batch.sparkSession, batch, idCol, vecCol, rootPath,
          threshold, nProbe); ()
      }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType}

import graft.functions.{Functions => F, VectorExpressions}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast,
  *    so the corpus is scanned once, and ranking is a bounded map-side
  *    top-k aggregate ([[graft.functions.TopKAggregate]]) — correct
  *    baseline, O(|Q|·|corpus|) scoring work but the shuffle carries only
  *    k entries per (partition, query), never the corpus.
  *  - [[lshTopK]]: B independent random-hyperplane bands (the IVF/LSH scale
  *    path) — a query only scores corpus vectors sharing ≥1 band bucket.
  *    The band join carries ids only (vectors join back after candidate
  *    dedup), buckets are capped, and signatures come from the codegen
  *    [[VectorExpressions.HyperplaneSig]] (the Column-fold form was
  *    interpreted and dominated the query cost).
  *
  * Recall tuning: P(candidate) = 1 − (1 − p^bits)^bands, p = 1 − θ/π.
  * High-similarity neighbors need few bands; low-similarity corpora (like
  * the synthetic testdata, max cosine ≈ 0.5) need many bands of few bits.
  * Measured recall vs [[bruteForceTopK]] is asserted in SimilaritySpec.
  */
object Similarity {

  /** Hard cap on driver-materialized probe rows (queries × nProbe) — the
    * enforcement constant behind the ANN API's driver-sized-query-batch
    * contract (see [[materializedProbes]]). 1M rows of (id, vector, cid)
    * is tens-to-hundreds of MB on the driver: comfortably under default
    * driver memory, far past any interactive query batch.
    */
  val MaxProbeRows: Int = 1 << 20

  /** Centroid-init sample size factor: the hash-threshold prefilter in
    * [[trainCentroids]] targets `InitSampleFactor · k` ids, making a
    * k-smallest-hash undershoot (P ≈ Poisson(10⁴·k) < k) astronomically
    * improbable while the scan still prunes ~everything at corpus scale.
    */
  val InitSampleFactor: Long = 10000L

  /** Banded hyperplane signatures of a vector column: one row per (id,
    * band, sig), seed = band index.
    */
  private def bandSigs(df: DataFrame, idOut: String, vec: Column,
                       bands: Int, bitsPerBand: Int): DataFrame =
    df.select(col(idOut),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          VectorExpressions.hyperplane_sig(vec, bitsPerBand, b).as("sig"))): _*)).as("bk"))
      .select(col(idOut), col("bk.band").as("band"), col("bk.sig").as("sig"))

  /** Exact brute-force cosine top-k: for each query row, the k most similar
    * corpus rows (excluding itself). Returns (query_id, rank, neighbor_id,
    * cosine). Deterministic: ties broken by neighbor id.
    *
    * Ranking is the bounded [[graft.functions.TopKAggregate]] rather than a
    * `row_number` window. Spark's InferWindowGroupLimit already keeps the
    * window form's shuffle bounded, but only after SORTING every scored
    * row within each partition; the aggregate replaces that corpus-sized
    * sort with an O(k) buffer + constant-time worst-entry gate (measured
    * in SCALE.md "Measured scale constants", knntopk point, both forms warmed: 5× fewer shuffle records, ~1.4× faster — the wall gap grows with corpus size since the removed sort is the corpus-sized term).
    * Output ordering and tie-breaks (score desc, id asc) are identical.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", F.cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Shared ranking epilogue for every ANN path: top-k of scored
    * (query_id, neighbor_id, cosine) rows per query, (cosine desc,
    * neighbor_id asc), via the bounded [[graft.functions.TopKAggregate]] —
    * see [[bruteForceTopK]]'s scaladoc for why not a `row_number` window.
    *
    * Null scores are EXCLUDED from ranking (a null cosine means a null
    * vector reached the scorer — garbage, not a legitimate trailing
    * neighbor); a query whose candidates all score null emits no rows.
    * This differs from the replaced window form, which kept null-scored
    * rows in trailing ranks — the aggregate's behavior is the intended
    * one. NaN no longer occurs: [[graft.functions.VectorExpressions.VecCosine]]
    * defines zero-norm cosine as 0.0.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAggregate.topk_by(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("query_id"), (col("i") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cosine"))

  /** IVF centroid training: Lloyd's iterations with deterministic
    * hash-ordered initialization (the k corpus vectors with smallest
    * xxhash64(id) seed the clusters — no random state, identical on every
    * run). The init does NOT scan vector bytes corpus-wide: the ordering
    * pass projects the id column only (column pruning — on a wide-
    * embedding corpus the vectors ARE the bytes) and the k winners'
    * vectors return through a parquet-pushable `isin` lookup; ahead of
    * both, a hash-threshold prefilter (`xxhash64(id) <= t`, t sized so
    * ~[[InitSampleFactor]]·k ids pass) bounds the rows entering the
    * top-k — because the filter and the ordering use the SAME hash, the
    * k smallest hashes are inside the sample whenever ≥ k rows pass, so
    * the seeds are IDENTICAL to an unsampled init (drift-free by
    * construction; the vanishingly unlikely undershoot falls back to the
    * full scan). Assignment is
    * the codegen [[VectorExpressions.CentroidProbes]] scoring loop; the
    * mean update is relational (posexplode → per-(cluster, dim) avg →
    * k×dim rows to the driver — tiny). At corpus scale also train on a
    * hash-sample of rows for the Lloyd's passes themselves: IVF centroids
    * need a sample, not the corpus.
    */
  /** The hash-threshold-sampled init source for [[trainCentroids]]:
    * `xxhash64(id) <= t` with t placed so ~[[InitSampleFactor]]·k of the
    * `n` ids pass (xxhash64 is uniform over the signed 64-bit range, so
    * t = MinValue + 2⁶⁴·target/n). Package-visible so the spec can
    * witness the pruning predicate in the plan.
    */
  private[graft] def initSampled(corpus: DataFrame, idCol: String,
                                 k: Int, n: Long): DataFrame = {
    val target = InitSampleFactor * k.toLong
    val t = (BigInt(Long.MinValue) + (BigInt(2).pow(64) * target / BigInt(n))).toLong
    corpus.where(xxhash64(col(idCol).cast("string")) <= lit(t))
  }

  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 3): Array[Array[Double]] = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    val hash = xxhash64(col(idCol).cast("string"))
    // two-pass seed fetch: the ordering pass projects the ID COLUMN ONLY
    // (the vector payload is the table's bytes — a wide-embedding corpus
    // scan that materializes vectors just to discard all but k of them
    // reads ~everything for nothing), then the k winners' vectors come
    // back through an `isin` lookup, which parquet pushes down. Both
    // passes order by (hash, id) — the id tiebreak pins the winners when
    // two ids hash equal, so the two passes (and any rerun) agree.
    // ids are assumed DISTINCT and non-null — the contract every serving
    // layer here already enforces (the IVF store compacts to one row per
    // id; a null id is unservable). The re-applied limit(k) makes a
    // violating corpus degrade to "k seeds, deterministically chosen"
    // instead of silently training a different k than configured.
    def seedsFrom(df: DataFrame): Array[Array[Double]] = {
      val ids = df.select(col(idCol))
        .orderBy(hash, col(idCol))
        .limit(k)
        .collect().map(_.get(0))
      if (ids.isEmpty) Array.empty
      else df.where(col(idCol).isin(ids: _*))
        .orderBy(hash, col(idCol))
        .limit(k)
        .select(col(vecCol).cast("array<double>"))
        .collect()
        .map(_.getSeq[Double](0).toArray)
    }
    val n = corpus.count() // column-less parquet count — metadata, not a scan
    var centroids: Array[Array[Double]] =
      if (n <= InitSampleFactor * k.toLong) seedsFrom(corpus)
      else {
        val sampled = seedsFrom(initSampled(corpus, idCol, k, n))
        // undershoot guard: < k survivors means the threshold was unluckier
        // than 10⁴× — re-seed from the full corpus, same seeds as ever
        // (n > 10⁴·k here, so k full seeds always exist)
        if (sampled.length >= k) sampled
        else seedsFrom(corpus)
      }
    // fanout (r15): the assignment scan is compute-dense (k×dim dots per
    // row) and a single-file corpus would run every Lloyd's pass as one
    // task (measured ~1.2 s/iteration single-task at bench scale). The
    // repartition changes the mean's partial-aggregation fold order, so
    // centroids can move in the last ulp — acceptable HERE because
    // trainCentroids feeds witness comparisons whose both sides share the
    // returned array (and recall bounds with wide margins), never an
    // emitted float (q_drift_stats derives its centroids from data rows,
    // not from this trainer).
    val fanned = Dedup.fanout(corpus.select(col(idCol), col(vecCol)), col(idCol))
    var it = 0
    while (it < iters) {
      val assigned = fanned.select(
        element_at(VectorExpressions.centroid_probes(col(vecCol), centroids, 1), 1).as("cid"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      val means = assigned.groupBy("cid", "pos").agg(avg("x").as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      } // clusters with no members keep their previous centroid
      centroids = next
      it += 1
    }
    centroids
  }

  /** IVF approximate top-k (the inverted-file scale path): corpus vectors
    * are bucketed by nearest centroid ONCE; each query scores only the
    * `nProbe` closest clusters' members. Work per query ≈ nProbe/k of the
    * corpus. Same id-only candidate shuffle + exact-cosine verify shape as
    * [[lshTopK]]; cluster sizes are data-dependent (unlike LSH buckets) so
    * `maxBucket` caps pathological clusters.
    *
    * At 100 TB: persist the assigned table
    * (`corpus.withColumn("cid", ...).write.partitionBy("cid")`) and probing
    * becomes partition pruning — the classic IVF index as a layout.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, centroids: Array[Array[Double]], nProbe: Int,
              maxBucket: Int = 1000000): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val cAssigned = Dedup.capBuckets(
      c.select(col("neighbor_id"),
        element_at(VectorExpressions.centroid_probes(col("cv"), centroids, 1), 1).as("cid")),
      Seq("cid"), maxBucket)
    val qProbes = q.select(col("query_id"),
      explode(VectorExpressions.centroid_probes(col("qv"), centroids, nProbe)).as("cid"))
    // fanout (r15): pin the pair-dedup exchange so the fused cosine verify
    // downstream keeps the session's parallelism (see Dedup.fanout — AQE
    // coalesces this few-MB exchange to 1-2 tasks otherwise)
    val candidates = Dedup.fanout(qProbes.join(cAssigned, "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")),
      col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .join(q, "query_id")
      .join(c, "neighbor_id")
      .withColumn("cosine", F.cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Persist the IVF index as a LAYOUT: the corpus written
    * `partitionBy(cid)`, cid = nearest centroid. Probing a query then
    * becomes partition pruning — only the probed clusters' files are ever
    * read, which is the classic inverted-file index expressed as a
    * partitioned table instead of a bespoke index structure. Store the
    * centroids next to the data ([[writeCentroids]]) so readers probe with
    * the exact array the index was built with.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]], path: String,
                    payloadCols: Seq[String] = Nil): Unit =
    corpus.select(col(idCol) +: col(vecCol) +: payloadCols.map(col) :+
        element_at(VectorExpressions.centroid_probes(col(vecCol), centroids, 1), 1).as("cid"): _*)
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Centroids as a tiny parquet table (cid, centroid) — the index's
    * metadata, co-located with the layout.
    */
  def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                     centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "centroid").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readCentroids(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    // driver-side sort: an orderBy would put a full exchange in front of a
    // numCentroids-row read that every serve performs
    spark.read.parquet(path)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** Driver-materialized probe tables shared by both persisted-index
    * serving paths ([[ivfTopKFromIndex]], [[ivfTopKFromQuantizedIndex]]).
    *
    * The query batch is evaluated ONCE and materialized to the driver as a
    * local relation (query_id, qv, cid): the pruning cid list, the
    * candidate join and the scoring join all consume the SAME rows —
    * consistent even under a non-deterministic `queries` plan — and there
    * is no cache block to leak (a persist here could never be released,
    * since the returned plan references it). This requires the query batch
    * to be driver-sized, which is the standing contract of the whole ANN
    * query API (brute force broadcasts the query set for the same reason);
    * corpus-sized "queries" belong in [[graft.operators.Dedup.embeddingNearDups]].
    * Returns (deduped queries, query→cid probes, distinct probed cids).
    */
  private def materializedProbes(spark: org.apache.spark.sql.SparkSession,
                                 queries: DataFrame, idCol: String, vecCol: String,
                                 centroids: Array[Array[Double]], nProbe: Int)
      : (DataFrame, DataFrame, Seq[Int]) = {
    val probesPlan = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(VectorExpressions.centroid_probes(col("qv"), centroids, nProbe)).as("cid"))
    // enforce the driver-sized contract by name, BEFORE unbounded driver
    // materialization: the limit caps what collect() can pull, so a
    // corpus-sized `queries` DataFrame fails with this message instead of
    // an opaque driver OOM; when the limit does not bite, probeRows IS the
    // complete probe set (one execution, no second pass)
    val probeRows = probesPlan.limit(MaxProbeRows + 1).collect()
    require(probeRows.length <= MaxProbeRows,
      s"ANN query batch too large for the driver-materialized probe contract: " +
        s"${probeRows.length} probe rows (= queries × nProbe) > $MaxProbeRows. " +
        "The ANN query API requires a driver-sized query batch; corpus-sized " +
        "\"queries\" belong in graft.operators.Dedup.embeddingNearDups.")
    val materialized = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    (materialized.select(col("query_id"), col("qv")).dropDuplicates("query_id"),
      materialized.select(col("query_id"), col("cid")),
      probeRows.map(_.getInt(2)).distinct.toSeq)
  }

  /** Probed slice of a persisted index: static `cid IN (...)` predicate
    * (partition pruning at planning time) + the same `maxBucket` cap as
    * the in-memory path (a skewed cluster must not degrade the persisted
    * path relative to it). `payload` picks the value columns (float vector
    * or quantized codes).
    */
  private def readProbedIndex(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String, probed: Seq[Int], maxBucket: Int,
                              metadataFilter: Option[Column], payload: Column*): DataFrame =
    Dedup.capBuckets(
      spark.read.parquet(indexPath)
        .where(col("cid").isin(probed: _*))
        // metadata predicate BEFORE the cap (a cap over pre-filter rows
        // could evict every filter-matching row of a hot cluster) — and
        // early enough that Catalyst pushes it into the pruned scan
        .where(metadataFilter.getOrElse(lit(true)))
        .select(payload :+ col("cid"): _*),
      Seq("cid"), maxBucket)

  /** IVF top-k against a persisted [[writeIvfIndex]] layout. The probed
    * cluster ids (≤ centroids.length distinct values) become a static
    * `cid IN (...)` predicate, so the parquet scan prunes to the probed
    * partitions at planning time; everything downstream is the [[ivfTopK]]
    * candidate shape. See [[materializedProbes]] for the single-evaluation
    * / driver-sized-batch contract.
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
                       indexPath: String, idCol: String, vecCol: String,
                       k: Int, centroids: Array[Array[Double]], nProbe: Int,
                       maxBucket: Int = 1000000,
                       excludeSelf: Boolean = true,
                       metadataFilter: Option[Column] = None): DataFrame = {
    val (q, qProbes, probed) =
      materializedProbes(spark, queries, idCol, vecCol, centroids, nProbe)
    val idx = readProbedIndex(spark, indexPath, probed, maxBucket, metadataFilter,
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // excludeSelf=false is the DEDUP-probe flavor: a replayed doc must be
    // allowed to match its own already-indexed row (cosine 1.0) so the
    // replay is rejected instead of re-accepted
    val candidates = qProbes.join(idx, "cid")
      .where(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .join(q, "query_id")
      .join(idx.select(col("neighbor_id"), col("cv")), "neighbor_id")
      .withColumn("cosine", F.cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Banded-LSH approximate top-k: queries score only corpus vectors that
    * share ≥1 of `bands` hyperplane buckets. Work per query ≈ bands ×
    * bucket size (capped), not the corpus size.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, bands: Int = 16, bitsPerBand: Int = 8,
              maxBucket: Int = 100000): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val qSigs = bandSigs(q, "query_id", col("qv"), bands, bitsPerBand)
    val cSigs = Dedup.capBuckets(
      bandSigs(c, "neighbor_id", col("cv"), bands, bitsPerBand),
      Seq("band", "sig"), maxBucket)
    // fanout (r15): same pinned pair-dedup exchange as [[ivfTopK]]
    val candidates = Dedup.fanout(cSigs.join(qSigs, Seq("band", "sig"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")),
      col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .join(q, "query_id")
      .join(c, "neighbor_id")
      .withColumn("cosine", F.cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Per-group vector statistics (count, min/max L2 norm) — the sanity
    * profile of an embedding table. min/max are order-independent →
    * deterministic under any partitioning.
    */
  def normStats(embs: DataFrame, groupCol: String, vecCol: String): DataFrame =
    embs.select(col(groupCol), F.vecNorm(col(vecCol)).as("norm"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        round(min(col("norm")), 4).as("min_norm"),
        round(max(col("norm")), 4).as("max_norm"))

  /** Quantized IVF layout: the same partitionBy(cid) pruning story as
    * [[writeIvfIndex]], but rows carry int8 codes + one double scale
    * instead of the float vector — the serving-memory shape for a 100 TB
    * corpus (codes live in RAM, full-precision vectors stay in the primary
    * store and are touched only for the re-rank join). cid assignment uses
    * the ORIGINAL vector (quantization must not move a point across a
    * centroid boundary).
    */
  def writeIvfIndexQuantized(corpus: DataFrame, idCol: String, vecCol: String,
                             centroids: Array[Array[Double]], path: String): Unit = {
    val maxAbs = VectorExpressions.vec_max_abs(col(vecCol))
    corpus.select(col(idCol),
      element_at(VectorExpressions.centroid_probes(col(vecCol), centroids, 1), 1).as("cid"),
      maxAbs.as("max_abs"), col(vecCol).as("_v"))
      .select(col(idCol), col("cid"), col("max_abs"),
        int8Codes(col("_v"), col("max_abs")).as("codes"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)
  }

  /** Serve top-k from the QUANTIZED index: probe = partition pruning (as
    * [[ivfTopKFromIndex]]), approximate ranking on the int8 codes
    * directly — cosine is scale-invariant, so cos(q, codes) equals
    * cos(q, dequantized) with no per-candidate multiply — then an EXACT
    * re-rank of the per-query top `k·preselect` approx candidates against
    * the full-precision `corpus` (id-only candidate list crosses the
    * shuffle; the full vectors join in once, k·preselect rows per query).
    * Output matches the exact path whenever the true top-k survive the
    * approx preselection — measured, not assumed, by the gate query.
    */
  def ivfTopKFromQuantizedIndex(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
                                indexPath: String, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                k: Int, centroids: Array[Array[Double]], nProbe: Int,
                                preselect: Int = 4, maxBucket: Int = 1000000): DataFrame = {
    val (q, qProbes, probed) =
      materializedProbes(spark, queries, idCol, vecCol, centroids, nProbe)
    val idx = readProbedIndex(spark, indexPath, probed, maxBucket, None,
      col(idCol).as("neighbor_id"), col("codes"))
    val approx = qProbes.join(idx, "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(q, "query_id")
      // VecDot/VecL2Norm consume the byte codes directly (codegen, no
      // per-candidate double-array materialization)
      .withColumn("approx_cos", F.cosine(col("qv"), col("codes")))
    // id-only shortlist crosses the agg; qv re-joins from the (small,
    // driver-materialized) query side for the exact re-rank
    val shortlist = rankTopK(approx.withColumn("cosine", col("approx_cos")), k * preselect)
      .select(col("query_id"), col("neighbor_id"))
      .join(q, "query_id")
    val exact = shortlist
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "neighbor_id")
      .withColumn("cosine", F.cosine(col("qv"), col("cv")))
    rankTopK(exact, k)
  }

  /** codes = floor(x/maxAbs·127 + 0.5) per element, 0 for the zero vector. */
  // one codegen loop over the vector ([[VectorExpressions.VecInt8Codes]])
  // — the transform(when(...)) lambda this replaces was an interpreted
  // HOF on the quantized-index build pass over the whole corpus
  private[operators] def int8Codes(vCol: Column, maxAbsCol: Column): Column =
    VectorExpressions.vec_int8_codes(vCol, maxAbsCol)

  /** Per-vector symmetric int8 quantization — the 4× memory shrink that
    * makes a 100 TB embedding corpus fit ANN serving (float32 → byte codes
    * + one double scale per vector). code = floor(x/maxAbs·127 + 0.5)
    * (half-up-toward-+inf — floor(+0.5) is portable across engines where
    * round() half-mode is not), codes ∈ [−127, 127] as a REAL ByteType
    * array (1 byte/element in UnsafeArrayData, INT(8) in parquet — an
    * int32 code array would be the same width as the floats it replaces);
    * the all-zero vector gets scale 0 / all-zero codes. Map-only, stays in
    * codegen; [[graft.functions.VectorExpressions.VecDot]] consumes byte
    * arrays directly.
    */
  def quantizeInt8(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = VectorExpressions.vec_max_abs(col(vecCol))
    embs.select(col(idCol), maxAbs.as("max_abs"), col(vecCol).as("_v"))
      .select(col(idCol), col("max_abs"),
        int8Codes(col("_v"), col("max_abs")).as("codes"))
  }

  /** Reconstruction-error audit for [[quantizeInt8]]: per-vector squared
    * error of the dequantized codes (x̂ = code·maxAbs/127), folded in
    * array order so the double sum is bit-identical across engines.
    * Single map-only chain (no join, no shuffle). Emits (idCol, max_abs,
    * code_sum, code_abs_sum, err2).
    */
  def quantError(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = VectorExpressions.vec_max_abs(col(vecCol))
    embs.select(col(idCol), maxAbs.as("max_abs"), col(vecCol).as("_v"))
      .select(col(idCol), col("max_abs"), col("_v"),
        int8Codes(col("_v"), col("max_abs")).as("codes"))
      .select(col(idCol), col("max_abs"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        aggregate(col("codes"), lit(0L), (a, c) => a + abs(c)).as("code_abs_sum"),
        aggregate(
          zip_with(col("_v"), col("codes"), (x, c) =>
            x.cast(DoubleType) - c.cast(DoubleType) * col("max_abs") / 127d),
          lit(0d), (a, e) => a + e * e).as("err2"))
  }

  /** SemDeDup (Abbas et al., 2023) — CLUSTER-bounded semantic dedup, the
    * DataComp-style curation pass: assign every embedding to its nearest
    * centroid, compare pairs only WITHIN a cluster (exact cosine ≥
    * `threshold` — SemDeDup's insight is that semantic dups co-cluster,
    * so the candidate space is Σ|cluster|², not N²), connect the dup
    * graph and keep the min-id representative per component. Returns the
    * SURVIVING rows of `embs` (all columns).
    *
    * Relationship to the other near-dup flavors: `embeddingNearDups`
    * recalls pairs via hyperplane bands (probabilistic, threshold-tuned);
    * this one bounds candidates by the learned cluster structure —
    * recall is exact WITHIN clusters and zero across them, which is the
    * published trade (k tunes the blast radius). Dups split across a
    * cluster boundary survive at `nProbe = 1`; `nProbe = 2` assigns each
    * doc to its TWO nearest clusters (same codegen `CentroidProbes`
    * scoring pass, top-2 instead of top-1), so boundary twins meet in at
    * least one shared candidate set at ~nProbe× candidate cost — the
    * standard IVF-style recall knob. Scale shape: assignment is map-only
    * (codegen `CentroidProbes`), clusters capped like every bucketed
    * self-join ([[Dedup.capBuckets]] — a degenerate centroid cannot go
    * quadratic), candidate shuffle is id-only (vectors join back for the
    * verify; with `nProbe > 1` a pair sharing several probed clusters is
    * distinct-ed to one verify), components via the engine's CC.
    */
  def semDeDup(embs: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Double]], threshold: Double = 0.95,
               maxBucket: Int = 100000, nProbe: Int = 1): DataFrame = {
    require(centroids.nonEmpty, "semDeDup needs at least one centroid")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(nProbe >= 1 && nProbe <= centroids.length,
      s"nProbe must be in [1, ${centroids.length}], got $nProbe")
    val assigned = embs.select(col(idCol).as("id"),
      explode(VectorExpressions.centroid_probes(col(vecCol), centroids, nProbe))
        .as("cid"))
    val capped = Dedup.capBuckets(assigned, Seq("cid"), maxBucket)
    val rawPairs = capped.select(col("cid"), col("id").as("id_a"))
      .join(capped.select(col("cid"), col("id").as("id_b")), Seq("cid"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // a pair co-probed into BOTH shared clusters would verify twice.
    // fanout (r15): pin the pair exchange in BOTH arms — the cid join's
    // parallelism is bounded by the centroid count, and the exact-cosine
    // verify fuses after this exchange (see Dedup.fanout)
    val fanned = Dedup.fanout(rawPairs, col("id_a"), col("id_b"))
    val idPairs = if (nProbe > 1) fanned.dropDuplicates("id_a", "id_b") else fanned
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val dupPairs = idPairs
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .where(F.cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    Dedup.dropNearDupGroupsWith(embs, idCol, Dedup.connectedComponents(dupPairs))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Functions => F, SignatureAggregates, TextExpressions, VectorExpressions}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash and n-gram-Jaccard near-dup detection.
  *
  * Scale design (100 TB corpus):
  *  - exact dedup = hash-shuffle on the text hash (never on the raw text);
  *  - signatures are computed in ONE pass per doc by the
  *    [[graft.functions.SignatureAggregates]] typed aggregates (mergeable
  *    partials: the shuffle carries one 64-long buffer per doc per
  *    partition, not shingles);
  *  - candidate generation is a shuffle keyed on band/bucket whose fan-in
  *    is the LSH bucket size; NO all-pairs join ever happens;
  *  - every bucketed self-join is bounded by `maxBucket`
  *    ([[capBuckets]]); [[oversizedBuckets]] reports what a cap dropped so
  *    recall loss is visible, never silent;
  *  - at corpus scale, materialize the signature table once
  *    (`minHashSignatures(...).write.parquet(...)`) and run candidate
  *    generation from it, instead of relying on in-plan reuse. The
  *    operators here deliberately do NOT `persist()` intermediates — a
  *    cached-block leak in a long-lived session costs more than one
  *    signature recompute (now a single cheap aggregate).
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact duplicate statistics per group: rows vs distinct texts. The
    * distinct is computed on an independent PAIR of 64-bit hashes so
    * the shuffle carries 16-byte keys, not document bodies — a single
    * 64-bit key expects O(1) birthday collisions at 10^10 docs, each
    * silently under-counting a distinct text.
    */
  def exactStats(docs: DataFrame, groupCol: String, textCol: String = "text"): DataFrame =
    docs.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(xxhash64(col(textCol)),
          xxhash64(lit(1L), col(textCol))).as("n_distinct"))

  /** Keep one representative (min id) per exact text; drops the rest.
    *
    * `min_by` under a hash aggregate, not a `row_number() = 1` window: the
    * window form (even with Spark's inferred WindowGroupLimit bounding its
    * shuffle) must SORT every document row within each partition before
    * taking the first — O(n log n) over wide rows — while the hash
    * aggregate folds duplicates map-side in O(n) with no sort anywhere.
    * Ids are unique, so the min-id pick is deterministic either way.
    *
    * `idCol` must be NON-NULL: `min_by` skips null ordering values, so a
    * hash group whose ids are all null would yield an all-null row (and a
    * null-id row can never be the representative). Every id column in the
    * engine is non-null by construction; pre-filter or synthesize ids
    * (e.g. `monotonically_increasing_id`) before calling this on data
    * that may carry null ids.
    */
  def dropExactDups(docs: DataFrame, idCol: String, textCol: String = "text"): DataFrame = {
    val cols = docs.columns
    // TWO independent 64-bit hashes (the second salts the stream with a
    // leading literal), so the group key is effectively 128-bit: at the
    // design scale (~10^10 docs) a single 64-bit key expects O(1)
    // birthday collisions — each one silently DELETING a distinct
    // document; at 128 bits the expectation is ~1e-19
    docs.groupBy(xxhash64(col(textCol)).as("_h"),
        xxhash64(lit(1L), col(textCol)).as("_h2"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("_best"))
      .select(cols.map(c => col("_best").getField(c).as(c)): _*)
  }

  /** Streaming exact dedup: drop re-arrivals of the same content hash while
    * it is inside the watermark window. State is one (hash) key per doc
    * seen within `delay` of the stream's max event time — bounded, evicted
    * by the engine when the watermark passes (unbounded-state
    * `dropDuplicates` on a stream would grow forever at ingest scale; the
    * watermark bound is the production shape). The hash pair keeps state
    * at 16 bytes per key instead of a document body (two independent
    * 64-bit hashes — see [[dropExactDups]] for the collision math). At-least-once sources
    * (Kafka replays) therefore cannot double-ingest a document whose
    * duplicate arrives within the lateness bound — the same guarantee the
    * batch layer's [[dropExactDups]] gives retrospectively.
    */
  def streamingExactDedup(docs: DataFrame, tsCol: String, delay: String,
                          textCol: String = "text"): DataFrame =
    docs
      .withColumn("_content_hash", xxhash64(col(textCol)))
      .withColumn("_content_hash2", xxhash64(lit(1L), col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_content_hash", "_content_hash2")
      .drop("_content_hash", "_content_hash2")

  // --------------------------------------------------------- bucket bounds

  /** Repartition by `cols` with the session's shuffle-partition count
    * pinned EXPLICITLY — for the exchanges that feed COMPUTE-DENSE stages:
    * bucketed self-joins and the pair-verify chains fused after their
    * `dropDuplicates`. AQE's partition coalescing sizes post-shuffle
    * partitions by the BYTES IN THE EXCHANGE, which is the wrong signal
    * when the next stage expands rows quadratically (a bucket self-join
    * turns a few-MB banded table into millions of candidate pairs) or runs
    * a heavy per-row kernel (exact-Jaccard / cosine verify): the coalesced
    * 1-5 tasks then generate and verify every pair serially while the rest
    * of the cluster idles (guide §2.2/§2.5; measured with JobProfile r15 —
    * q_pipeline_full's verify chain ran 19 s of CPU in 5 tasks,
    * q_embed_neardup's in 1). An explicit count opts ONLY this exchange out
    * of coalescing; the count is the session's user-tunable shuffle
    * parallelism, so the fix is scale-adaptive rather than a local-mode
    * constant — at corpus scale the operator behaves exactly as before
    * (these exchanges carry enough bytes that AQE would not have coalesced
    * them anyway). Only safe where downstream math is per-row or
    * order-independent (never ahead of a float sum/avg whose emitted value
    * rides the fold order — e.g. [[Similarity.trainCentroids]]' mean
    * update stays untouched).
    */
  private[graft] def fanout(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      cols: _*)

  /** Drop rows belonging to buckets larger than `maxBucket` (skew guard for
    * bucketed self-joins: one boilerplate-heavy bucket must not go
    * quadratic). Implemented as aggregate → broadcast anti-join: the
    * oversized-bucket list is tiny by construction, so no window sort over
    * the full data is needed.
    */
  def capBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    df.join(broadcast(oversizedBuckets(df, keys, maxBucket).drop("bucket_size")),
      keys, "left_anti")

  /** The buckets [[capBuckets]] would drop, with their sizes — report this
    * next to any capped run so the recall loss is observable.
    */
  def oversizedBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)

  // ------------------------------------------------------------- shingling

  /** Word k-shingles of a document as a distinct array column. Backed by
    * the codegen [[TextExpressions.WordShingles]] byte scan (the HOF
    * transform/slice form is interpreted and was the corpus-scan
    * bottleneck); semantics identical to
    * `transform(sequence(0, greatest(n-k,0)), i -> array_join(slice(toks, i+1, k), " "))`.
    */
  def shingles(text: Column, k: Int): Column =
    array_distinct(TextExpressions.word_shingles(text, k))

  // -------------------------------------------------------------- MinHash

  /** Relational MinHash: one row per doc with `sig ARRAY<BIGINT>` of length
    * `numHashes`. Shape: explode shingles → ONE xxhash64 per shingle →
    * single-pass [[SignatureAggregates.MinHashAgg]] (map-side combine ⇒ the
    * shuffle carries one long[numHashes] buffer per doc per partition).
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleK)).as("shingle"))
      .groupBy(col("id"))
      .agg(SignatureAggregates.minhash_agg(xxhash64(col("shingle")), numHashes).as("sig"))

  /** Banding sized to a threshold: the largest rowsPerBand `r` dividing
    * `numHashes` such that a pair whose true Jaccard is exactly `threshold`
    * is missed by every band with probability ≤ `maxMiss`
    * ((1 − t^r)^(numHashes/r) ≤ maxMiss). Larger r ⇒ fewer false
    * candidates, so taking the largest viable r minimizes candidate volume
    * subject to the recall bound. Returns (bands, rowsPerBand).
    *
    * This is what keeps LSH recall QUANTIFIED: a fixed 16×4 layout misses a
    * J=0.5 pair ~35 % of the time, silently; sized banding pins that below
    * maxMiss at the stated threshold (higher-J pairs miss even less).
    */
  def lshBandingFor(numHashes: Int, threshold: Double, maxMiss: Double = 0.02): (Int, Int) = {
    val viable = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .filter { r =>
        math.pow(1 - math.pow(threshold, r), (numHashes / r).toDouble) <= maxMiss
      }
    if (viable.isEmpty) {
      // even 1-row bands (every shared hash a candidate) exceed the bound —
      // the documented recall guarantee does NOT hold; say so instead of
      // silently returning a layout that breaks the caller's contract
      val missAtR1 = math.pow(1 - threshold, numHashes.toDouble)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"lshBandingFor($numHashes, $threshold): no banding meets maxMiss=$maxMiss " +
          f"(best achievable miss $missAtR1%.4f at r=1) — raise numHashes to restore the recall bound")
    }
    val r = if (viable.isEmpty) 1 else viable.max
    (numHashes / r, r)
  }

  /** MinHash-LSH candidate pairs: docs sharing ≥1 LSH bucket, scored by
    * estimated Jaccard (signature agreement rate) ≥ `threshold`.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * Shuffle discipline: the band self-join carries (band, bucket, id)
    * ONLY — a candidate row costs ~24 bytes, not the ~1 KB it would cost
    * with both 126-long signatures aboard. Signatures are joined back
    * AFTER `dropDuplicates` collapses the multi-band hits, so each
    * surviving pair fetches its two signatures exactly once. Band-bucket
    * keys come from the codegen [[VectorExpressions.SigBandHashes]] (one
    * tight loop per doc; the transform-of-slice Column form is
    * interpreted).
    *
    * `bands = 0` (default) sizes the banding to the threshold via
    * [[lshBandingFor]] so the banding-stage miss probability at J =
    * threshold is ≤ 2 %; an explicit `bands` overrides (its miss rate is
    * then the caller's responsibility: (1 − t^r)^bands). The default
    * `numHashes = 126` makes r=3 banding viable at t=0.5 (42 bands, miss
    * ≈ 0.4 %) where 64 hashes force r=2 — and r=3 collapses the
    * background-pair candidate rate at J≈0.1 from ~27 % to ~4 %: the
    * difference between a candidate set that tracks true near-dups and
    * one that grows with N².
    */
  /** The deduped LSH candidate id-pair stage of [[minHashLshPairs]],
    * exposed separately so scale measurements (SCALE.md) can report
    * candidate volume — THE number that decides whether the dedup plan
    * survives a corpus-size jump — without the verify stage.
    * `sigs` is a [[minHashSignatures]] output.
    */
  def minHashCandidatePairs(sigs: DataFrame, nBands: Int, rowsPerBand: Int,
                            maxBucket: Int): DataFrame = {
    // fanout (r15): the banded exchange feeds the quadratic bucket
    // self-join and the pair dedup feeds the fused verify chain — both
    // pinned to the session's shuffle parallelism (see [[fanout]]); the
    // cap aggregate and the self-join legs all REUSE the one pinned
    // exchange (same key), so this adds no shuffle, it only stops AQE
    // from serializing the pair generation onto 1-2 coalesced tasks
    val banded = fanout(sigs
      .select(col("id"),
        posexplode(VectorExpressions.sig_band_hashes(col("sig"), nBands, rowsPerBand))
          .as(Seq("band", "bucket"))), col("band"), col("bucket"))
    val bounded = capBuckets(banded, Seq("band", "bucket"), maxBucket)
    fanout(bounded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(bounded.select(col("band"), col("bucket"), col("id").as("id_b")), Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")), col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH candidate pairs between a NEW batch and an EXISTING corpus
    * signature table — the daily-increment shape at corpus scale: the
    * corpus is never re-shingled or re-signed, only its materialized
    * `minHashSignatures` table is scanned band-wise (at 100 TB that table
    * is parquet written once; re-signing the corpus per increment would
    * dominate the whole pipeline). Returns (new_id, corpus_id) candidates.
    *
    * Buckets are capped on the CORPUS side — its bucket population is what
    * grows with corpus size; the new batch is assumed increment-sized.
    * Both signature tables must share (shingleK, numHashes).
    *
    * Scale constants (SCALE.md "Measured scale constants", increment points): candidate and
    * verified pairs are FLAT across a 10× corpus (the outcome is a pure
    * function of the increment's true matches); the linear-in-corpus term
    * is the corpus-side banding this join recomputes per call — one
    * sigs-table scan per batch. Deployments running many increments per
    * day materialize [[bandedTable]] once and call
    * [[minHashCandidatePairsAgainstBanded]] instead.
    */
  def minHashCandidatePairsAgainst(newSigs: DataFrame, corpusSigs: DataFrame,
                                   nBands: Int, rowsPerBand: Int,
                                   maxBucket: Int): DataFrame =
    minHashCandidatePairsAgainstBanded(newSigs,
      bandedTable(corpusSigs, nBands, rowsPerBand),
      nBands, rowsPerBand, maxBucket)

  /** The banded (band, bucket, id) form of a signature table — the
    * materialization that removes the per-batch corpus banding from
    * [[minHashCandidatePairsAgainst]]: write it once beside the signature
    * table (at best bucketed/partitioned by (band, bucket) so the
    * increment join prunes), append the per-batch survivors' bands along
    * with their signatures, and pass it to
    * [[minHashCandidatePairsAgainstBanded]]. [[bandedTableCapped]] is the
    * serving flavor: the corpus-side bucket caps are applied AT WRITE, so
    * the per-batch path needs no corpus-wide cap aggregate either.
    */
  def bandedTable(sigs: DataFrame, nBands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(VectorExpressions.sig_band_hashes(col("sig"), nBands, rowsPerBand))
        .as(Seq("band", "bucket")))

  /** [[bandedTable]] with the corpus-side bucket caps pre-applied — write
    * THIS one for the many-increments-per-day serving path and pass
    * `preCapped = true` downstream. Appending survivors keeps it
    * approximately capped (a bucket can drift past the cap as survivors
    * land in it; [[recapBandedTable]] restores the invariant — run it
    * with corpus compaction).
    */
  def bandedTableCapped(sigs: DataFrame, nBands: Int, rowsPerBand: Int,
                        maxBucket: Int): DataFrame =
    capBuckets(bandedTable(sigs, nBands, rowsPerBand), Seq("band", "bucket"), maxBucket)

  /** [[minHashCandidatePairsAgainst]] with a PRE-BANDED corpus
    * ([[bandedTable]] layout): only the increment is banded here.
    * `preCapped` skips the per-batch corpus-wide cap aggregate (the table
    * was written with [[bandedTableCapped]]); `broadcastIncrement` hints
    * the increment's bands to the build side, turning the candidate join
    * into a map-only pass over the corpus bands — with both on, the
    * per-batch plan has ZERO corpus-keyed exchanges (the serving shape
    * for small daily increments; leave the hint off for increments too
    * large to broadcast).
    */
  def minHashCandidatePairsAgainstBanded(newSigs: DataFrame, corpusBanded: DataFrame,
                                         nBands: Int, rowsPerBand: Int,
                                         maxBucket: Int,
                                         preCapped: Boolean = false,
                                         broadcastIncrement: Boolean = false): DataFrame = {
    val corpus = corpusBanded.select(col("id").as("corpus_id"), col("band"), col("bucket"))
    val capped =
      if (preCapped) corpus
      else capBuckets(corpus, Seq("band", "bucket"), maxBucket)
    val incBands = bandedTable(newSigs, nBands, rowsPerBand)
      .select(col("id").as("new_id"), col("band"), col("bucket"))
    // fanout (r15): the pair dedup's exchange is where the est-Jaccard +
    // exact-verify chain fuses downstream — pin it so AQE's bytes-based
    // coalescing cannot serialize the verify (the dropDuplicates already
    // owned an exchange on exactly these keys, so nothing new is added)
    fanout(KeyedHistory.probeFrames(capped, incBands, Seq("band", "bucket"),
        broadcastBatch = broadcastIncrement)
      .select(col("new_id"), col("corpus_id")), col("new_id"), col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
  }

  /** Estimate-scored near-dup pairs of a new batch against a corpus
    * signature table: shingle+sign the new batch only, id-only band join
    * against the corpus signatures ([[minHashCandidatePairsAgainst]]),
    * signatures joined back after pair dedup. `corpusSigs` is a
    * [[minHashSignatures]] output with the same (shingleK, numHashes).
    */
  def minHashLshPairsAgainst(newDocs: DataFrame, corpusSigs: DataFrame,
                             idCol: String, textCol: String = "text",
                             shingleK: Int = 3, numHashes: Int = 126, bands: Int = 0,
                             threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val nBands = if (bands == 0) lshBandingFor(numHashes, threshold)._1 else bands
    val rowsPerBand = numHashes / nBands
    require(nBands * rowsPerBand == numHashes, "bands must divide numHashes")
    val newSigs = minHashSignatures(newDocs, idCol, textCol, shingleK, numHashes)
    estJaccardScores(
      minHashCandidatePairsAgainst(newSigs, corpusSigs, nBands, rowsPerBand, maxBucket),
      newSigs, corpusSigs, "new_id", "corpus_id", numHashes)
      .where(col("est_jaccard") >= threshold)
  }

  /** The increment that survives dedup: new docs with no near-dup pair in
    * `pairs` (a [[minHashLshPairsAgainst]]-shaped (new_id, …) table).
    */
  def filterNovel(newDocs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    newDocs.join(pairs.select(col("new_id").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** The estimate-scoring verify stage shared by [[minHashLshPairs]],
    * [[minHashLshPairsAgainst]] — ONE definition, so a measurement of
    * either can never drift from the production plan. Joins each side's
    * signature back onto the (deduped) candidate pairs and emits
    * `est_jaccard` = signature agreement rate.
    */
  def estJaccardScores(pairs: DataFrame, leftSigs: DataFrame, rightSigs: DataFrame,
                       leftCol: String, rightCol: String, numHashes: Int): DataFrame =
    pairs
      .join(leftSigs.select(col("id").as(leftCol), col("sig").as("sig_a")), leftCol)
      .join(rightSigs.select(col("id").as(rightCol), col("sig").as("sig_b")), rightCol)
      .select(col(leftCol), col(rightCol),
        (VectorExpressions.array_agree_count(col("sig_a"), col("sig_b"))
          .cast(DoubleType) / numHashes).as("est_jaccard"))

  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String = "text",
                      shingleK: Int = 3, numHashes: Int = 126, bands: Int = 0,
                      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val nBands = if (bands == 0) lshBandingFor(numHashes, threshold)._1 else bands
    val rowsPerBand = numHashes / nBands
    require(nBands * rowsPerBand == numHashes, "bands must divide numHashes")
    val sigs = minHashSignatures(docs, idCol, textCol, shingleK, numHashes)
    estJaccardScores(minHashCandidatePairs(sigs, nBands, rowsPerBand, maxBucket),
      sigs, sigs, "id_a", "id_b", numHashes)
      .where(col("est_jaccard") >= threshold)
  }

  /** Near-dup pairs with exact scores: MinHash-LSH candidates (estimate ≥
    * threshold − margin, so borderline pairs survive to verification) →
    * exact n-gram Jaccard ≥ threshold. Every EMITTED pair carries its exact,
    * engine-neutral Jaccard (any engine can re-verify each pair by brute
    * force); the pair SET is still LSH-recalled — with the default
    * auto-sized banding ([[lshBandingFor]] at the FINAL threshold) the
    * banding stage misses a pair at J = threshold with probability ≤ 2 %,
    * and near-identical pairs (J ≈ 1) essentially never. Pairs between
    * threshold − margin and threshold get no banding guarantee (the margin
    * only widens the est-Jaccard cutoff to absorb estimator variance after
    * a band collision — such pairs are discarded by the exact-Jaccard
    * verify anyway). A fixture whose planted pairs sit well above
    * threshold is deterministic; corpora with pairs AT the threshold are
    * subject to that miss rate.
    */
  def minHashNearDupsExact(docs: DataFrame, idCol: String, textCol: String = "text",
                           shingleK: Int = 3, threshold: Double = 0.5, margin: Double = 0.2,
                           numHashes: Int = 126, bands: Int = 0,
                           maxBucket: Int = 1000): DataFrame = {
    // Size the banding at the FINAL threshold (the recall we promise), not
    // at threshold − margin: the margin only widens the estimate cutoff to
    // absorb est-Jaccard variance after a band collision. Sizing at the
    // lower cutoff would force 1-row bands (every shared hash a candidate)
    // and blow up candidate volume for no recall the verify step keeps.
    val sizedBands = if (bands == 0) lshBandingFor(numHashes, threshold)._1 else bands
    val candidates = minHashLshPairs(docs, idCol, textCol, shingleK, numHashes, sizedBands,
      threshold - margin, maxBucket).select(col("id_a"), col("id_b"))
    ngramJaccard(candidates, docs, idCol, textCol, shingleK)
      .where(col("jaccard") >= threshold)
  }

  // ------------------------------------------- serving-table maintenance

  /** Rewrite-and-swap an APPEND-ONLY parquet table directory in place:
    * snapshot the current file list, read exactly those files, apply
    * `transform`, write the result beside the table, then swap — originals
    * to a per-run trash first, new files in, trash dropped last — so no
    * point in time has the only copy of a row in a half-written state.
    * Same recovery discipline as [[graft.streaming.EventSink.compactPartition]]
    * (reference analog: the HDFS writer's temp-file + rename protocol,
    * readers/hdfs/.../ProtoParquetWriterWithOffset.java:99-180): a crash
    * mid-swap leaves the run's trash dir + lock behind, and
    * [[recoverTableMaintenance]] restores the originals at startup.
    *
    * Concurrency: a create-exclusive `.maint_lock` serializes maintainers
    * (second caller returns false). Appenders may land NEW files while the
    * rewrite runs — the swap only moves the snapshotted originals, so a
    * concurrently appended file survives untouched (its rows simply miss
    * this pass, same as rows appended after it).
    *
    * Returns true iff a rewrite happened.
    */
  def rewriteTableDir(spark: SparkSession, tablePath: String,
                      transform: DataFrame => DataFrame,
                      targetFiles: Int = 1): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return false
    // a FileStreamSink-tracked table resolves reads through _spark_metadata:
    // renaming its files away and writing untracked replacements corrupts
    // every read — refuse, like EventSink.compactPartition does for the
    // same rename-based swap
    if (graft.streaming.EventSink.isStreamLogTracked(fs, tablePath)) return false
    val lock = new org.apache.hadoop.fs.Path(s"$tablePath/.maint_lock")
    val locked = try fs.createNewFile(lock) catch { case _: java.io.IOException => false }
    if (!locked) return false
    var swapStarted = false
    var completed = false
    try {
      val files = fs.listStatus(dir).filter(f => f.getPath.getName.endsWith(".parquet"))
      if (files.isEmpty) return false
      val stamp = System.currentTimeMillis() + "-" +
        java.util.UUID.randomUUID().toString.take(8)
      val tmp = new org.apache.hadoop.fs.Path(s"$tablePath/.maint_tmp/$stamp")
      val transformed = transform(
        spark.read.parquet(files.map(_.getPath.toString).toIndexedSeq: _*))
      // coalesce for the single-file case: no exchange (see the same
      // trade in EventSink.compactPartition)
      val rewritten =
        if (targetFiles == 1) transformed.coalesce(1)
        else transformed.repartition(targetFiles)
      rewritten.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val newFiles = fs.listStatus(tmp).filter(f => f.getPath.getName.endsWith(".parquet"))
      val trash = new org.apache.hadoop.fs.Path(s"$tablePath/.maint_trash/$stamp")
      fs.mkdirs(trash)
      def renameOrThrow(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"rename failed: $src -> $dst")
      swapStarted = true
      files.foreach(f => renameOrThrow(f.getPath, new org.apache.hadoop.fs.Path(trash, f.getPath.getName)))
      newFiles.zipWithIndex.foreach { case (f, i) =>
        renameOrThrow(f.getPath, new org.apache.hadoop.fs.Path(dir, s"maint-$stamp-$i.parquet"))
      }
      // the lock serializes maintainers, so this run's stamp is the only
      // one under the parents — drop them whole, leaving a clean dir
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.maint_trash"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.maint_tmp"), true)
      completed = true
      true
    } finally {
      // mid-swap failure keeps the lock (recovery clears it with the
      // trash); releasing it would let a second maintainer consume the
      // half-moved state
      if (completed || !swapStarted) fs.delete(lock, false)
    }
  }

  /** Repair interrupted [[rewriteTableDir]] runs: every stamp dir under
    * `.maint_trash/` is a swap that did not complete — drop that run's
    * half-moved `maint-<stamp>-*` files, restore the originals, clear tmp
    * and the lock. Call at maintainer startup (no maintainer may be live,
    * same caveat as [[graft.streaming.EventSink.recoverCompaction]]).
    * Returns true iff anything was restored.
    */
  def recoverTableMaintenance(spark: SparkSession, tablePath: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def clearAux(): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.maint_tmp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.maint_lock"), false)
    }
    val trashRoot = new org.apache.hadoop.fs.Path(s"$tablePath/.maint_trash")
    if (!fs.exists(trashRoot)) { clearAux(); return false }
    val restored = fs.listStatus(trashRoot).filter(_.isDirectory).map { runDir =>
      val stamp = runDir.getPath.getName
      fs.listStatus(dir)
        .filter(_.getPath.getName.startsWith(s"maint-$stamp-"))
        .foreach(f => fs.delete(f.getPath, false))
      // rename failures REPORT AS FALSE, not exceptions — proceeding to the
      // trash delete below would destroy the only copy of the un-renamed
      // rows. Throw instead: the trash stays intact and recovery is
      // retryable (same discipline as rewriteTableDir's renameOrThrow).
      fs.listStatus(runDir.getPath).foreach { f =>
        val dst = new org.apache.hadoop.fs.Path(dir, f.getPath.getName)
        if (!fs.rename(f.getPath, dst))
          throw new java.io.IOException(
            s"recovery rename failed: ${f.getPath} -> $dst (trash preserved, re-run recovery)")
      }
      true
    }.nonEmpty
    fs.delete(trashRoot, true)
    clearAux()
    restored
  }

  /** Re-cap a [[bandedTableCapped]] serving table: per-batch survivor
    * appends let buckets drift past the cap (and a crash-window replay can
    * leave duplicate (id, band, bucket) rows — see the write-order note in
    * [[graft.streaming.IncrementalDedup.processBatch]]); this rewrites the
    * table to drop replay duplicates FIRST (so phantom rows never inflate
    * a bucket count past the cap) and re-apply the bucket cap, restoring
    * the capped invariant `preCapped = true` reads rely on. Run it with
    * corpus compaction — the maintenance loop the serving contract
    * promises. Updates the `_LAYOUT.json` stamp's maxBucket on success so
    * later [[graft.streaming.IncrementalDedup.processBatch]] calls verify
    * against the cap actually in force.
    */
  def recapBandedTable(spark: SparkSession, bandedPath: String, maxBucket: Int,
                       targetFiles: Int = 1): Boolean = {
    val done = rewriteTableDir(spark, bandedPath,
      df => capBuckets(df.dropDuplicates("id", "band", "bucket"),
        Seq("band", "bucket"), maxBucket),
      targetFiles)
    if (done) DedupLayout.read(spark, bandedPath).foreach(l =>
      DedupLayout.write(spark, bandedPath, l.copy(maxBucket = maxBucket)))
    done
  }

  /** Compact a [[minHashSignatures]] table: per-batch appends produce one
    * small file set per micro-batch (the classic streaming small-file
    * explosion; at corpus scale the listing alone starts to dominate the
    * per-batch scan), and a crash-window replay can violate the
    * one-signature-per-doc invariant. Rewrites to `targetFiles` files with
    * at most one row per id. Signatures are a pure function of the doc
    * text, so dropping duplicate ids is lossless.
    *
    * Handles both layouts: a FLAT table is one [[rewriteTableDir]]; a
    * hash-partitioned table ([[writeSignatures]] with sigPartitions > 0)
    * is rewritten per `sig_pt=` partition — correct because an id always
    * hashes to the same partition, so the one-row-per-id invariant is
    * partition-local — swept in parallel via [[Maintenance.parallelSweep]].
    */
  def compactSignatures(spark: SparkSession, sigTablePath: String,
                        targetFiles: Int = 1): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(sigTablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return false
    // L0 deltas fold into the partitioned base FIRST, so the per-dir
    // replay-dedup below sees every row (a dup pair split across base
    // and delta would otherwise survive). P comes from the layout stamp
    // — the only writers of an L0 tier (IncrementalDedup increments)
    // stamp it on their first batch.
    val l0Folded =
      if (KeyedHistory.l0ParquetFiles(fs, dir).isEmpty) false
      else {
        val p = DedupLayout.read(spark, sigTablePath).map(_.sigPartitions)
          .getOrElse(throw new IllegalStateException(
            s"$sigTablePath holds an L0 delta tier but no " +
              s"${DedupLayout.ManifestName} — cannot place delta rows " +
              "without the stamped partition count"))
        KeyedHistory.foldSmallFiles(spark, sigTablePath, Seq("id"),
          partCol = SigPartitionCol, p = p, keyCols = Seq("id")) > 0
      }
    val partDirs = fs.listStatus(dir).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"$SigPartitionCol="))
    val compacted =
      if (partDirs.isEmpty)
        rewriteTableDir(spark, sigTablePath, _.dropDuplicates("id"), targetFiles)
      else
        Maintenance.parallelSweep(partDirs.toSeq, s"compactSignatures at $sigTablePath") {
          p => rewriteTableDir(spark, p.getPath.toString, _.dropDuplicates("id"), targetFiles)
        }.exists(identity)
    l0Folded || compacted
  }

  // ------------------------------------ signature-table hash partitioning

  /** Partition column of a hash-partitioned signature table. */
  val SigPartitionCol = "sig_pt"

  /** The hash bucket a signature row lives in: `pmod(xxhash64(id), P)` —
    * [[KeyedHistory.partValue]], the formula every hash-partitioned
    * history table shares. Pure function of the id, so writers and
    * readers agree with zero coordination — PROVIDED they agree on P,
    * which [[DedupLayout]] therefore stamps and enforces.
    */
  def sigPartition(id: Column, sigPartitions: Int): Column =
    KeyedHistory.partValue(sigPartitions, id)

  /** Write a [[minHashSignatures]] output as the serving signature table.
    * With `sigPartitions > 0` the table is `partitionBy(sig_pt)` on
    * `hash(id) % P` — the layout that removes the LAST corpus-linear
    * per-batch term from incremental dedup: the verify stage's signature
    * fetch ([[prunedCorpusSigs]]) prunes to the partitions its candidate
    * ids can live in, so per-batch bytes read scale with the CANDIDATE
    * count (≤ P partitions), not the corpus.
    *
    * Sizing P: it must be LARGE relative to the per-batch distinct
    * candidate count (a few thousand), or every batch touches every
    * partition and pruning is vacuous — and the partition byte size
    * (corpus/P) is what each candidate partition costs to read, so hold
    * it at a healthy parquet file size and GROW P with the corpus (e.g.
    * 65536 partitions for a 10^9-doc corpus ⇒ ~15k sigs ≈ 15 MB per
    * partition; a batch with 2k candidate ids then reads ≤ 2k partitions
    * ≈ 30 GB instead of the full 1 TB sig table). Growing P is a
    * re-layout — automated by [[relayoutSignatures]] (write-aside +
    * crash-recoverable swap + `_LAYOUT.json` re-stamp), run with corpus
    * compaction.
    *
    * The write repartitions ON the partition value first — without that,
    * every input task writes a file into every partition dir it touches
    * (tasks × P small files, the write-side small-file explosion); with
    * it the table lands as one file per partition.
    */
  /** Data schema of a signature table (partition column excluded). */
  private[graft] val sigSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))

  /** The whole signature table — partitioned base plus the L0 delta tier
    * ([[KeyedHistory.readAll]]). Every full read of a partitioned sig
    * table MUST come through here: a plain `spark.read.parquet` skips
    * `_l0`, which for the candidate band join or a re-layout would mean
    * silently missing (or losing) the not-yet-folded increments.
    */
  def readAllSignatures(spark: SparkSession, path: String): DataFrame =
    KeyedHistory.readAll(spark, path, sigSchema, SigPartitionCol)

  def writeSignatures(sigs: DataFrame, path: String, sigPartitions: Int,
                      mode: SaveMode = SaveMode.ErrorIfExists,
                      l0: Boolean = false): Unit =
    if (sigPartitions <= 0) sigs.write.mode(mode).parquet(path)
    else KeyedHistory.append(sigs, path, sigPartitions, Seq("id"),
      mode = mode, partCol = SigPartitionCol, l0 = l0)

  /** Partition-pruned read of the signature rows a candidate id set can
    * touch: the distinct `hash(id) % P` values of `ids` (≤ P rows —
    * driver-bounded by construction) become a static `sig_pt IN (...)`
    * predicate, so the parquet scan prunes to those partitions at
    * planning time. `ids` is consumed once here and again by the caller's
    * join — persist it at the call site. Emits the [[minHashSignatures]]
    * schema (id, sig).
    */
  def prunedCorpusSigs(spark: SparkSession, sigTablePath: String,
                       ids: DataFrame, sigPartitions: Int): DataFrame = {
    require(sigPartitions > 0,
      s"prunedCorpusSigs needs a hash-partitioned table (sigPartitions > 0); " +
        s"flat tables at $sigTablePath can only be scanned whole")
    val idCol = ids.columns.head
    val pts = KeyedHistory.probePartitions(
      ids.select(col(idCol).as("id")), sigPartitions, Seq("id"))
    val dir = new org.apache.hadoop.fs.Path(sigTablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirsByValue = KeyedHistory.partitionDirs(fs, dir, SigPartitionCol)
    val l0 = KeyedHistory.l0ParquetFiles(fs, dir)
    // a FLAT table reached with sigPartitions > 0 means the caller's
    // config and the table's layout disagree — name the repair instead of
    // silently matching nothing (the table HAS rows, just no sig_pt dirs)
    require(dirsByValue.nonEmpty || l0.nonEmpty || fs.listStatus(dir).forall(s =>
        !s.getPath.getName.endsWith(".parquet")),
      s"$sigTablePath has no $SigPartitionCol partition dirs (it was written " +
        "flat) but the caller expects a hash-partitioned layout — re-write it " +
        "with writeSignatures(sigPartitions = P) or run with sigPartitions = 0")
    def empty =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        sigSchema)
    // only the selected dirs reach the reader (KeyedHistory.prunedRead's
    // path-construction pruning): per-probe listing is O(selected
    // partitions' files), flat in the signature table's total file
    // count. The L0 delta tier (not-yet-folded increments) is read
    // whole — its files are increment-sized and ≤ fold-cadence many;
    // missing them would silently re-admit the last increments' docs.
    val selected = pts.flatMap(dirsByValue.get)
    val base =
      if (selected.isEmpty) empty
      else KeyedHistory.readPartitionDirs(spark, sigTablePath, selected)
        .select(col("id"), col("sig"))
    if (l0.isEmpty) base
    else base.unionByName(
      spark.read.schema(sigSchema).parquet(l0.map(_.toString): _*))
  }

  /** Re-layout a signature table to a NEW hash-partition count — the "grow
    * P with the corpus" maintenance step the partitioned layout's sizing
    * note promises (see [[writeSignatures]]): partitions are a pure
    * function of `pmod(xxhash64(id), P)`, so changing P moves every row —
    * a whole-table rewrite, done as write-aside + directory swap:
    *
    *  1. read the old table (flat or partitioned — both re-layout), one
    *     row per id ([[minHashSignatures]] is deterministic, so dropping
    *     replay duplicates is lossless, same argument as
    *     [[compactSignatures]]);
    *  2. write the new layout AND its updated `_LAYOUT.json` stamp
    *     (sigPartitions = newP) into a sibling `.relayout_tmp/<stamp>`
    *     dir — the new table is COMPLETE, stamp included, before the live
    *     path changes at all;
    *  3. swap: old dir → `.relayout_trash/<stamp>`, tmp → live path;
    *  4. drop trash + release the lock.
    *
    * A crash at any point is repaired by [[recoverSignatureRelayout]]:
    * before the swap the original is untouched; between the two renames
    * the original is restored from trash; after them the roll-forward just
    * clears trash — the live path never holds a half-written table.
    * A sibling `.relayout_lock` serializes re-layouts (second caller
    * returns false).
    *
    * Concurrency contract: run from the maintenance loop with NO live
    * writer on the table — unlike [[rewriteTableDir]]'s file-snapshot
    * rewrite, a directory swap cannot preserve rows appended mid-rewrite.
    * Readers/writers configured with the OLD P are refused afterwards by
    * the [[DedupLayout]] stamp check (sigPartitions is part of the guarded
    * layout) — drift cannot silently admit duplicates. Returns true iff
    * the re-layout happened.
    */
  def relayoutSignatures(spark: SparkSession, sigTablePath: String,
                         newP: Int): Boolean = {
    require(newP > 0, s"relayoutSignatures needs a positive partition count (got $newP)")
    val dir = new org.apache.hadoop.fs.Path(sigTablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // interrupted-swap check BEFORE the existence check: in the crash
    // window the live path is the thing that's missing — silently
    // no-opping there would leave the table unrestored forever
    val trashRoot = new org.apache.hadoop.fs.Path(s"$sigTablePath.relayout_trash")
    require(!fs.exists(trashRoot),
      s"$trashRoot holds an interrupted re-layout — run recoverSignatureRelayout first")
    if (!fs.exists(dir)) return false
    // same refusal as rewriteTableDir: a FileStreamSink-tracked table
    // resolves reads through _spark_metadata — swapping its directory out
    // from under the log corrupts every read
    if (graft.streaming.EventSink.isStreamLogTracked(fs, sigTablePath)) return false
    val layout = DedupLayout.read(spark, sigTablePath).getOrElse(
      throw new IllegalStateException(
        s"$sigTablePath has no ${DedupLayout.ManifestName} — re-layout re-stamps the " +
          "manifest, so it refuses tables whose layout parameters it cannot know"))
    if (layout.sigPartitions == newP) return false
    val lock = new org.apache.hadoop.fs.Path(s"$sigTablePath.relayout_lock")
    val locked = try fs.createNewFile(lock) catch { case _: java.io.IOException => false }
    if (!locked) return false
    var swapStarted = false
    var completed = false
    try {
      val stamp = System.currentTimeMillis() + "-" +
        java.util.UUID.randomUUID().toString.take(8)
      val tmp = new org.apache.hadoop.fs.Path(s"$sigTablePath.relayout_tmp/$stamp")
      // readAllSignatures: the swap trashes the WHOLE old dir — _l0
      // included — so a re-layout that read only the partitioned base
      // would silently LOSE the not-yet-folded increments
      writeSignatures(
        readAllSignatures(spark, sigTablePath).dropDuplicates("id"),
        tmp.toString, newP)
      DedupLayout.write(spark, tmp.toString, layout.copy(sigPartitions = newP))
      fs.mkdirs(trashRoot)
      def renameOrThrow(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"rename failed: $src -> $dst")
      swapStarted = true
      renameOrThrow(dir, new org.apache.hadoop.fs.Path(trashRoot, stamp))
      renameOrThrow(tmp, dir)
      fs.delete(trashRoot, true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$sigTablePath.relayout_tmp"), true)
      completed = true
      true
    } finally {
      // mid-swap failure keeps the lock for recovery, same discipline as
      // rewriteTableDir: a second maintainer must not consume half a swap
      if (completed || !swapStarted) fs.delete(lock, false)
    }
  }

  /** Repair an interrupted [[relayoutSignatures]]: a populated
    * `.relayout_trash` means the swap did not complete — if the live path
    * is missing the ORIGINAL table is restored from trash (the new layout
    * is discarded; re-run the re-layout), and if the live path exists the
    * swap had already rolled forward (the stamped new table is in place)
    * so trash is just dropped. Clears tmp and the lock either way. Call at
    * maintainer startup; no re-layout may be live. Returns true iff there
    * was anything to repair.
    */
  def recoverSignatureRelayout(spark: SparkSession, sigTablePath: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(sigTablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trashRoot = new org.apache.hadoop.fs.Path(s"$sigTablePath.relayout_trash")
    val tmpRoot = new org.apache.hadoop.fs.Path(s"$sigTablePath.relayout_tmp")
    val lock = new org.apache.hadoop.fs.Path(s"$sigTablePath.relayout_lock")
    val hadTrash = fs.exists(trashRoot)
    if (hadTrash) {
      val stamps = fs.listStatus(trashRoot).filter(_.isDirectory)
      if (!fs.exists(dir) && stamps.nonEmpty) {
        // crash between the two renames: restore the original table
        if (!fs.rename(stamps.head.getPath, dir))
          throw new java.io.IOException(
            s"recovery rename failed: ${stamps.head.getPath} -> $dir " +
              "(trash preserved, re-run recovery)")
      }
      fs.delete(trashRoot, true)
    }
    val hadTmp = fs.exists(tmpRoot)
    fs.delete(tmpRoot, true)
    val hadLock = fs.exists(lock)
    fs.delete(lock, false)
    hadTrash || hadTmp || hadLock
  }

  /** What one [[maintainServingTables]] pass did. */
  final case class ServingMaintenanceReport(
      recoveredRelayout: Boolean,
      recoveredTables: Int,
      sigCompacted: Boolean,
      bandedRecapped: Boolean,
      acceptedCompacted: Boolean,
      sigRelayouted: Boolean)

  /** Crash recovery for a signature table, whatever its layout: repairs an
    * interrupted [[relayoutSignatures]] first (the live dir may be missing
    * in that crash window), then interrupted [[rewriteTableDir]] swaps —
    * on the root for a flat table, per `sig_pt=` partition for the
    * hash-partitioned layout (the same split [[compactSignatures]]
    * sweeps). Returns (relayout repaired, rewrite-swaps repaired).
    */
  def recoverSignatureTable(spark: SparkSession, sigTablePath: String): (Boolean, Int) = {
    val relayout = recoverSignatureRelayout(spark, sigTablePath)
    val dir = new org.apache.hadoop.fs.Path(sigTablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return (relayout, 0)
    val partDirs = fs.listStatus(dir).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"$SigPartitionCol="))
    val repaired =
      if (partDirs.isEmpty) { if (recoverTableMaintenance(spark, sigTablePath)) 1 else 0 }
      else partDirs.count(p => recoverTableMaintenance(spark, p.getPath.toString))
    (relayout, repaired)
  }

  /** ONE maintenance pass over the incremental-dedup serving shape — the
    * batch loop [[graft.streaming.IncrementalDedup.processBatch]]'s
    * scaladoc promises, composed from the individual tools so a
    * maintainer calls one thing at startup/periodically (the IVF-store
    * analog is [[IvfIndexStore.recoverGenerationMaintenance]] +
    * [[IvfIndexStore.compactGeneration]]):
    *
    *  1. crash RECOVERY everywhere first ([[recoverSignatureTable]] on the
    *     sig table, [[recoverTableMaintenance]] on banded + accepted) —
    *     half-swapped state must be repaired before any new rewrite;
    *  2. [[compactSignatures]] — per-batch append file sets folded, one
    *     sig per id restored;
    *  3. [[recapBandedTable]] — replay-duplicate band rows dropped, bucket
    *     cap re-applied, manifest re-stamped;
    *  4. accepted-table compaction (replay dedup on `idCol` + small-file
    *     fold) when `acceptedPath`/`idCol` are given;
    *  5. optionally GROW the sig-table hash layout
    *     ([[relayoutSignatures]]) when `growSigPartitionsTo` is set —
    *     last, over the just-compacted table.
    *
    * Liveness contract: same as every swap here — run with no concurrent
    * maintainer (per-table locks make a second caller a no-op, never a
    * corruption) and, for the re-layout leg, no live writer.
    */
  def maintainServingTables(spark: SparkSession, sigTablePath: String,
                            bandedTablePath: Option[String] = None,
                            acceptedPath: Option[String] = None,
                            idCol: String = "doc_id",
                            maxBucket: Int = 1000,
                            targetFiles: Int = 1,
                            growSigPartitionsTo: Option[Int] = None)
      : ServingMaintenanceReport = {
    val (relayoutFixed, sigSwapsFixed) = recoverSignatureTable(spark, sigTablePath)
    val otherFixed =
      bandedTablePath.count(p => recoverTableMaintenance(spark, p)) +
        acceptedPath.count(p => recoverTableMaintenance(spark, p))
    val compacted = compactSignatures(spark, sigTablePath, targetFiles)
    val recapped = bandedTablePath.exists(p =>
      recapBandedTable(spark, p, maxBucket, targetFiles))
    val acceptedDone = acceptedPath.exists(p =>
      rewriteTableDir(spark, p, _.dropDuplicates(idCol), targetFiles))
    val relayouted = growSigPartitionsTo.exists(p =>
      relayoutSignatures(spark, sigTablePath, p))
    ServingMaintenanceReport(relayoutFixed, sigSwapsFixed + otherFixed,
      compacted, recapped, acceptedDone, relayouted)
  }

  // --------------------------------------------------------------- SimHash

  /** 62-bit SimHash per doc (`sh BIGINT`): explode tokens → one portable
    * polynomial hash per token ([[TextExpressions.PortableTokenHash64]]) →
    * single-pass [[SignatureAggregates.SimHashAgg]].
    *
    * The token hash is deliberately engine-portable (two 31-bit polynomial
    * hashes, no 64-bit wraparound), so a reference engine can recompute the
    * exact signatures and the pair set is verifiable end-to-end.
    */
  def simHashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(F.tokens(col(textCol))).as("tok"))
      .groupBy(col("id"))
      .agg(SignatureAggregates.simhash_agg(
        TextExpressions.portable_token_hash(col("tok"))).as("sh"))

  /** SimHash near-dup pairs: Hamming distance ≤ maxHamming, blocked on the
    * 4 16-bit quarters of the hash (a pair within distance ≤3 must agree on
    * ≥1 quarter — pigeonhole), so the join is bucket-local, not all-pairs.
    *
    * `maxBucket` bounds pathological quarter buckets (the 16-bit keyspace
    * is fixed, so bucket population grows with corpus size); a capped
    * bucket loses the pigeonhole guarantee for its members — report
    * [[oversizedBuckets]] alongside. At 10^8+ docs switch to
    * [[simHashPairsWide]]: same exact recall, ~32-bit compound keys.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String = "text",
                   maxHamming: Int = 3, maxBucket: Int = 100000): DataFrame = {
    require(maxHamming <= 3, "4-quarter blocking guarantees recall only for maxHamming <= 3")
    val hashed = simHashSignatures(docs, idCol, textCol)
    // band keys as a static 4-element struct array (codegen), not a
    // transform(sequence(…)) lambda — HigherOrderFunctions are
    // CodegenFallback and this explode runs once per document (the
    // bandedCenteredPairs form)
    val blocked = hashed.select(col("id"), col("sh"),
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"), call_function("shiftright", col("sh"), lit(q * 16))
          .bitwiseAND(0xFFFFL).as("qk"))): _*)).as("b"))
      .select(col("id"), col("sh"), col("b.q").as("q"), col("b.qk").as("qk"))
    val bounded = capBuckets(blocked, Seq("q", "qk"), maxBucket)
    val a = bounded.select(col("q"), col("qk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = bounded.select(col("q"), col("qk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("q", "qk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact n-gram Jaccard similarity for candidate pairs (the verification
    * step after LSH; also usable standalone on small candidate sets).
    * `pairs` must have (id_a, id_b); docs provide (id, text).
    */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String = "text", k: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        when(col("uni") === 0, 0.0).otherwise(col("inter").cast(DoubleType) / col("uni")).as("jaccard"))
  }

  /** Wide-key SimHash blocking for huge corpora (Manku-style): split the
    * 64-bit signature into `blocks` contiguous blocks; a pair within
    * Hamming distance ≤ `maxHamming` differs in at most `maxHamming`
    * blocks, so it agrees on some (blocks − maxHamming)-subset —
    * pigeonhole-exact recall, like the quarter scheme, but the block key
    * is the CONCATENATION of an entire block subset (e.g. 6 blocks,
    * subsets of 3 ⇒ ~32-bit compound keys vs the quarters' 16-bit), so
    * bucket population at 10^8+ docs shrinks by the extra key width. Cost:
    * C(blocks, blocks−maxHamming) table copies (20 for 6/3) instead of 4 —
    * the standard space-for-skew trade once 2^16 buckets saturate.
    */
  def simHashPairsWide(docs: DataFrame, idCol: String, textCol: String = "text",
                       maxHamming: Int = 3, blocks: Int = 6,
                       maxBucket: Int = 1000000): DataFrame = {
    require(blocks > maxHamming, "need more blocks than allowed differing bits")
    require(blocks <= 16, "block key layout packs block values into 64-bit lanes")
    val agree = blocks - maxHamming
    val bitsPer = 64 / blocks // first blocks-1 blocks bitsPer wide, last takes the remainder
    def blockVal(sh: Column, b: Int): Column = {
      val width = if (b == blocks - 1) 64 - bitsPer * (blocks - 1) else bitsPer
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      call_function("shiftright", sh, lit(bitsPer * b)).bitwiseAND(mask)
    }
    val subsets = (0 until blocks).combinations(agree).toSeq.zipWithIndex
    val hashed = simHashSignatures(docs, idCol, textCol)
    val blocked = hashed.select(col("id"), col("sh"),
      explode(array(subsets.map { case (subset, si) =>
        // compound key: subset id + the subset's block values hashed together
        struct(lit(si).as("t"),
          xxhash64(concat_ws(",", subset.map(b => blockVal(col("sh"), b).cast(StringType)): _*))
            .as("bk"))
      }: _*)).as("s"))
      .select(col("id"), col("sh"), col("s.t").as("t"), col("s.bk").as("bk"))
    val bounded = capBuckets(blocked, Seq("t", "bk"), maxBucket)
    val a = bounded.select(col("t"), col("bk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = bounded.select(col("t"), col("bk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("t", "bk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ------------------------------------------------ dedup clustering

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation: every node repeatedly adopts the smallest
    * label among itself and its neighbors until a fixpoint. Converges in
    * O(component diameter) rounds — near-dup graphs are dense clusters
    * with tiny diameters, so a handful of iterations closes them (the
    * alternating large-star/small-star variant is the published
    * contingency for adversarial long-chain graphs at extreme scale).
    * Each round is one shuffle keyed on node id; the driver only checks a
    * scalar convergence count.
    *
    * Returns (id, component) with component = min id of the node's
    * component. Nodes appear iff they appear in `pairs`. The result is
    * PERSISTED (the fixpoint loop materializes each round to keep lineage
    * one round deep — without that, every downstream action re-derives all
    * rounds): consume it and `unpersist()`, or write it to a table; at
    * corpus scale the component table is a real artifact you want stored
    * anyway.
    *
    * If the fixpoint is not reached within `maxIters` (a component with
    * diameter > maxIters — adversarial long chains), the call FALLS BACK
    * to [[connectedComponentsStar]], the published alternating
    * large-star/small-star algorithm whose round count is logarithmic in
    * the component size rather than linear in its diameter — same labels,
    * never silently wrong ones. Propagation stays the default because
    * near-dup graphs are dense tiny-diameter clusters where a handful of
    * its cheaper rounds beats the star rounds' extra joins.
    */
  /** Edge-count bound for [[connectedComponents]]' driver fast path: a
    * symmetrized edge set at or below this collects to the driver (two
    * longs per row ⇒ ≤ ~32 MB) and labels via union-find in one pass —
    * near-dup pair graphs at batch/bench scale are a few hundred edges,
    * and the distributed loop's per-ROUND fixed cost (one planned job +
    * Catalyst/AQE latency, × diameter rounds, × every CC call site) was
    * the measured driver-gap term in half the lifecycle queries
    * (JobProfile r15). Labels are IDENTICAL to the loop's fixpoint
    * (component = min id, union-find keeps the min as root); corpus-scale
    * graphs exceed the bound and take the distributed loop unchanged.
    */
  private val DriverCcMaxEdges = 1L << 20

  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // the edge set participates in EVERY round's join — persist it for the
    // loop's lifetime or each round re-derives the (expensive) pair
    // generation lineage; released before returning
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist()
    // driver fast path: long-keyed graphs under the bound label in ONE
    // collect (the count doubles as the cache materialization the loop
    // paid anyway via its first labelSum)
    val longKeyed = sym.schema.fields.forall(_.dataType == LongType)
    if (longKeyed && sym.count() <= DriverCcMaxEdges) {
      val spark = pairs.sparkSession
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      sym.collect().foreach { row => // bounded by DriverCcMaxEdges
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        // min id stays root ⇒ every node's root IS its component label
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      sym.unpersist()
      val it = parent.keySet().iterator()
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      while (it.hasNext) {
        val id = it.next()
        out.add(org.apache.spark.sql.Row(id, find(id)))
      }
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("component", LongType)))
      return spark.createDataFrame(out, schema).persist()
    }
    // each round materializes (persist + count) so lineage stays one round
    // deep — iterative algorithms must not re-derive round N-1 per action
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .persist()
    // labels only ever DECREASE, so the fixpoint test is "sum of labels
    // unchanged" — one aggregate per round, no join against the previous
    // round (sum as DECIMAL(38,0): overflow-free for any id range)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // sum over an EMPTY pair graph is SQL null — fall back to zero so an
      // empty input converges on the first round instead of NPE-ing
      Option(df.agg(sum(col("component").cast(DecimalType(38, 0)))).first().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // neighbor labels + own label → new label = min
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("component"))
      val next = labels.select(col("id"), col("component"))
        .union(viaNeighbors)
        .groupBy("id").agg(min("component").as("component"))
        .persist()
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    sym.unpersist()
    if (!converged) {
      labels.unpersist()
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: min-label propagation did not converge in $maxIters " +
          "rounds (a component's diameter exceeds maxIters) — falling back to the " +
          "alternating large-star/small-star algorithm (rounds ~ log(component size))")
      return connectedComponentsStar(pairs)
    }
    labels
  }

  /** Connected components by ALTERNATING large-star/small-star contraction
    * (the published MapReduce CC algorithm — Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round re-points
    * edges at per-node minima (large-star attaches every larger neighbor
    * to the node's minimum, small-star re-points the remaining smaller
    * neighbors), contracting any component to a star rooted at its min id
    * in O(log |component|) rounds — the contingency for adversarial
    * long-chain graphs where [[connectedComponents]]'s per-round label
    * propagation would need O(diameter) rounds.
    *
    * Relational shape: each star step is one groupBy(min) + one join —
    * no per-node neighbor lists are ever materialized (a `collect_list`
    * formulation would OOM on high-degree nodes; this one shuffles only
    * (node, min) pairs). Each round `localCheckpoint`s its edge set: one
    * round's plan references the previous edges ~5× (sym union + two
    * join sides per star step), so carrying lineage would grow the
    * LOGICAL PLAN exponentially in the round count — persist alone does
    * not truncate it (same trade as TrainingPipeline's checkpoint; an
    * executor loss mid-computation costs a rerun, which iterative CC at
    * this cost profile happily pays). Convergence is detected by a
    * (count, hash-sum) fingerprint — ONE aggregate job per round instead
    * of the count + exceptAll pair, order-insensitive because the per-edge
    * hashes sum. The fingerprint is probabilistic (a 64-bit hash-sum
    * collision could stop a round early), which is safe because
    * correctness never rests on it: every large-star/small-star step
    * PRESERVES components, so ANY stopping state that is verified
    * star-shaped labels correctly — and the result is structurally
    * verified to be a star before returning (no label chains AND one
    * parent per node; the second check catches the chain-free
    * multi-parent state, e.g. {(u,v1),(u,v2)}, that a chain check alone
    * would let through on maxIters exhaustion). Wrong labels cannot
    * escape silently — the call throws instead.
    *
    * Same contract as [[connectedComponents]]: returns (id, component =
    * min id), PERSISTED — consume and unpersist.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // canonical (u > v) edges, self-loops dropped (they do not affect
    // components; lone self-paired nodes re-enter via the allNodes union)
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint() // eager: materializes AND truncates lineage

    // large-star: for every node n, attach each STRICTLY LARGER neighbor
    // to m(n) = min(N(n) ∪ {n}); emitted (bigger, m) is already canonical
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: node n's remaining smaller neighbors (and n itself)
    // re-point at m(n) = min of them — input/output both canonical
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val joined = e.join(mins, "u")
      joined.where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(joined.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // (count, hash-sum) edge-set fingerprint: one aggregate job per round
    // (sum as DECIMAL(38,0) — overflow-free over any edge count)
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))).as("h")).first()
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    var iter = 0
    var stable = false
    var fp = fingerprint(edges)
    while (iter < maxIters && !stable) {
      // checkpointed blocks of superseded rounds are released by the
      // ContextCleaner once unreferenced — no manual unpersist needed
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nfp = fingerprint(next)
      stable = nfp._1 == fp._1 && nfp._2.compareTo(fp._2) == 0
      fp = nfp
      edges = next
      iter += 1
    }
    // the star property IS the correctness witness (convergence detection
    // above is only a stopping heuristic): a dst that is also a src means
    // a label chain survived — refuse rather than mislabel
    val chained = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .limit(1).collect()
    if (chained.nonEmpty)
      throw new IllegalStateException(
        s"connectedComponentsStar did not contract to stars in $maxIters rounds — " +
          "labels would be wrong; raise maxIters")
    // ...and each node must have exactly ONE parent: a chain-free
    // multi-parent state ({(u,v1),(u,v2)} on maxIters exhaustion) would
    // otherwise fan the left join below into conflicting (id, component)
    // rows
    val multiParent = edges.groupBy("u").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).limit(1).collect()
    if (multiParent.nonEmpty)
      throw new IllegalStateException(
        s"connectedComponentsStar exhausted $maxIters rounds with multi-parent " +
          "nodes remaining — labels would be ambiguous; raise maxIters")
    val allNodes = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val labels = allNodes
      .join(edges.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .persist()
    labels.count()
    labels
  }

  /** Keep one representative per near-dup group: docs not in any pair pass
    * through; grouped docs survive iff they are their component's min id.
    * The standard "dedup cluster → keep canonical" pipeline step.
    */
  def dropNearDupGroups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dropNearDupGroupsWith(docs, idCol, connectedComponents(pairs))

  /** [[dropNearDupGroups]] with a CALLER-OWNED component labeling (a
    * [[connectedComponents]] output, which arrives persisted): the caller
    * controls the labels' cache lifecycle. Use this flavor from repeated /
    * streaming contexts and unpersist the labels once the result is
    * materialized — the one-shot flavor above leaks one persisted frame
    * per call, fine for a single batch query, unbounded in a per-batch
    * loop.
    */
  def dropNearDupGroupsWith(docs: DataFrame, idCol: String, comps: DataFrame): DataFrame =
    docs.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .where(col("component").isNull || col("component") === col(idCol))
      .drop("component")

  /** Keep the BEST-scoring doc per near-dup component (docs in no pair pass
    * through) — the standard "keep canonical by quality" pipeline step
    * (vs [[dropNearDupGroups]]'s min-id representative). `scoreCol` is any
    * deterministic NUMERIC, non-null, non-NaN Column over `docs` (quality
    * score, token count, …); ties break on min id so the selection is
    * replay-stable.
    *
    * The keep-one is a `min_by` AGGREGATE over the component key (ordering
    * = (−score, id), so argmax-score / tie-min-id), NOT a
    * `row_number()` window: a window exchanges every member of a component
    * into one task and sorts it, and dup components are exactly the keys
    * that go Zipf at crawl scale (boilerplate/template floods produce
    * million-member components). The aggregate form gets map-side partial
    * aggregation — each task reduces its slice of a flood component to ONE
    * candidate row before the exchange — the same skew-proof shape as
    * [[dropExactDups]].
    *
    * Score-column contract (why numeric/non-null/non-NaN): the ordering
    * negates the score to turn argmax into `min_by`'s argmin; NaN would
    * flip from "sorts first under desc" to "sorts last", and a null score
    * would flip from "loses under desc NULLS LAST" to "wins" — both are
    * senseless quality scores anyway, so the contract is ENFORCED with a
    * per-row raise (a `when` chain inside the same codegen stage — the
    * alternative is a silent winner inversion keeping the WORST
    * duplicate as canonical, exactly the corruption no drift check would
    * ever catch).
    */
  def keepBestPerGroup(docs: DataFrame, idCol: String, pairs: DataFrame,
                       scoreCol: Column): DataFrame = {
    val comps = connectedComponents(pairs)
    // materialize so the component frame can release NOW — the one-shot
    // connectedComponents returns a PERSISTED frame, and a per-batch loop
    // over the lazy form would pin one cached frame per call forever (the
    // exact leak dropNearDupGroupsWith's doc warns about, here with
    // neither the warning nor the escape hatch)
    try keepBestPerGroupPlan(docs, idCol, comps, scoreCol).localCheckpoint(true)
    finally comps.unpersist()
  }

  /** The un-materialized plan behind [[keepBestPerGroup]], with
    * caller-owned component labels — exposed so specs can witness the
    * plan shape (aggregate, no Window/Sort) and so repeated/streaming
    * contexts can manage the labels' cache lifecycle themselves. */
  private[graft] def keepBestPerGroupPlan(docs: DataFrame, idCol: String,
                                          comps: DataFrame,
                                          scoreCol: Column): DataFrame = {
    val cols = docs.columns
    val s = scoreCol.cast("double")
    val guarded = when(s.isNull, raise_error(lit(
        "keepBestPerGroup: null score — the min_by ordering would invert " +
          "the winner (null wins instead of losing); repair or coalesce " +
          "the score column")))
      .when(isnan(s), raise_error(lit(
        "keepBestPerGroup: NaN score — the negated ordering would invert " +
          "the winner; repair the score column")))
      .otherwise(s)
    val ord = struct((guarded * lit(-1.0d)).as("_neg_score"),
      col(idCol).as("_tie_id"))
    docs
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("_comp", coalesce(col("component"), col(idCol)))
      .drop("component")
      .groupBy(col("_comp"))
      .agg(min_by(struct(cols.map(col): _*), ord).as("_best"))
      .select(cols.map(c => col("_best").getField(c).as(c)): _*)
  }

  // ----------------------------------------- embedding cosine near-dup

  /** Embedding near-duplicates: pairs with exact cosine ≥ threshold,
    * candidates from B independent random-hyperplane bands (codegen
    * [[VectorExpressions.HyperplaneSig]], seed = band index), each band's
    * buckets capped at `maxBucket`. The band join carries ids only;
    * vectors are joined back after the candidate pairs are deduped, so the
    * wide rows never ride the candidate shuffle. Exact cosine verifies
    * every candidate — the output is an exact property of the corpus.
    *
    * Parameters trade recall vs candidate volume: miss probability per
    * pair ≈ (1 − p^bitsPerBand)^bands with p = 1 − θ/π. For true near-dup
    * corpora (cosine ≥ 0.9) use bitsPerBand 12-16; low thresholds need few
    * bits and many bands.
    */
  /** The deduped hyperplane-LSH candidate id-pair stage of
    * [[embeddingNearDups]], exposed separately (like
    * [[minHashCandidatePairs]]) so scale harnesses can measure candidate
    * volume against corpus growth. Input must have (id, v).
    *
    * Tuning rule the harness verifies: with FIXED `bitsPerBand`, candidate
    * volume grows ~N²/2^bits per band — bits must grow with log2(corpus)
    * (bucket count tracking corpus size) to keep candidates-per-doc flat,
    * with bands re-sized to hold the recall bound.
    */
  def embeddingCandidatePairs(base: DataFrame, bands: Int, bitsPerBand: Int,
                              maxBucket: Int): DataFrame = {
    // fanout (r15): same two pinned exchanges as [[minHashCandidatePairs]]
    // — banding feeds the quadratic bucket self-join, the pair dedup feeds
    // the fused cosine verify (measured: q_embed_neardup's whole chain ran
    // on ONE AQE-coalesced task before this)
    val banded = fanout(base.select(col("id"),
      explode(array((0 until bands).map(bnd =>
        struct(lit(bnd).as("band"),
          VectorExpressions.hyperplane_sig(col("v"), bitsPerBand, bnd).as("sig"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig")),
      col("band"), col("sig"))
    val bounded = capBuckets(banded, Seq("band", "sig"), maxBucket)
    fanout(bounded.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(bounded.select(col("band"), col("sig"), col("id").as("id_b")), Seq("band", "sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")), col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  def embeddingNearDups(embs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.9, bands: Int = 16, bitsPerBand: Int = 8,
                        maxBucket: Int = 100000): DataFrame = {
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    embeddingCandidatePairs(base, bands, bitsPerBand, maxBucket)
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"), F.cosine(col("v_a"), col("v_b")).as("cosine"))
      .where(col("cosine") >= threshold)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{BloomFilter, Functions => F}

/** Sharded Bloom "seen set" — the incremental exact-dedup PROBE for
  * corpora where joining each new batch against the full history is the
  * bottleneck: the history is folded once into a fixed-size bit filter,
  * and every later batch is marked `maybe_seen` by a broadcast join +
  * arithmetic bit test — a map-only probe whose cost is independent of
  * history size. `maybe_seen = false` is EXACT (never seen — safe to
  * admit with no further work); `maybe_seen = true` is a candidate set
  * to confirm against the (partition-pruned) store, sized by the false-
  * positive rate ≈ (1 − e^{−k·n/m})^k. This is the standard two-tier
  * shape: the filter eliminates the no-hit majority, the exact check
  * only pays for hits.
  *
  * The filter is a DataFrame of `(shard, words, seed, k_hashes, m_bits,
  * num_shards)` — self-describing, parquet-round-trippable, OR-mergeable
  * ([[mergeFilters]]) so daily increments compose without replaying
  * history. Sharding (shard = fp mod numShards) keeps each aggregation
  * buffer at mBits/8 bytes while the TOTAL capacity scales with
  * numShards × mBits; the probe side broadcasts numShards × mBits/8
  * bytes (size it to a few hundred MB at most — 2^30 total bits = 128 MB
  * covers ~10^8 history keys per 1% FP at k=7).
  *
  * Keys are the portable content fingerprint, and bit positions are the
  * exact double-hashing arithmetic of [[graft.functions.BloomFilter]] —
  * so the filter's behavior, false positives included, is replayable by
  * any engine (the oracle gates accept/reject bit-for-bit, not just "no
  * false negatives").
  */
object SeenFilter {

  private def checkParams(kHashes: Int, mBits: Int, numShards: Int): Unit = {
    require(kHashes >= 1 && kHashes <= 16, s"kHashes must be in [1,16], got $kHashes")
    require(mBits >= 64 && mBits <= (1 << 24),
      s"mBits must be in [64, 2^24] (per-shard aggregate buffer = mBits/8 bytes; " +
        s"grow numShards for more capacity), got $mBits")
    require(numShards >= 1 && numShards <= (1 << 16),
      s"numShards must be in [1, 2^16], got $numShards")
  }

  /** A derived filter geometry: per-shard bits, shard count, hash count.
    * `totalBits` is the capacity the FP math sees; `fppAt(n)` is the
    * standard Bloom estimate (1 − e^{−kn/m})^k for n inserted keys,
    * assuming the fingerprint spreads shards evenly (it is a content
    * hash, so it does).
    */
  final case class Geometry(kHashes: Int, mBits: Int, numShards: Int) {
    def totalBits: Long = mBits.toLong * numShards
    def broadcastBytes: Long = totalBits / 8
    def fppAt(n: Long): Double =
      math.pow(1.0 - math.exp(-kHashes.toDouble * n / totalBits), kHashes)
  }

  /** Size a filter for `expectedKeys` at `targetFpp` — the standard
    * m = −n·ln p/ln²2, k = (m/n)·ln 2 sizing, AUTOMATICALLY sharded so
    * no single aggregation buffer exceeds `maxShardBits` (the manual
    * "grow numShards yourself" step this replaces). The geometry is
    * driver-side metadata: the filter's replayable arithmetic only
    * consumes the resulting integers, so the floating-point sizing here
    * never touches oracle parity. Probe cost is a broadcast of
    * `broadcastBytes` — 10⁹ keys at 1 % is ~1.2 GB, at which point
    * shard the HISTORY (several stores) or relax the target instead.
    */
  def geometryFor(expectedKeys: Long, targetFpp: Double = 0.01,
                  maxShardBits: Int = 1 << 24): Geometry = {
    require(expectedKeys > 0, s"expectedKeys must be positive, got $expectedKeys")
    require(targetFpp > 0 && targetFpp < 1, s"targetFpp must be in (0,1), got $targetFpp")
    require(maxShardBits >= 64 && maxShardBits <= (1 << 24),
      s"maxShardBits must be in [64, 2^24], got $maxShardBits")
    val ln2 = math.log(2.0)
    val mTotal = math.ceil(-expectedKeys.toDouble * math.log(targetFpp) / (ln2 * ln2)).toLong
    val numShards = math.max(1L, (mTotal + maxShardBits - 1) / maxShardBits)
    require(numShards <= (1 << 16),
      s"$expectedKeys keys at $targetFpp needs $numShards shards (> 2^16); " +
        "split the history across stores or relax the target")
    val perShard = (mTotal + numShards - 1) / numShards
    val mBits = math.min(maxShardBits.toLong, ((perShard + 63) / 64) * 64).toInt
    val k = math.max(1, math.min(16,
      math.round(mBits.toDouble * numShards / expectedKeys * ln2).toInt))
    Geometry(math.max(k, 1), math.max(mBits, 64), numShards.toInt)
  }

  /** [[buildFilter]] with the geometry derived from a capacity target
    * instead of hand-picked constants.
    */
  def buildFilterAuto(history: DataFrame, expectedKeys: Long,
                      targetFpp: Double = 0.01, textCol: String = "text",
                      seed: Long = 1L): DataFrame = {
    val g = geometryFor(expectedKeys, targetFpp)
    buildFilter(history, textCol, seed, g.kHashes, g.mBits, g.numShards)
  }

  /** Fold `history` into the sharded filter. One map-side-combinable
    * aggregate pass; null/absent text contributes nothing. The result
    * always carries EXACTLY `numShards` rows (empty shards get zero
    * words), so the filter is self-describing even over an empty
    * history — a store initialized before any data still knows its
    * geometry.
    */
  def buildFilter(history: DataFrame, textCol: String = "text",
                  seed: Long = 1L, kHashes: Int = 5,
                  mBits: Int = 1 << 20, numShards: Int = 16): DataFrame =
    buildFilterKeyed(history,
      TextAnalysis.portableFingerprint(col(textCol)),
      seed, kHashes, mBits, numShards)

  /** [[buildFilter]] over an arbitrary KEY expression instead of the text
    * fingerprint — the flavor a hash-keyed store fronts its exact probe
    * with (e.g. [[graft.multimodal.IncrementalPairs]]' caption leg keys on
    * `pmod(xxhash64(caption), P)`). CONTRACT: `fp` must be deterministic
    * and land in `[0, BloomFilter.P)` — the position arithmetic assumes
    * it; reduce wider hashes with `pmod(h, BloomFilter.P)` (the reduction
    * can only ADD false positives, never false negatives).
    */
  def buildFilterKeyed(history: DataFrame, fp: Column,
                       seed: Long = 1L, kHashes: Int = 5,
                       mBits: Int = 1 << 20, numShards: Int = 16): DataFrame = {
    checkParams(kHashes, mBits, numShards)
    val agged = history
      .select(fp.as("_fp"))
      .where(col("_fp").isNotNull)
      .select(pmod(col("_fp"), lit(numShards.toLong)).as("shard"),
        BloomFilter.positions(col("_fp"), seed, kHashes, mBits).as("_pos"))
      .groupBy("shard")
      .agg(BloomFilter.bitset_or_agg(col("_pos"), mBits).as("words"))
    // built per empty-shard ROW (≤ numShards of them), not as a plan
    // literal — a typedlit of mBits/64 longs is 2 MB of expression tree
    // at the buffer cap
    val zeroWords = array_repeat(lit(0L), (mBits + 63) / 64)
    history.sparkSession.range(numShards)
      .select(col("id").as("shard"))
      .join(agged, Seq("shard"), "left")
      .select(col("shard"), coalesce(col("words"), zeroWords).as("words"),
        lit(seed).as("seed"), lit(kHashes).as("k_hashes"),
        lit(mBits).as("m_bits"), lit(numShards).as("num_shards"),
        lit(F.FingerprintVersion).as("fp_version"))
  }

  /** Loud guard against probing (or merging) a filter persisted under a
    * different FINGERPRINT arithmetic ([[F.FingerprintVersion]]): the
    * bits are positions of the old fold — every previously-seen document
    * would silently mark unseen (duplicate re-admission), and an
    * OR-merge would fuse two incompatible keyings into one filter.
    */
  private def checkFpVersion(filter: DataFrame, what: String): Unit = {
    require(filter.columns.contains("fp_version"),
      s"$what has no fp_version column — it predates fingerprint " +
        s"versioning (current v${F.FingerprintVersion}); rebuild it from " +
        "the history")
    val vs = filter.select("fp_version").distinct().collect().map(_.getInt(0))
    require(vs.forall(_ == F.FingerprintVersion),
      s"$what was built under fingerprint v${vs.mkString(",")} but this " +
        s"build fingerprints with v${F.FingerprintVersion} — membership " +
        "would be silently wrong; rebuild the filter from the history")
  }

  /** Mark each batch row with `maybe_seen` against `filter`. The filter
    * config rides in the filter DataFrame itself (one bounded collect of
    * the distinct config row — metadata, not data); shards with no
    * history rows are simply absent and everything hashing there is
    * unseen. An EMPTY filter (no history at all) marks nothing seen.
    */
  def markSeen(batch: DataFrame, filter: DataFrame,
               textCol: String = "text"): DataFrame =
    markSeenKeyed(batch, filter,
      TextAnalysis.portableFingerprint(col(textCol)))

  /** [[markSeen]] over an arbitrary key expression — MUST be the same
    * expression the filter was [[buildFilterKeyed]] with (same contract:
    * deterministic, in `[0, BloomFilter.P)`).
    */
  def markSeenKeyed(batch: DataFrame, filter: DataFrame,
                    fp: Column): DataFrame = {
    checkFpVersion(filter, "filter")
    val cfg = filter.select("seed", "k_hashes", "m_bits", "num_shards")
      .distinct().collect()
    require(cfg.length <= 1,
      s"filter carries ${cfg.length} distinct configs — refusing to probe a " +
        "mixed filter (merge inputs disagreed on seed/k/mBits/shards?)")
    if (cfg.isEmpty) return batch.withColumn("maybe_seen", lit(false))
    val (seed, k, mBits) =
      (cfg(0).getLong(0), cfg(0).getInt(1), cfg(0).getInt(2))
    val numShards = cfg(0).getInt(3)
    val inputCols = batch.columns.map(col)
    batch
      .withColumn("_fp", fp)
      .withColumn("_shard", pmod(col("_fp"), lit(numShards.toLong)))
      .join(broadcast(filter.select(col("shard").as("_shard"), col("words"))),
        Seq("_shard"), "left")
      .select(inputCols :+
        coalesce(BloomFilter.mightContain(col("words"), col("_fp"),
          seed, k, mBits), lit(false)).as("maybe_seen"): _*)
  }

  /** OR-merge two independently built filters (e.g. the served filter and
    * today's batch filter). Configs must match exactly — word-wise OR of
    * different geometries would silently corrupt membership.
    */
  def mergeFilters(a: DataFrame, b: DataFrame): DataFrame = {
    checkFpVersion(a, "left filter")
    checkFpVersion(b, "right filter")
    val merged = a.unionByName(b)
    val cfg = merged.select("seed", "k_hashes", "m_bits", "num_shards")
      .distinct().collect()
    require(cfg.length <= 1,
      "filters disagree on seed/k/mBits/shards — cannot merge")
    merged
      .groupBy("shard")
      .agg(BloomFilter.or_words_agg(col("words")).as("words"),
        first("seed").as("seed"), first("k_hashes").as("k_hashes"),
        first("m_bits").as("m_bits"), first("num_shards").as("num_shards"),
        first("fp_version").as("fp_version"))
      .select("shard", "words", "seed", "k_hashes", "m_bits", "num_shards",
        "fp_version")
  }

  /** The two-tier admission in one call: rows marked unseen pass through
    * immediately (exact — a Bloom filter has no false negatives); rows
    * marked `maybe_seen` are confirmed against `exactKeys` (a DataFrame
    * with `keyCol` of LongType fingerprints — typically the
    * partition-pruned key store) with a join whose LEFT side is only the
    * candidate slice, FP-rate-sized, not the batch.
    */
  def admitNew(batch: DataFrame, filter: DataFrame, exactKeys: DataFrame,
               keyCol: String, textCol: String = "text"): DataFrame = {
    val marked = markSeen(batch, filter, textCol)
    val unseen = marked.where(!col("maybe_seen")).drop("maybe_seen")
    val candidates = marked.where(col("maybe_seen")).drop("maybe_seen")
      .withColumn("_fp", TextAnalysis.portableFingerprint(col(textCol)))
    val confirmedNew = candidates
      .join(exactKeys.select(col(keyCol).cast(LongType).as("_fp")),
        Seq("_fp"), "left_anti")
      .drop("_fp")
    unseen.unionByName(confirmedNew)
  }
}

/** Crash-safe VERSIONED store for a [[SeenFilter]] — the serving shape
  * for streaming/daily admission: the current filter lives under a
  * `gen-<stamp>/` dir referenced by an atomic `_CURRENT` manifest
  * ([[Manifests]] rename protocol, same discipline as
  * [[IvfIndexStore]]); `appendBatch` marks the batch against the
  * CURRENT filter, OR-merges the batch's own filter in, and publishes a
  * new generation with the flip LAST — a crash at any point leaves
  * either the old generation current (re-run the batch) or the new one
  * complete. Replays are idempotent by algebra: OR-merging the same
  * batch twice is a no-op on the bits, so foreachBatch retries cannot
  * corrupt membership (they only leave an orphan generation for
  * [[recover]] to sweep).
  *
  * Single-writer is ENFORCED, not just contractual: [[appendBatch]]
  * holds the store's `.append_lock` ([[StoreLock]]) across its whole
  * read→merge→flip. Without it, two concurrent appenders read the same
  * `_CURRENT`, each OR-merges only its OWN batch, and the second flip
  * silently DROPS the first batch's bits — membership loss, i.e. dup
  * re-admission that no drift check would catch. A second writer fails
  * loudly instead. A crashed holder's lock is reclaimed by the lock's
  * own rules (torn, stale, or at once by a retry of the same micro-batch:
  * this store's retry grace is 0, because Structured Streaming never runs
  * one micro-batch twice at once) or swept by [[recover]] age-graced.
  */
object SeenFilterStore {

  import org.apache.spark.sql.SparkSession

  val CurrentName = "_CURRENT"
  val AppendLockName = ".append_lock"

  /** How old a provably torn lock must be before any writer reclaims it. */
  val TornLockGraceMs: Long = StoreLock.TornGraceMs

  private def stamp(): String =
    s"gen-${System.currentTimeMillis()}-${java.util.UUID.randomUUID().toString.take(8)}"

  def currentGen(spark: SparkSession, root: String): Option[String] =
    Manifests.read(spark, s"$root/$CurrentName").map(_.trim).filter(_.nonEmpty)

  private def genOrFail(spark: SparkSession, root: String): String =
    currentGen(spark, root).getOrElse(
      throw new IllegalStateException(s"no $CurrentName under $root — init() first"))

  def currentFilter(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/${genOrFail(spark, root)}/filter")

  private def writeGen(spark: SparkSession, root: String,
                       filter: DataFrame): String = {
    val g = stamp()
    // everything lands BEFORE the flip; a crash here leaves an orphan
    // gen dir that recover() sweeps, never a torn current
    filter.write.parquet(s"$root/$g/filter")
    Manifests.writeAtomic(spark, s"$root/$CurrentName", g)
    g
  }

  /** Publish `filter` as the store's first (or replacement) generation. */
  def init(spark: SparkSession, root: String, filter: DataFrame): String =
    writeGen(spark, root, filter)

  /** Mark `batch` against the current filter AND fold the batch into a
    * new published generation (config inherited from the store). Returns
    * the marked batch — rows with `maybe_seen = false` are exactly-new,
    * probe-eagerly materialized BEFORE the flip so the returned frame
    * reflects the pre-batch filter even after the generation changes.
    */
  def appendBatch(spark: SparkSession, root: String, batch: DataFrame,
                  textCol: String = "text",
                  writerToken: Option[String] = None): DataFrame =
    StoreLock.withLock(spark, s"$root/$AppendLockName", writerToken.getOrElse(""),
        retryGraceMs = 0L) { r =>
      new IllegalArgumentException(
        s"another appendBatch holds ${r.lock} — the seen-filter store is " +
          "single-writer (a concurrent append would silently drop this " +
          "batch's bits); wait for it, or run recover() if the holder crashed" +
          (if (r.legacy) ". NOTE: the lock content is a pre-versioning " +
            "bare token whose holder's liveness cannot be proven — if that " +
            "writer is known dead, remove the lock manually or via " +
            "recover()'s age sweep" else ""))
    } {
      val cur = currentFilter(spark, root)
      val cfg = cur.select("seed", "k_hashes", "m_bits", "num_shards")
        .distinct().collect()
      require(cfg.length == 1,
        s"store filter carries ${cfg.length} configs — corrupt generation?")
      val (seed, k, m, sh) = (cfg(0).getLong(0), cfg(0).getInt(1),
        cfg(0).getInt(2), cfg(0).getInt(3))
      val marked = SeenFilter.markSeen(batch, cur, textCol).localCheckpoint()
      val merged = SeenFilter.mergeFilters(cur,
        SeenFilter.buildFilter(batch, textCol, seed, k, m, sh))
      writeGen(spark, root, merged)
      marked
    }

  /** Streaming admission: each micro-batch is marked against the CURRENT
    * generation, folded into a new published one, and the MARKED rows
    * handed to `route` (send `maybe_seen = false` rows to the accepted
    * sink, candidates to the exact-confirm path). A foreachBatch retry
    * re-marks against whichever generation is current and re-publishes —
    * a membership no-op by OR-algebra, so replays cannot corrupt the
    * served bits.
    */
  def admitStream(batches: DataFrame, root: String,
                  textCol: String = "text")
                 (route: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch id is the writer token: a RETRY of this micro-batch
        // reclaims its own crashed attempt's lock instead of waiting out
        // the recover() grace (no two attempts of one batch run
        // concurrently; a DIFFERENT writer still refuses loudly)
        route(appendBatch(batch.sparkSession, root, batch, textCol,
          writerToken = Some(s"batch-$batchId")))
      }

  /** Drop `gen-*` dirs `_CURRENT` does not reference — crashed or
    * superseded publications — and a crashed writer's `.append_lock`.
    * Age-graced (default 1 h) so a reader that resolved `_CURRENT` just
    * before a flip never loses the files it is scanning mid-query, and a
    * LIVE writer's lock is never swept from under it. A crash while
    * holding the lock leaves membership at the old generation (the flip
    * is last), so sweeping the stale lock re-opens the store with
    * nothing torn. Returns the number of dirs removed.
    */
  def recover(spark: SparkSession, root: String,
              graceMs: Long = 3600 * 1000L): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val cur = currentGen(spark, root)
    val now = System.currentTimeMillis()
    val lock = new org.apache.hadoop.fs.Path(s"$root/$AppendLockName")
    if (fs.exists(lock) &&
        (now - fs.getFileStatus(lock).getModificationTime) > graceMs)
      fs.delete(lock, false)
    fs.listStatus(p).count { st =>
      val name = st.getPath.getName
      val stale = st.isDirectory && name.startsWith("gen-") &&
        !cur.contains(name) && (now - st.getModificationTime) > graceMs
      if (stale) fs.delete(st.getPath, true)
      stale
    }
  }
}

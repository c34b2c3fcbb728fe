package graft.multimodal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.operators.{KeyedHistory, Manifests, StoreLock}

/** STREAMING cross-modal pair curation — [[PairCuration.curatePairsAudited]]
  * per micro-batch, with admission AGAINST HISTORY: a pair survives only
  * if it passes the batch-local gates AND its image matches nothing the
  * store has admitted before AND its caption content is unseen.
  *
  * THE STORE IS BAND-INDEXED (the [[graft.streaming.IncrementalDedup]]
  * signature-table discipline, landed here via the shared
  * [[KeyedHistory]] primitive). Three tables per root, all
  * hash-partitioned `pt = pmod(xxhash64(keys…), P)` with P stamped in
  * `_PAIRLAYOUT`:
  *
  *  - `history/` (partitioned by id) — the authoritative survivor rows:
  *    decode-once perceptual features `(batch_id, id, ahash, mean,
  *    centered, norm0)` plus the 128-bit caption hash pair
  *    `(cap_h, cap_h2)`; images are NEVER re-decoded and never stored;
  *  - `bands/` (partitioned by (t, bk)) — the PRECOMPUTED Manku band-
  *    subset keys of every admitted image, `(batch_id, t, bk, id)`,
  *    written once at admission;
  *  - `captions/` (partitioned by (cap_h, cap_h2)) — the caption keys
  *    `(batch_id, cap_h, cap_h2)`.
  *
  * Scale shape per batch — O(batch), not O(history): the retired flavor
  * re-ran `bandSubsetKeys` over the FULL history and scanned it end to
  * end, twice, every micro-batch (linear in the corpus by construction —
  * at 10^9+ admitted pairs that is a multi-TB re-read on a minutes
  * cadence). Now:
  *
  *  - the batch's own band keys select the `bands/` partitions to read
  *    ([[KeyedHistory.prunedRead]] — a static `pt IN (…)` pruned at
  *    planning time), with the batch's `bk` values additionally PUSHED
  *    into the parquet scan so row-group min/max stats (partitions are
  *    written bk-sorted) skip inside each probed partition;
  *  - matched candidates fetch their verify features from only the
  *    `history/` partitions those candidate ids hash to, id-pushed the
  *    same way;
  *  - the caption leg is TWO-TIER: a persisted Bloom seen-set
  *    (`caption_bloom/`, [[graft.operators.SeenFilter.buildFilterKeyed]]
  *    over `pmod(cap_h, P)`) answers definite-negative for most of the
  *    batch with zero table IO — only probable hits (dups + fpp) do the
  *    pruned exact confirm against `captions/`. The Bloom is updated
  *    BEFORE each state flip (always a superset of committed keys — a
  *    false positive costs one confirm, a false negative would silently
  *    re-admit), re-sized from the live key count by [[compactHistory]],
  *    and a lost Bloom on a live store is a LOUD failure naming the
  *    rebuild.
  *
  * The batch side of every probe join is broadcast, so history-side rows
  * never shuffle; per-batch bytes read scale with the batch's key spread
  * and dup rate, not the corpus.
  *
  * REPLAY IDEMPOTENCE — the [[graft.streaming.StreamingTokenBudget]]
  * discipline, not dedup algebra: `_PAIRSTATE` records the committed
  * batch high-water mark and is flipped atomically LAST, and every
  * store READ is filtered to `batch_id <= committed`. A replay of a
  * fully committed batch SKIPS (no double admit, no re-append); a replay
  * after a crash mid-write recomputes against exactly the committed
  * prefix — the crashed attempt's partial appends are invisible to the
  * filter — and re-runs the same writes (the accepted table is
  * AT-LEAST-ONCE like every sink here, dedup downstream on id; a
  * re-appended store row is a harmless duplicate for membership
  * checks, reclaimed by [[compactHistory]]). Single writer per root,
  * which foreachBatch guarantees — and which the store ENFORCES
  * against maintenance: batches and [[compactHistory]] both take the
  * root's `.store_lock` ([[StoreLock]], the lock
  * [[graft.operators.SeenFilterStore]] takes too), so maintenance racing
  * a live batch is a loud failure, never a lost-history race. The lock
  * serializes table swaps, the multi-table appends and the seen-set flip
  * as one critical section.
  */
object IncrementalPairs {

  val StateName = "_PAIRSTATE"
  val LayoutName = "_PAIRLAYOUT"
  private val LockName = ".store_lock"

  /** Default partition count for all three store tables. Pruning bites
    * when P exceeds a batch's distinct key spread ([[KeyedHistory]]'s
    * "P ≫ the per-batch key spread" rule): a realistic curation batch
    * emits ~4 band keys per image, so a 240-pair batch probes ~10³ band
    * keys — at the old default of 64 that hit EVERY partition with
    * probability ≈ 1 and the bands leg's bytes-flatness rested entirely
    * on the pushed-In row-group skip; at 1024 the probe prunes a real
    * subset AND the row-group skip still works inside each selected
    * partition (both mechanisms are spec-gated). Size further UP with
    * corpus and batch cadence.
    *
    * MIGRATION: the stamp wins — a store created under an older default
    * keeps its stamped P (callers pass `parts = <stamped>`); moving an
    * existing store to the new default is a whole-table re-index
    * (partitions are a pure key function), same as
    * [[graft.operators.Dedup.relayoutSignatures]].
    */
  val DefaultParts = 1024

  /** pHash width is fixed: [[JdkMedia.phash64]]. */
  private val Bits = 64

  /** A foreachBatch retry of the SAME batch may reclaim its
    * predecessor's lock once the heartbeat has been silent this long —
    * long enough that a zombie driver (GC stall, network partition)
    * still heartbeating keeps its lock, short enough that a crashed
    * driver's restart resumes in minutes instead of
    * [[StoreLock.StaleMs]].
    */
  private val BatchRetryGraceMs = 3 * 60 * 1000L

  def committedBatchId(spark: SparkSession, root: String): Option[Long] =
    Manifests.read(spark, s"$root/$StateName")
      .map(m => Manifests.numField(m, "batch_id").toLong)

  private[graft] final case class Layout(parts: Int, maxHamming: Int)

  private[graft] def readLayout(spark: SparkSession, root: String): Option[Layout] =
    Manifests.read(spark, s"$root/$LayoutName").map { m =>
      require(Manifests.numField(m, "v") == "2",
        s"$root/$LayoutName has unrecognized version ${Manifests.numField(m, "v")}")
      Layout(Manifests.numField(m, "parts").toInt,
        Manifests.numField(m, "max_hamming").toInt)
    }

  /** Verify (or stamp, on a fresh root) the store layout. The band keys
    * persisted in `bands/` are a function of `maxHamming` and the
    * partition assignment a function of `parts` — a caller drifting on
    * either would probe the wrong keys/partitions and silently admit
    * every duplicate, so both are stamped and enforced (the
    * [[graft.operators.DedupLayout]] discipline).
    */
  private def ensureLayout(spark: SparkSession, root: String, want: Layout): Unit =
    readLayout(spark, root) match {
      case Some(l) =>
        require(l == want,
          s"$root pair-store layout drift: stamped (parts=${l.parts}, " +
            s"maxHamming=${l.maxHamming}) but this call uses " +
            s"(parts=${want.parts}, maxHamming=${want.maxHamming}) — a " +
            "drifted probe matches nothing and silently admits duplicates; " +
            "match the stamp or re-index the store")
      case None =>
        val hist = new org.apache.hadoop.fs.Path(s"$root/history")
        val fs = hist.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!fs.exists(hist),
          s"$root holds a pre-index (flat) pair-store history but no " +
            s"$LayoutName — run IncrementalPairs.indexHistory(spark, root) " +
            "once to migrate it to the band-indexed layout")
        Manifests.writeAtomic(spark, s"$root/$LayoutName",
          s"""{"v":2,"parts":${want.parts},"bits":$Bits,"max_hamming":${want.maxHamming}}""")
    }

  // ------------------------------------------------- caption Bloom front

  /** The caption leg's Bloom key: the 64-bit caption hash reduced into
    * the replayable position arithmetic's domain. The reduction can only
    * ADD false positives (caught by the exact confirm), never false
    * negatives; rebuildable from `captions/` alone (no caption text in
    * the store).
    */
  private def captionBloomKey: org.apache.spark.sql.Column =
    pmod(col("cap_h"), lit(graft.functions.BloomFilter.P))

  /** Fresh-store Bloom sizing: ~1M keys at 1% fpp (one 1.25 MB shard).
    * The geometry is NOT load-bearing for correctness — fpp drift as the
    * store outgrows it only costs extra exact confirms — and the base is
    * re-sized (2× headroom) whenever its capacity is crossed or
    * [[compactHistory]] runs.
    */
  private val BloomSeed = 9L
  private val DefaultBloomKeys = 1L << 20
  private val BloomFpp = 0.01
  private val BloomHeader = "graft-caption-bloom v2"

  /** Ceiling on the exact-key delta chain (≈ 64 MB of keys broadcast at
    * the worst point): the fold cadence scales with the base up to here,
    * then stays constant so the chain can never itself become a
    * per-batch corpus term.
    */
  private val MaxDeltaKeys = 1L << 22

  /** The seen-set is BASE + DELTA CHAIN, not one monolithic filter —
    * the monolith forced an O(|corpus-bloom|) read+merge+rewrite on
    * EVERY micro-batch (a ~1.2 GB single-task write per minutes-batch
    * at 10^9 captions), quietly re-introducing a per-batch corpus term.
    * Instead:
    *
    *  - `base` (`gen-*` dir): the full Bloom filter, rebuilt rarely;
    *  - `deltas` (`delta-*` dirs): each batch's admitted caption keys
    *    as RAW (cap_h, cap_h2) parquet — batch-sized, exact (deltas are
    *    probed by broadcast semi-join, no fpp at all);
    *  - when accumulated delta keys cross min(max(8, baseKeys/16),
    *    [[MaxDeltaKeys]]), the chain FOLDS: one merge of the delta keys
    *    into the base filter — a base-sized write amortized over the
    *    accumulated admissions. The ceiling BOUNDS the per-batch delta
    *    read/broadcast (and the chain's dir count) at any corpus size —
    *    an uncapped baseKeys/16 at a 10^9-key base would let the chain
    *    reach ~62M keys before folding, itself a per-batch corpus term;
    *  - when total keys cross the base's sized capacity, the base is
    *    REBUILT from the captions table with 2× headroom (geometric —
    *    O(log corpus) rebuilds over a store's life).
    *
    * `_CURRENT` lists the live pieces and is flipped atomically BEFORE
    * each `_PAIRSTATE` commit, so the seen-set is always a SUPERSET of
    * committed keys (an uncommitted crashed-attempt delta costs exact
    * confirms, never a false negative). Every flip sweeps unreferenced
    * piece dirs — no per-batch disk leak.
    */
  private final case class BloomState(
      base: DataFrame, baseKeys: Long, baseCap: Long,
      baseLine: String, deltaLines: Seq[String],
      deltaKeys: DataFrame, deltaTotal: Long, persisted: Boolean)

  private def emptyCapsFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
      StructField("cap_h", LongType), StructField("cap_h2", LongType))))

  private def freshEmptyBase(spark: SparkSession, expectedKeys: Long): (DataFrame, Long) = {
    val sized = math.max(expectedKeys, DefaultBloomKeys)
    val g = graft.operators.SeenFilter.geometryFor(sized, BloomFpp)
    (graft.operators.SeenFilter.buildFilterKeyed(
      emptyCapsFrame(spark).select(col("cap_h")),
      captionBloomKey, BloomSeed, g.kHashes, g.mBits, g.numShards), sized)
  }

  /** Per-generation DRIVER-LOCAL cache of the base filter rows: the base
    * only changes on folds/rebuilds (every ≥ fold-threshold admissions),
    * so between them a long-lived driver serves the probe from memory
    * instead of re-reading ~1.2 bytes/key of parquet — and, because the
    * probe BROADCASTS the filter anyway, the broadcast builds (one per
    * consumer — Spark races them as futures before any block cache can
    * materialize, so `persist()` does NOT deduplicate these reads; the
    * stage trace showed 3-4 full re-reads per batch) now build from a
    * LocalRelation with ZERO file IO.
    *
    * BOUNDED ACROSS STORES, not just within one: superseded generations
    * of the same store are evicted on access, AND the whole cache is a
    * byte-budgeted LRU ([[BaseCacheMaxBytes]], default 2 GiB ≈ a 10⁹-key
    * base plus headroom) — a driver serving MANY stores (multi-tenant,
    * test suites, finished streams) evicts the coldest store's base
    * instead of pinning one `broadcastBytes` per store for the JVM's
    * lifetime. An evicted live base costs one parquet re-read on its
    * store's next batch, never correctness.
    */
  private[graft] val DefaultBaseCacheMaxBytes: Long = 2L << 30

  /** Test seam: the cache's byte budget. Production leaves the default. */
  @volatile private[graft] var baseCacheMaxBytes: Long = DefaultBaseCacheMaxBytes

  private val baseCache = new java.util.LinkedHashMap[
      String, (StructType, Broadcast[Array[Row]], Long)](16, 0.75f, true) {
    private def totalBytes: Long = {
      var t = 0L
      val it = values().iterator()
      while (it.hasNext) t += it.next()._3
      t
    }
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (StructType, Broadcast[Array[Row]], Long)]): Boolean =
      false // eviction is explicit (evictOver) — size-many, not count-one
    def evictOver(budget: Long): Unit = {
      val it = entrySet().iterator()
      var t = totalBytes
      while (t > budget && it.hasNext) { // iterates eldest-access first
        t -= it.next().getValue._3
        it.remove()
      }
    }
  }

  /** ~bytes a cached filter holds on the driver: the bitset words
    * dominate; the per-row constant covers the Row + config fields.
    */
  private def filterRowBytes(schema: StructType, rows: Array[Row]): Long = {
    val wi = schema.fieldNames.indexOf("words")
    rows.iterator.map(r =>
      128L + (if (wi >= 0 && !r.isNullAt(wi)) r.getSeq[Long](wi).length * 8L else 0L)).sum
  }

  /** Test seams: the cached gen paths (access order, eldest first) and
    * the cache's resident byte estimate.
    */
  private[graft] def baseCacheEntries: Seq[String] = baseCache.synchronized {
    import scala.jdk.CollectionConverters._
    baseCache.keySet().asScala.toSeq
  }
  private[graft] def baseCacheBytes: Long = baseCache.synchronized {
    import scala.jdk.CollectionConverters._
    baseCache.values().asScala.map(_._3).sum
  }

  /** The cached base of `path` as a DataFrame. Its rows reach the tasks
    * through a broadcast variable: as a LocalRelation
    * (`createDataFrame(rows, schema)`) they rode inside every task of
    * every stage that scans the base — the probe's broadcast build, the
    * config `distinct` and the fold's merge — ~1.2 MiB a task at the
    * default geometry. The driver keeps the rows once, plus the
    * broadcast's compressed serialized pieces; dropping the entry lets
    * Spark's cleaner drop both once no plan holds the variable.
    */
  private def cachedBase(spark: SparkSession, path: String): DataFrame = {
    val storePrefix = path.substring(0, path.lastIndexOf('/') + 1)
    val (schema, rows) = baseCache.synchronized {
      val it = baseCache.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k != path && k.startsWith(storePrefix)) it.remove()
      }
      Option(baseCache.get(path)) match {
        case Some((s, r, _)) => (s, r)
        case None =>
          val df = spark.read.parquet(path)
          val r = df.collect()
          val entry = (df.schema, spark.sparkContext.broadcast(r), filterRowBytes(df.schema, r))
          baseCache.put(path, entry)
          baseCache.evictOver(baseCacheMaxBytes)
          (entry._1, entry._2)
      }
    }
    val n = rows.value.length
    // LocalTableScanExec's slicing: one row a task, at most a core's worth
    val slices = math.min(math.max(n, 1), spark.sparkContext.defaultParallelism)
    spark.createDataFrame(
      spark.sparkContext.parallelize(0 until n, slices).map(i => rows.value(i)), schema)
  }

  /** The CURRENT seen-set state. Absent is legitimate only on a store
    * with no committed batch — on a live store a lost seen-set means
    * false negatives (silent duplicate re-admission), so fail loudly and
    * name the rebuild.
    */
  private def readBloomState(spark: SparkSession, root: String,
                             hwm: Long): BloomState =
    Manifests.read(spark, s"$root/caption_bloom/_CURRENT") match {
      case Some(text) =>
        val lines = text.linesIterator.filter(_.nonEmpty).toSeq
        require(lines.headOption.contains(BloomHeader),
          s"$root/caption_bloom/_CURRENT has unrecognized header " +
            s"'${lines.headOption.getOrElse("<empty>")}' — rebuild the " +
            "seen-set with IncrementalPairs.compactHistory")
        def field(l: String, k: String): Long =
          l.split(" ").collectFirst {
            case p if p.startsWith(k + "=") => p.stripPrefix(k + "=").toLong
          }.getOrElse(throw new IllegalStateException(
            s"caption_bloom/_CURRENT line missing $k=: '$l'"))
        val baseLine = lines.find(_.startsWith("base ")).getOrElse(
          throw new IllegalStateException(
            s"$root/caption_bloom/_CURRENT has no base line"))
        val baseDir = baseLine.split(" ")(1)
        val deltaLines = lines.filter(_.startsWith("delta "))
        val deltaDirs = deltaLines.map(_.split(" ")(1))
        val deltaKeys =
          if (deltaDirs.isEmpty) emptyCapsFrame(spark)
          else spark.read.parquet(
            deltaDirs.map(d => s"$root/caption_bloom/$d"): _*)
            .select(col("cap_h"), col("cap_h2"))
        BloomState(
          cachedBase(spark, s"$root/caption_bloom/$baseDir"),
          field(baseLine, "keys"), field(baseLine, "cap"),
          baseLine, deltaLines, deltaKeys,
          deltaLines.map(field(_, "keys")).sum, persisted = true)
      case None =>
        require(hwm < 0,
          s"$root records committed batch $hwm but caption_bloom/_CURRENT " +
            "is missing — a lost seen-set silently re-admits duplicate " +
            "captions; rebuild it with IncrementalPairs.compactHistory")
        val (base, cap) = freshEmptyBase(spark, DefaultBloomKeys)
        BloomState(base, 0L, cap, "", Nil, emptyCapsFrame(spark), 0L,
          persisted = false)
    }

  private def bloomCfg(filter: DataFrame): (Long, Int, Int, Int) = {
    val r = filter.select(col("seed"), col("k_hashes"), col("m_bits"),
      col("num_shards")).distinct().collect()
    require(r.length == 1, s"caption bloom carries ${r.length} configs")
    (r(0).getLong(0), r(0).getInt(1), r(0).getInt(2), r(0).getInt(3))
  }

  private def newStamp(): String =
    System.currentTimeMillis() + "-" + java.util.UUID.randomUUID().toString.take(8)

  /** Flip `_CURRENT` to `lines` and sweep every piece dir the fresh
    * state no longer references (crashed flips' orphans included) —
    * runs under the store lock, and the only readers are lock holders,
    * so sweeping superseded pieces immediately is safe.
    */
  private def flipBloomState(spark: SparkSession, root: String,
                             lines: Seq[String]): Unit = {
    Manifests.writeAtomic(spark, s"$root/caption_bloom/_CURRENT",
      (BloomHeader +: lines).mkString("\n") + "\n")
    val bloomDir = new org.apache.hadoop.fs.Path(s"$root/caption_bloom")
    val fs = bloomDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = lines.map(_.split(" ")(1)).toSet
    fs.listStatus(bloomDir)
      .filter(s => s.isDirectory && !referenced.contains(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Publish this batch's admitted caption keys into the seen-set —
    * BEFORE the `_PAIRSTATE` flip (superset invariant, see the state
    * doc). Per-batch work is O(batch) amortized: a tiny exact-key delta
    * normally; a base-sized fold every ≥ baseKeys/16 admitted keys; a
    * captions-table rebuild only when the base outgrows its capacity
    * (geometric, with 2× headroom).
    */
  private def commitCaptionBloom(spark: SparkSession, root: String,
                                 st: BloomState, admittedCaps: DataFrame,
                                 nNew: Long): Unit = {
    val SF = graft.operators.SeenFilter
    if (!st.persisted) {
      // first commit of a fresh store: persist the base (sized for the
      // batch if it is backfill-shaped), no deltas
      val g = SF.geometryFor(math.max(nNew * 2, DefaultBloomKeys), BloomFpp)
      val dir = s"gen-${newStamp()}"
      SF.buildFilterKeyed(admittedCaps.select(col("cap_h")), captionBloomKey,
          BloomSeed, g.kHashes, g.mBits, g.numShards)
        .coalesce(1).write.parquet(s"$root/caption_bloom/$dir")
      flipBloomState(spark, root, Seq(
        s"base $dir keys=$nNew cap=${math.max(nNew * 2, DefaultBloomKeys)}"))
    } else if (nNew == 0) {
      () // nothing admitted: the state is already correct
    } else if (st.deltaTotal + nNew <=
        math.min(math.max(8L, st.baseKeys / 16), MaxDeltaKeys)) {
      // the common path: one batch-sized exact-key delta
      val dir = s"delta-${newStamp()}"
      admittedCaps.coalesce(1).write.parquet(s"$root/caption_bloom/$dir")
      flipBloomState(spark, root,
        st.baseLine +: (st.deltaLines :+ s"delta $dir keys=$nNew"))
    } else if (st.baseKeys + st.deltaTotal + nNew > st.baseCap) {
      // capacity crossed: rebuild from the captions table with 2×
      // headroom (reading EVERY row there — uncommitted partials and the
      // L0 delta tier included — keeps the superset invariant trivially;
      // a reader that skipped _l0 would drop keys = false negatives)
      val caps = KeyedHistory.readAll(spark, s"$root/captions", captionsSchema)
        .select(col("cap_h"), col("cap_h2"))
      val n = caps.count()
      val cap = math.max(n * 2, DefaultBloomKeys)
      val g = SF.geometryFor(cap, BloomFpp)
      val dir = s"gen-${newStamp()}"
      SF.buildFilterKeyed(caps.select(col("cap_h")), captionBloomKey,
          BloomSeed, g.kHashes, g.mBits, g.numShards)
        .coalesce(1).write.parquet(s"$root/caption_bloom/$dir")
      flipBloomState(spark, root, Seq(s"base $dir keys=$n cap=$cap"))
    } else {
      // FOLD: merge the accumulated delta keys + this batch into the
      // base filter (same geometry), collapse the chain
      val (bSeed, bK, bM, bShards) = bloomCfg(st.base)
      val folded = SF.mergeFilters(st.base,
        SF.buildFilterKeyed(
          st.deltaKeys.select(col("cap_h"))
            .unionByName(admittedCaps.select(col("cap_h"))),
          captionBloomKey, bSeed, bK, bM, bShards))
      val dir = s"gen-${newStamp()}"
      folded.coalesce(1).write.parquet(s"$root/caption_bloom/$dir")
      val keys = st.baseKeys + st.deltaTotal + nNew
      flipBloomState(spark, root, Seq(s"base $dir keys=$keys cap=${st.baseCap}"))
    }
  }

  /** Rebuild the seen-set from the (just-compacted) committed captions —
    * re-sized to the live key count, chain collapsed, orphan pieces
    * swept. Runs under the store lock.
    */
  private def rebuildCaptionBloom(spark: SparkSession, root: String): Unit = {
    // readAll: base AND the L0 delta tier — a rebuild that missed _l0
    // keys would hand out false negatives (silent duplicate re-admission)
    val caps = KeyedHistory.readAll(spark, s"$root/captions", captionsSchema)
      .select(col("cap_h"))
    val n = caps.count()
    // 2x headroom so appends between maintenance runs stay near target fpp
    val cap = math.max(n * 2, DefaultBloomKeys)
    val g = graft.operators.SeenFilter.geometryFor(cap, BloomFpp)
    val dir = s"gen-${newStamp()}"
    graft.operators.SeenFilter
      .buildFilterKeyed(caps, captionBloomKey, BloomSeed,
        g.kHashes, g.mBits, g.numShards)
      .coalesce(1).write.parquet(s"$root/caption_bloom/$dir")
    flipBloomState(spark, root, Seq(s"base $dir keys=$n cap=$cap"))
  }

  // data schemas (partition column excluded) — used by the pruned reads
  // to resolve an empty/unborn table to an empty frame of the right
  // shape (package-visible for the specs' readAll calls)
  private[graft] val historySchema = StructType(Seq(
    StructField("batch_id", LongType), StructField("id", LongType),
    StructField("ahash", LongType), StructField("mean", DoubleType),
    StructField("centered", ArrayType(DoubleType)),
    StructField("norm0", BooleanType),
    StructField("cap_h", LongType), StructField("cap_h2", LongType)))
  private[graft] val bandsSchema = StructType(Seq(
    StructField("batch_id", LongType), StructField("t", IntegerType),
    StructField("bk", LongType), StructField("id", LongType)))
  private[graft] val captionsSchema = StructType(Seq(
    StructField("batch_id", LongType), StructField("cap_h", LongType),
    StructField("cap_h2", LongType)))

  // ----------------------------------------------------------- locking

  /** Run `body` holding the store's `.store_lock` ([[StoreLock]]).
    * Batches and maintenance take it, so a [[compactHistory]] racing a
    * live batch fails loudly instead of swapping history out from under
    * the batch's appends. A batch's token
    * is its id, so a retry of the same batch reclaims a dead attempt's
    * lock after [[BatchRetryGraceMs]]; maintenance's token is empty.
    *
    * The mutual exclusion assumes a holder's stalls are bounded by the
    * retry grace while its heartbeat lives: one that stops heartbeating
    * AND stalls past the grace AND resumes mid-critical-section races
    * the retry's appends until its next manifest check. Appends are
    * at-least-once and flips are manifest-guarded, so the exposure is
    * duplicate table rows, reclaimed by [[compactHistory]] — same as a
    * crash replay.
    */
  private def withStoreLock[T](spark: SparkSession, root: String,
                               token: String = "")(body: => T): T =
    StoreLock.withLock(spark, s"$root/$LockName", token, BatchRetryGraceMs) { r =>
      val kind = r.holder match {
        case Some("") => "maintenance"
        case Some(_) => "batch"
        case None => "unidentified"
      }
      new IllegalStateException(
        s"$root is locked by a live '$kind' operation (last heartbeat " +
          s"${r.ageMs.fold("unknown")(a => s"$a ms")} ago) — the pair store " +
          "is single-writer: run maintenance only while the stream is " +
          "quiescent, and vice versa" +
          (if (token.nonEmpty && r.holder.contains(token))
            s"; a retry of batch $token may proceed once the dead " +
              s"attempt's heartbeat is $BatchRetryGraceMs ms quiet"
          else ""))
    }(body)

  // ------------------------------------------------------ the batch path

  /** Curate one micro-batch against the store at `root`, appending
    * admitted pairs `(idCol, captionCol, phash)` to `acceptedPath` and
    * their features/keys to the three store tables. Returns the batch
    * ledger (the [[PairCuration.curatePairsAudited]] stages plus
    * `history_image_dup` / `history_caption_dup` / `admitted`), or
    * `replay_skipped -> batchId` when the batch is already committed.
    */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
                   acceptedPath: String, idCol: String = "pair_id",
                   imageCol: String = "image", captionCol: String = "caption",
                   cfg: PairCuration.Config = PairCuration.Config(),
                   parts: Int = DefaultParts,
                   foldEvery: Int = FoldEveryBatches): Seq[(String, Long)] = {
    require(batchId >= 0, s"batchId must be non-negative, got $batchId")
    val spark = batch.sparkSession
    if (committedBatchId(spark, root).exists(batchId <= _))
      return Seq("replay_skipped" -> batchId)
    // the lock comes FIRST: layout/table/corruption checks against a
    // store a live compactHistory is mid-swap on would misdiagnose
    // healthy maintenance as corruption — under the lock every state
    // they can see is quiescent, so a failure there is real
    withStoreLock(spark, root, token = batchId.toString) {
      ensureLayout(spark, root, Layout(parts, cfg.maxHamming))
      // re-read under the lock (a reclaimed same-batch retry could in
      // principle follow a competing replay — single-writer makes this
      // a no-op re-read, never a behavior change)
      val committed = committedBatchId(spark, root)
      if (committed.exists(batchId <= _))
        return Seq("replay_skipped" -> batchId)
      val hwm = committed.getOrElse(-1L)
      if (hwm >= 0) {
        // a committed high-water mark with a MISSING table is provably
        // inconsistent (every committed batch created all three dirs
        // before its flip — a zero-row append still writes the dir).
        // Treating it as empty would silently re-admit every duplicate
        // ever seen; the one legitimate cause is a compactHistory crash
        // mid-swap, whose recoverable copy this names.
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq("history", "bands", "captions").foreach { tbl =>
          require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$tbl")),
            s"$root/$StateName records committed batch $hwm but $root/$tbl " +
              s"does not exist — if $root/$tbl.compact_old exists, a " +
              "compactHistory crashed mid-swap: run compactHistory again " +
              "(it self-heals); otherwise the store is corrupt")
        }
      }
      val (curated0, ledger) = PairCuration.curateCore(
        batch, idCol, imageCol, captionCol, cfg)
      try {
        val curated = curated0
          .withColumn("cap_h", xxhash64(col(captionCol)))
          .withColumn("cap_h2", xxhash64(lit(1L), col(captionCol)))

        // image leg: the batch's OWN band-subset keys select the bands/
        // partitions to read; matched candidate ids then select the
        // history/ partitions holding their verify features. Both dup
        // frames are MATERIALIZED (≤ batch-size id lists) so the ledger
        // counts and the anti-joins below share one probe per leg.
        // the IMAGE leg and the CAPTION leg are independent read-only
        // probes of disjoint store tables over the same checkpointed
        // curated batch — they run CONCURRENTLY (r15, guide §2.6): each
        // leg is a chain of small sequential jobs (partition collect,
        // pruned scan, verify join), so overlapping the two roughly
        // halves the probe phase's fixed per-job latency. Both thunks
        // return an eagerly CHECKPOINTED id frame, so all compute is
        // inside the sweep.
        val bloomState = readBloomState(spark, root, hwm)
        def imageLeg(): DataFrame = {
          val batchFeats = curated.select(col(idCol).as("id"), col("ahash"),
            col("mean"), col("centered"), col("norm0"))
          val batchBandKeys = JdkMedia.bandSubsetKeys(batchFeats, Bits, cfg.maxHamming)
            .select(col("t"), col("bk"), col("id").as("id_b"))
          val candPairs = KeyedHistory.probe(spark, s"$root/bands", parts,
              Seq("t", "bk"), batchBandKeys, bandsSchema,
              col("batch_id") <= hwm, pushKeyCol = Some("bk"))
            .select(col("id").as("id_h"), col("id_b"))
            .distinct()
            .persist() // partition collect + feature join: one band probe
          try {
            val histFeats = KeyedHistory.prunedRead(spark, s"$root/history",
                parts, Seq("id"), candPairs.select(col("id_h").as("id")),
                historySchema, pushKeyCol = Some("id"))
              .where(col("batch_id") <= hwm)
              .select(col("id").as("id_h"), col("mean").as("mean_h"),
                col("centered").as("c_h"), col("norm0").as("z_h"))
            val batchVerify = batchFeats.select(col("id").as("id_b"),
              col("mean").as("mean_b"), col("centered").as("c_b"),
              col("norm0").as("z_b"))
            histFeats
              .join(candPairs, Seq("id_h"))
              .join(broadcast(batchVerify), Seq("id_b"))
              .where(JdkMedia.centeredMatch(cfg.threshold, cfg.meanTol))
              .select(col("id_b").as("id")).distinct()
              .localCheckpoint(true)
          } finally { candPairs.unpersist(); () }
        }

        // caption leg, TWO-TIER: the persisted seen-set (base Bloom +
        // exact-key delta chain) answers definite-NEGATIVE for most of
        // the batch without touching captions/ at all (a Bloom has no
        // false negatives, deltas are exact; and an In() pushdown past
        // ~10 values degrades to a vacuous min/max range filter, so the
        // exact probe alone cannot be bytes-flat on an all-novel batch).
        // Only probable hits do the pruned exact confirm — that key set
        // is dup-count + fpp-sized, small enough that its In() pushes as
        // eq-chains and row-group stats bite.
        def captionLeg(): DataFrame = {
          val batchCaps = curated.select(col(idCol).as("id"),
            col("cap_h"), col("cap_h2"))
          val marked = graft.operators.SeenFilter
            .markSeenKeyed(batchCaps, bloomState.base, captionBloomKey)
          val probable = marked.where(col("maybe_seen")).drop("maybe_seen")
            .unionByName(marked.where(!col("maybe_seen")).drop("maybe_seen")
              .join(broadcast(bloomState.deltaKeys),
                Seq("cap_h", "cap_h2"), "left_semi"))
            .localCheckpoint(true) // partition collect + probe join: one pass
          try KeyedHistory.probe(spark, s"$root/captions",
              parts, Seq("cap_h", "cap_h2"), probable, captionsSchema,
              col("batch_id") <= hwm, pushKeyCol = Some("cap_h"))
            .select(col("id")).distinct().localCheckpoint(true)
          finally { probable.unpersist(); () }
        }
        val Seq(imageDups, captionDups) =
          graft.operators.Maintenance.parallelSweep(
            Seq(imageLeg _, captionLeg _), s"processBatch probe legs at $root")(
            _.apply())

        val nImageDup = imageDups.count()
        val nCaptionDup = captionDups.count()
        val admitted = curated
          .join(imageDups.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
          .join(captionDups.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
          .localCheckpoint(true)
        imageDups.unpersist()
        captionDups.unpersist()
        try {
          val nAdmitted = admitted.count()
          // accepted FIRST (at-least-once), store tables second, manifest
          // flip LAST — a crash anywhere leaves only invisible partials
          // store appends land in the L0 DELTA tier (one key-sorted file
          // per table per batch, not one per touched partition — at
          // production key spreads dir-mode appends write ~P small files
          // per table per batch); minorFold absorbs the deltas into the
          // partitioned base on the fold cadence
          admitted
            .select(col(idCol), col(captionCol), col("ahash").as("phash"))
            .write.mode(SaveMode.Append).parquet(acceptedPath)
          // the three store appends are independent single-file L0 writes
          // off the same checkpointed `admitted` — CONCURRENT (r15, guide
          // §2.6); all three still strictly precede the manifest flip, so
          // the crash-ordering contract (accepted → tables → flip) holds
          def appendHistory(): Unit = KeyedHistory.append(
            admitted.select(lit(batchId).as("batch_id"),
              col(idCol).as("id"), col("ahash"), col("mean"),
              col("centered"), col("norm0"), col("cap_h"), col("cap_h2")),
            s"$root/history", parts, Seq("id"), sortCols = Seq("id"),
            l0 = true)
          def appendBands(): Unit = KeyedHistory.append(
            JdkMedia.bandSubsetKeys(
                admitted.select(col(idCol).as("id"), col("ahash"),
                  col("mean"), col("centered"), col("norm0")),
                Bits, cfg.maxHamming)
              .select(lit(batchId).as("batch_id"), col("t"), col("bk"),
                col("id")),
            // bk PRIMARY in the sort: it is the pushed filter key, and a
            // t-primary sort would give every row group the full bk range
            // (stats too wide to skip anything)
            s"$root/bands", parts, Seq("t", "bk"),
            sortCols = Seq("bk", "t"), l0 = true)
          def appendCaptions(): Unit = KeyedHistory.append(
            admitted.select(lit(batchId).as("batch_id"), col("cap_h"),
              col("cap_h2")),
            s"$root/captions", parts, Seq("cap_h", "cap_h2"),
            sortCols = Seq("cap_h", "cap_h2"), l0 = true)
          graft.operators.Maintenance.parallelSweep(
            Seq(appendHistory _, appendBands _, appendCaptions _),
            s"processBatch L0 appends at $root")(_.apply())
          // seen-set BEFORE the flip: it must be a SUPERSET of committed
          // caption keys at every instant — an extra uncommitted key only
          // costs an exact confirm; a missing committed key would be a
          // false negative = silent dup admit
          commitCaptionBloom(spark, root, bloomState,
            admitted.select(col("cap_h"), col("cap_h2")), nAdmitted)
          // auto small-file fold (see minorFold): every foldEvery
          // committed batches, counted in the state manifest (absent on
          // pre-fold-era stores = 0). The reset is stamped WITH the flip:
          // a crash after the flip but before the fold completes only
          // postpones the next fold by one cycle, never corrupts
          val sinceFold = committed
            .flatMap(_ => Manifests.read(spark, s"$root/$StateName"))
            .flatMap(Manifests.numFieldOpt(_, "since_fold"))
            .map(_.toLong).getOrElse(0L) + 1L
          val willFold = foldEvery > 0 && sinceFold >= foldEvery
          Manifests.writeAtomic(spark, s"$root/$StateName",
            s"""{"batch_id":$batchId,"admitted":$nAdmitted,""" +
              s""""since_fold":${if (willFold) 0L else sinceFold}}""")
          if (willFold) minorFold(spark, root, parts)
          ledger ++ Seq("history_image_dup" -> nImageDup,
            "history_caption_dup" -> nCaptionDup, "admitted" -> nAdmitted)
        } finally { admitted.unpersist(); () }
      } finally {
        // curateCore returns its final stage CHECKPOINTED (batch-query
        // hygiene); in a per-batch loop that is one pinned frame per batch
        // forever — release it
        curated0.unpersist(); ()
      }
    }
  }

  // ---------------------------------------------------------- maintenance

  /** Every append writes one file per touched partition per batch — a
    * store run purely via [[curateStream]] would otherwise accumulate
    * ≤ P files per table per batch forever, and probe-side file listing
    * (O(files in the selected partitions)) would grow linearly in
    * batches: the metadata-plane twin of the bytes problem the
    * band-indexed layout retired. So [[processBatch]] SELF-FOLDS, the
    * way the seen-set delta chain does: every [[FoldEveryBatches]]
    * committed batches it merges each partition's accumulated SMALL
    * files (< [[MinorFoldSmallBytes]]) into one sorted file, under the
    * already-held store lock. Files at or above the size floor are never
    * rewritten again — size-tiered, so a row is re-copied O(log) times
    * over the store's life and the amortized per-batch fold cost is
    * batch-proportional, never a corpus term. Steady-state files per
    * partition: one near-floor file per tier plus < FoldEveryBatches
    * fresh ones — bounded regardless of batch count.
    */
  private[graft] val FoldEveryBatches = 16
  private[graft] val MinorFoldSmallBytes = 128L * 1024 * 1024

  /** Merge each partition's small files into one sorted file, all three
    * tables, PRESERVING the hash-partitioned layout and row-group sort
    * (the fold re-sorts on each table's probe key, so the pushed-filter
    * row-group skip keeps biting after the merge). Rows are rewritten
    * VERBATIM (batch_id kept — uncommitted partials stay invisible to
    * the committed-prefix reads). Crash windows leave only harmless
    * duplicates (merged copy + not-yet-deleted originals), the same
    * class as a crash replay's re-appends, reclaimed by
    * [[compactHistory]]. Caller must hold the store lock. Returns the
    * number of files folded away.
    */
  private[graft] def minorFold(spark: SparkSession, root: String, parts: Int,
                               smallBytes: Long = MinorFoldSmallBytes): Long =
    // the three tables fold independently (disjoint dirs, caller holds the
    // store lock) — concurrent via the shared pool (r15, guide §2.6)
    graft.operators.Maintenance.parallelSweep(
      Seq(("history", Seq("id"), Seq("id")),
        ("bands", Seq("bk", "t"), Seq("t", "bk")),
        ("captions", Seq("cap_h", "cap_h2"), Seq("cap_h", "cap_h2"))),
      s"minorFold at $root") { case (table, sortCols, keyCols) =>
      KeyedHistory.foldSmallFiles(spark, s"$root/$table", sortCols,
        smallBytes = smallBytes, p = parts, keyCols = keyCols)
    }.sum

  /** Maintenance: collapse the rare duplicate rows a crash-replay leaves
    * behind and drop uncommitted partials (`batch_id` above the
    * high-water mark — a crashed attempt's garbage; safe to reclaim
    * under the store lock, which guarantees no batch is mid-flight).
    * One `min_by` keep-one per key on each table, rewritten via
    * write-aside + swap, PRESERVING each table's hash-partitioned layout
    * (the pruned probes keep pruning after maintenance). A crash between
    * the two swap renames leaves `<table>.compact_old` as the
    * recoverable copy — self-healed on the next call. Returns rows
    * removed across the three tables.
    */
  def compactHistory(spark: SparkSession, root: String): Long = {
    val layout = readLayout(spark, root).getOrElse {
      val hist = new org.apache.hadoop.fs.Path(s"$root/history")
      val fs = hist.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(hist),
        s"$root holds a pre-index pair-store history but no $LayoutName — " +
          "run IncrementalPairs.indexHistory(spark, root) to migrate it " +
          "before maintenance")
      return 0L
    }
    withStoreLock(spark, root) {
      // the high-water mark is sampled UNDER the lock, where the store is
      // provably quiescent (the same re-read-under-lock discipline as
      // processBatch): a pre-lock sample could miss a batch that
      // committed its _PAIRSTATE flip between the read and the acquire —
      // compactOne would then rewrite that batch's committed rows away as
      // "uncommitted partials" and rebuildCaptionBloom would drop its
      // caption keys, permanently erasing committed admissions while the
      // manifest still marks them committed (silent future re-admits).
      committedBatchId(spark, root) match {
        case None => 0L
        case Some(hwm) =>
          val h = compactOne(spark, root, "history", layout.parts, Seq("id"),
            Seq("id"), Seq("id"), hwm, historySchema)
          val b = compactOne(spark, root, "bands", layout.parts, Seq("t", "bk"),
            Seq("bk", "t"), Seq("t", "bk", "id"), hwm, bandsSchema)
          val c = compactOne(spark, root, "captions", layout.parts,
            Seq("cap_h", "cap_h2"), Seq("cap_h", "cap_h2"),
            Seq("cap_h", "cap_h2"), hwm, captionsSchema)
          // always rebuild the caption seen-set: re-sized to the live count
          // (fpp healing), uncommitted keys dropped, lost-seen-set recovery,
          // delta chain collapsed, orphan pieces swept
          rebuildCaptionBloom(spark, root)
          h + b + c
      }
    }
  }

  /** Rewrite one store table keep-one-per-`dedupKeys` (min `batch_id`
    * wins), committed rows only, preserving the [[KeyedHistory]] layout.
    */
  private def compactOne(spark: SparkSession, root: String, table: String,
                         parts: Int, keyCols: Seq[String],
                         sortCols: Seq[String], dedupKeys: Seq[String],
                         hwm: Long, schema: StructType): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$table")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$root/$table.compact_old")
    // self-heal a prior run's crash between its two swap renames: the
    // .compact_old dir IS the table (the new dir never landed) — restore
    // it before anything else reads or rewrites
    if (!fs.exists(path) && fs.exists(old)) {
      if (!fs.rename(old, path))
        throw new java.io.IOException(
          s"compactHistory: crash-recovery rename $old -> $path failed")
    }
    if (!fs.exists(path)) return 0L
    // an empty table (zero-row appends only) has no partition dirs, no
    // L0 deltas, and nothing to reclaim
    if (!fs.listStatus(path).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith(KeyedHistory.PartCol + "=")) &&
        KeyedHistory.l0ParquetFiles(fs, path).isEmpty)
      return 0L
    // readAll: the rewrite must absorb the L0 delta tier too (the swap
    // moves the whole old dir — _l0 included — out and the new dir has
    // none, so missing delta rows here would LOSE them)
    val tbl = KeyedHistory.readAll(spark, path.toString, schema)
    val before = tbl.count()
    val data = tbl.where(col("batch_id") <= hwm)
    val cols = data.columns
    val deduped = data
      .groupBy(dedupKeys.map(col): _*)
      .agg(min_by(struct(cols.map(col): _*), col("batch_id")).as("_r"))
      .select(cols.map(c => col("_r").getField(c).as(c)): _*)
      .localCheckpoint(true)
    val after = deduped.count()
    if (after == before) { deduped.unpersist(); return 0L }
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$table.compact_tmp")
    fs.delete(tmp, true)
    KeyedHistory.append(deduped, tmp.toString, parts, keyCols, sortCols,
      SaveMode.ErrorIfExists)
    deduped.unpersist()
    // swap: old dir out of the way first (a crash between the renames
    // leaves .compact_old as the recoverable copy, never zero copies —
    // restored by the self-heal above on the next call, or named by
    // processBatch's loud missing-table failure if a batch runs first)
    fs.delete(old, true)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compactHistory: rename $path -> $old failed")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"compactHistory: rename $tmp -> $path failed — restore from $old")
    fs.delete(old, true)
    before - after
  }

  /** One-time migration of a pre-index (flat `history/`-only, r13-era)
    * store to the band-indexed layout: rewrite `history/`
    * hash-partitioned by id, derive `bands/`, `captions/` and the
    * caption seen-set from it (all DERIVED — history is authoritative),
    * stamp `_PAIRLAYOUT` LAST. CRASH-RESTARTABLE at every stage: a crash
    * before the history swap leaves the flat table authoritative; a
    * crash after it (the hours-long derived-table phase at corpus scale)
    * is RESUMED on re-run — an already-partitioned history with no
    * layout stamp is recognized as a half-done migration and only the
    * derived tables are rebuilt. `maxHamming` must equal the value every
    * future [[processBatch]] will use (it shapes the persisted band
    * keys; the stamp enforces it from then on).
    */
  def indexHistory(spark: SparkSession, root: String,
                   parts: Int = DefaultParts, maxHamming: Int = 1): Unit = {
    require(readLayout(spark, root).isEmpty,
      s"$root is already band-indexed ($LayoutName exists)")
    withStoreLock(spark, root) {
      val path = new org.apache.hadoop.fs.Path(s"$root/history")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val old = new org.apache.hadoop.fs.Path(s"$root/history.compact_old")
      if (!fs.exists(path) && fs.exists(old)) {
        if (!fs.rename(old, path))
          throw new java.io.IOException(
            s"indexHistory: crash-recovery rename $old -> $path failed")
      }
      require(fs.exists(path), s"$root/history does not exist — nothing to migrate")
      val pendingName = s"$LayoutName.pending"
      val pendingJson =
        s"""{"v":2,"parts":$parts,"bits":$Bits,"max_hamming":$maxHamming}"""
      val flat = spark.read.parquet(path.toString)
      if (!flat.columns.contains(KeyedHistory.PartCol)) {
        // stamp the INTENDED layout before any mutation: a crash after
        // the history swap leaves this as the resumable record of the
        // parameters the partitioned dirs were built with (the flat
        // history is untouched up to the swap, so overwriting a stale
        // pending from an earlier pre-swap crash is safe)
        Manifests.writeAtomic(spark, s"$root/$pendingName", pendingJson)
        // history: rewrite partitioned via write-aside + swap
        val tmp = new org.apache.hadoop.fs.Path(s"$root/history.compact_tmp")
        fs.delete(tmp, true)
        KeyedHistory.append(flat, tmp.toString, parts, Seq("id"), Seq("id"),
          SaveMode.ErrorIfExists)
        fs.delete(old, true)
        if (!fs.rename(path, old))
          throw new java.io.IOException(s"indexHistory: rename $path -> $old failed")
        if (!fs.rename(tmp, path))
          throw new java.io.IOException(
            s"indexHistory: rename $tmp -> $path failed — restore from $old")
      } else {
        // already partitioned with no layout stamp = a prior indexHistory
        // crashed after its history swap — RESUME: the partitioned
        // history is complete (the swap is atomic), only the derived
        // tables below need (re)building. The pending stamp records the
        // parameters those partitions were BUILT with; this call must
        // match them exactly (partition values are a pure function of
        // parts — a drifted P would prune to the wrong partitions and
        // silently admit every duplicate; dir-name inspection cannot
        // catch a LARGER parts, empty high partitions hide a smaller).
        val pending = Manifests.read(spark, s"$root/$pendingName")
        require(pending.isDefined,
          s"$root/history is hash-partitioned but neither $LayoutName nor " +
            s"$pendingName exists — this store was not produced by " +
            "indexHistory; rebuild it or stamp the layout by hand")
        require(pending.get.trim == pendingJson,
          s"$root has a half-done migration stamped ${pending.get.trim} " +
            s"but this call resumes with $pendingJson — re-run with the " +
            "ORIGINAL parameters")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"indexHistory: resuming a half-done migration at $root " +
            "(partitioned history found without a layout stamp)")
      }
      // derived tables: rebuild from scratch (delete any partial attempt);
      // readAll for the hypothetical L0 tier on a resumed store
      val hist = KeyedHistory.readAll(spark, path.toString, historySchema)
        .persist()
      try {
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/bands"), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/captions"), true)
        KeyedHistory.append(
          JdkMedia.bandSubsetKeys(
              hist.select(col("id"), col("ahash"), col("mean"),
                col("centered"), col("norm0")), Bits, maxHamming)
            .select(col("t"), col("bk"), col("id"))
            .join(hist.select(col("id"), col("batch_id")), Seq("id"))
            .select(col("batch_id"), col("t"), col("bk"), col("id")),
          s"$root/bands", parts, Seq("t", "bk"), Seq("bk", "t"),
          SaveMode.ErrorIfExists)
        KeyedHistory.append(
          hist.select(col("batch_id"), col("cap_h"), col("cap_h2")),
          s"$root/captions", parts, Seq("cap_h", "cap_h2"),
          Seq("cap_h", "cap_h2"), SaveMode.ErrorIfExists)
        rebuildCaptionBloom(spark, root)
      } finally { hist.unpersist(); () }
      fs.delete(old, true)
      // the stamp lands LAST: its presence asserts a complete index
      Manifests.writeAtomic(spark, s"$root/$LayoutName", pendingJson)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$pendingName"), false)
      ()
    }
  }

  /** The streaming wrapper: micro-batches of `(idCol, imageCol,
    * captionCol)` rows through [[processBatch]], batch ids from the
    * engine (exactly what the replay skip keys on — Structured Streaming
    * re-offers a batch under the SAME id after a restart).
    */
  def curateStream(pairs: DataFrame, root: String, acceptedPath: String,
                   idCol: String = "pair_id", imageCol: String = "image",
                   captionCol: String = "caption",
                   cfg: PairCuration.Config = PairCuration.Config(),
                   parts: Int = DefaultParts,
                   foldEvery: Int = FoldEveryBatches): DataStreamWriter[Row] =
    pairs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, root, acceptedPath, idCol, imageCol,
          captionCol, cfg, parts, foldEvery)
        ()
      }
}

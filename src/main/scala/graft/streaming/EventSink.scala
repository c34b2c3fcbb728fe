package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** S7/ST4/ST5/Q12: the day-partitioned Parquet sink with late-data grace,
  * small-file compaction and retention.
  *
  * The reference hand-rolls offset recovery, heartbeats, tmp-file renames
  * and row-group merges (reference: readers/hdfs/src/main/java/.../writer/
  * PartitionedWriter.java, offset/HdfsOffsetComputer.java,
  * writer/ProtoParquetWriterWithOffset.java:99-180). In Spark all of ST1-ST3
  * collapses into the checkpointed file sink; what remains ours is the
  * layout (partition columns), the watermark (26 h late-data grace,
  * ReaderFactory.java:221-229), compaction and retention.
  *
  * Layout for 100 TB: partitionBy(event_type, day) — queries prune on both;
  * the union-view `event_type` filter becomes partition pruning, which is
  * exactly the reference's one candidate Catalyst rule (SURVEY §4.2).
  */
object EventSink {

  /** The day contract is UTC end to end (P8): the partition column
    * buckets via session-timezone `date_trunc` while
    * [[closedDayFromWatermark]] reckons UTC — under a non-UTC session a
    * _DONE marker could stamp a local-time bucket hours of event time
    * early, handing consumers a "complete" partition that still receives
    * in-grace rows. Refuse loudly rather than drift.
    */
  private def requireUtcSession(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT" || tz == "Z",
      s"day partitioning and the _DONE watermark contract both reckon " +
        s"days in UTC, but spark.sql.session.timeZone=$tz would bucket " +
        "day= dirs in local time — set the session timezone to UTC")
  }

  /** Streaming writer: day-partitioned parquet with 26 h watermark.
    *
    * Late-data semantics (same contract as the reference's delayed-path
    * writer): the watermark DRIVES THE DAY-CLOSE MARKERS, it does not drop
    * rows — a stateless file sink appends rows later than the grace into
    * their (already `_DONE`-stamped) day partition. `_DONE` therefore
    * means "complete up to the grace"; a consumer needing the
    * beyond-grace stragglers re-lists the partition (the reference's
    * consumers re-read the delayed path the same way).
    *
    * Like [[EventRouter.routeTyped]], it configures the caller's session
    * ([[graft.GraftSession.configure]]): the query reuses the code earlier
    * queries compiled, and its checkpoint and sink files are created
    * through graft's fork-free local file system.
    */
  def partitionedStreamWriter(events: DataFrame, path: String, checkpoint: String,
                              lateness: String = "26 hours",
                              trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                              monitorLag: Boolean = true)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.GraftSession.configure(events.sparkSession)
    // ST11 default-on: the session's shared lag listener rides every
    // production sink (the reference's footer stamps are not opt-in either)
    if (monitorLag) IngestLagListener.forSession(events.sparkSession)
    requireUtcSession(events.sparkSession)
    events
      .withWatermark("timestamp", lateness)
      .withColumn("day", to_date(date_trunc("day", col("timestamp"))))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_type", "day")
      .trigger(trigger)
  }

  /** Batch writer with the same layout (used by tests and backfills).
    * Q12: rows are sorted by (partition cols, event time) within each task,
    * so every output file is time-ordered — parquet row-group min/max stats
    * then prune time-range predicates, the engine's equivalent of the
    * reference's index-time sort (ElasticSearchReader.java:177-184).
    * (Streaming writes can't sort — Spark disallows sort on unaggregated
    * streams — so the stream sink relies on [[compactPartition]]'s
    * sorted rewrite to restore time order.)
    */
  def writePartitioned(events: DataFrame, path: String, tsCol: String = "timestamp"): Unit = {
    requireUtcSession(events.sparkSession)
    events
      .withColumn("day", to_date(date_trunc("day", col(tsCol))))
      .sortWithinPartitions(col("event_type"), col("day"), col(tsCol))
      .write.mode(SaveMode.Append)
      .partitionBy("event_type", "day")
      .parquet(path)
  }

  /** ST5: small-file compaction — rewrite partitions whose file count
    * exceeds `maxFiles` into `targetFiles` time-sorted files. Idempotent
    * (re-running compacts nothing new). The reference merges row groups
    * binary-wise on close (ProtoParquetWriterWithOffset.java:137-172); a
    * relational rewrite is the Spark-native equivalent (no Catalyst support
    * for in-place merge) and restores the Q12 time-sort for row-group
    * pruning.
    *
    * Crash safety: originals are renamed into the RUN-SCOPED trash dir
    * `.compact_trash/<stamp>/<partPath>` BEFORE the compacted files move
    * in, so every intermediate state still holds a full copy of the data —
    * a crash mid-swap is repaired by [[recoverCompaction]] at writer
    * startup (originals are authoritative until the run's trash is
    * dropped, which happens only after all renames succeed).
    *
    * Concurrency: compactors of DIFFERENT partitions of one table may run
    * concurrently — each run owns its own trash dir, so nobody repairs (=
    * clobbers) somebody else's in-flight swap; that interference is
    * exactly why there is no auto-recovery on entry. Per PARTITION, a
    * create-exclusive lock file under `.compact_locks/` serializes
    * compactors: a second call on a locked partition returns false. A
    * crashed run — OR one whose swap threw after the first destructive
    * rename; the finally block treats that identically — leaves its lock
    * behind; [[recoverCompaction]] (startup, when no compactor is live)
    * clears locks along with the trash.
    */
  /** A table written by the checkpointed FileStreamSink tracks every part
    * file in `_spark_metadata`; renaming or deleting those files out from
    * under the log makes the table unreadable (reads resolve through the
    * log: missing originals throw, untracked replacements are invisible).
    * Compaction and retention therefore REFUSE log-tracked tables — the
    * deployment recipe for compactable tables is the foreachBatch append
    * layout ([[EventRouter.routeTyped]] / [[writePartitioned]]).
    */
  private[graft] def isStreamLogTracked(fs: org.apache.hadoop.fs.FileSystem, tablePath: String): Boolean = {
    // walk ANCESTORS too: callers may address a subdirectory of the sink's
    // root as the table (the per-type layout does exactly that), and the
    // log lives at the sink root — a same-level-only check would let the
    // swap proceed and corrupt the log-tracked table anyway
    var p = fs.makeQualified(new org.apache.hadoop.fs.Path(tablePath))
    while (p != null) {
      if (fs.exists(new org.apache.hadoop.fs.Path(p, "_spark_metadata"))) return true
      p = p.getParent
    }
    false
  }

  // ------------------------- manifest-pinned compaction (snapshot reads)

  /** Per-partition compaction manifest: the single flip point that makes
    * compaction SNAPSHOT-ISOLATED for manifest-resolving readers (the
    * r12 READ FENCE, closed). Plain text, one record per line
    * (filenames are engine- or Spark-generated — no quoting needed):
    *
    * {{{
    * graft-compaction-manifest v1
    * commit <stamp> <flipMillis>
    * tombstone <stamp> <fileName>
    * }}}
    *
    * Invariants the whole protocol hangs on:
    *   - `compacted-<stamp>-*.parquet` files are INVISIBLE to resolving
    *     readers until their stamp has a `commit` line;
    *   - `tombstone`d files are invisible from the same atomic flip, but
    *     stay ON DISK until [[sweepCompacted]] deletes them after a grace
    *     — so a reader that resolved just before the flip still finds
    *     every file it planned on;
    *   - the manifest lands via [[graft.operators.Manifests.writeAtomic]]
    *     (uuid-temp + rename): a reader sees the old complete state or
    *     the new complete state, never a torn one.
    *
    * Underscore prefix keeps it invisible to Spark's file listing, like
    * `_SUCCESS` (and the engine's other `_LAYOUT`/`_CURRENT` manifests).
    */
  private[graft] val ManifestName = "_compaction_manifest"
  private val CompactedName = "^compacted-(.+)-([0-9]+)\\.parquet$".r

  /** committed: stamp -> flip millis; tombstones: fileName -> owning stamp. */
  private[graft] final case class CompactionState(
      committed: Map[String, Long], tombstones: Map[String, String]) {
    def isLive(fileName: String): Boolean =
      !tombstones.contains(fileName) && (fileName match {
        case CompactedName(stamp, _) => committed.contains(stamp)
        case _ => true
      })
    def serialize: String =
      ("graft-compaction-manifest v1" +:
        (committed.toSeq.sortBy(_._1).map { case (s, t) => s"commit $s $t" } ++
          tombstones.toSeq.sortBy(_._1).map { case (f, s) => s"tombstone $s $f" }))
        .mkString("\n") + "\n"
  }

  /** None = the partition has never been manifest-compacted: EVERY file
    * in it is live (pre-r13 layouts, plain appends). This is distinct
    * from Some(empty state), where the protocol is in force and an
    * unknown `compacted-*` stamp means a crashed run's garbage —
    * [[compactPartition]] bootstraps the manifest (grandfathering any
    * pre-protocol `compacted-*` files) before it lands a single
    * uncommitted file, so the distinction is always decidable.
    */
  private[graft] def readCompactionState(spark: SparkSession, partDir: org.apache.hadoop.fs.Path)
      : Option[CompactionState] = {
    graft.operators.Manifests.read(spark,
      new org.apache.hadoop.fs.Path(partDir, ManifestName).toString) match {
      case None => None
      case Some(text) =>
        val lines = text.linesIterator.filter(_.nonEmpty).toSeq
        require(lines.headOption.contains("graft-compaction-manifest v1"),
          s"unrecognized compaction manifest header at $partDir: " +
            s"${lines.headOption.getOrElse("<empty>")} — refusing to guess " +
            "which files are live")
        val committed = scala.collection.mutable.Map.empty[String, Long]
        val tombstones = scala.collection.mutable.Map.empty[String, String]
        lines.drop(1).foreach { l =>
          l.split(" ", 3) match {
            case Array("commit", stamp, ms) => committed(stamp) = ms.toLong
            case Array("tombstone", stamp, file) => tombstones(file) = stamp
            case other => throw new IllegalStateException(
              s"unrecognized compaction manifest line at $partDir: '$l'")
          }
        }
        Some(CompactionState(committed.toMap, tombstones.toMap))
    }
  }

  private def writeCompactionState(spark: SparkSession, partDir: org.apache.hadoop.fs.Path,
                                   state: CompactionState): Unit =
    graft.operators.Manifests.writeAtomic(spark,
      new org.apache.hadoop.fs.Path(partDir, ManifestName).toString, state.serialize)

  /** The LIVE data files of one partition dir under the manifest contract:
    * the directory listing minus tombstoned files minus compacted files
    * whose stamp never committed (a crashed run's garbage). This is the
    * read path AND the compactor's own input snapshot — both sides agree
    * on what the partition contains at every intermediate state.
    */
  private[graft] def liveFiles(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                               partDir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    liveFromListing(spark, fs, partDir, fs.listStatus(partDir))

  /** [[liveFiles]] over an already-fetched listing (one listStatus per
    * dir, not two — at many-partition scale the driver-side metadata
    * RPCs dominate on object stores).
    *
    * STALE-MANIFEST RETRY: a concurrent flip+sweep between this reader's
    * manifest read and its listing can leave the listing with only
    * files the STALE state calls dead (originals swept, new stamp
    * uncommitted-in-the-old-manifest) — resolving to zero live files for
    * a partition that demonstrably has data. Re-reading the manifest and
    * re-listing once closes that resolution race (the second read sees
    * the committed stamp: the flip is atomic and the files it commits
    * are already on disk before it). What the retry cannot cover is a
    * file deleted mid-EXECUTION after resolution — that is what
    * `sweepGraceMs` is for (size it ≥ the longest query; grace 0 keeps
    * only crash safety and resolution-level consistency).
    */
  private def liveFromListing(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                              partDir: org.apache.hadoop.fs.Path,
                              listing: Array[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    def resolve(entries: Array[org.apache.hadoop.fs.FileStatus])
        : (Seq[org.apache.hadoop.fs.FileStatus], Boolean) = {
      val parquet = entries.filter(_.getPath.getName.endsWith(".parquet"))
      val isLive: String => Boolean = readCompactionState(spark, partDir) match {
        case None => _ => true // never manifest-compacted: listing is truth
        case Some(state) => state.isLive
      }
      (parquet.toSeq.filter(f => isLive(f.getPath.getName)), parquet.nonEmpty)
    }
    val (live, hadParquet) = resolve(listing)
    if (live.nonEmpty || !hadParquet) live
    else {
      // zero live files in a dir that HAS parquet = the stale-manifest
      // race: fresh manifest + fresh listing decide. Bounded LOOP, not a
      // single retry — back-to-back flip+sweeps can re-stale one retry —
      // and if the dir still demonstrably holds parquet that all resolves
      // dead after the budget, FAIL: a loud error beats a silently
      // incomplete snapshot (a partition dropped from the query). A
      // compactor needs > graceMs between flips to re-trigger the race,
      // so 4 fresh reads outlast any realistic flip cadence; the
      // all-resolved-dead state is otherwise unreachable by construction
      // (every flip commits its files before tombstoning the originals).
      var attempt = 0
      var retry = Seq.empty[org.apache.hadoop.fs.FileStatus]
      var stillHasParquet = true
      while (attempt < 4 && retry.isEmpty && stillHasParquet) {
        val (r, h) = resolve(fs.listStatus(partDir))
        retry = r; stillHasParquet = h; attempt += 1
      }
      if (retry.isEmpty && stillHasParquet)
        throw new IllegalStateException(
          s"liveFiles: $partDir holds parquet files but every one resolved " +
            s"dead across $attempt fresh manifest+listing reads — the " +
            "compaction manifest is inconsistent with the directory " +
            "(manual deletes? a foreign writer?); refusing to silently " +
            "drop the partition from the query")
      retry
    }
  }

  /** Snapshot-isolated read of a compactable table: walk the partition
    * dirs, resolve each dir's [[liveFiles]] through its manifest, and read
    * EXACTLY that file list (`basePath` keeps the hive partition columns).
    * A concurrent [[compactPartition]] is invisible AT RESOLUTION: before
    * the flip the resolver returns the originals (uncommitted
    * `compacted-*` files are skipped), after it the compacted set
    * (tombstoned originals are skipped), and the zero-live retry in
    * [[liveFromListing]] closes the stale-manifest interleaving. For the
    * files to also survive until the plan finishes EXECUTING, the
    * sweep's `sweepGraceMs` must exceed the longest query — grace 0
    * (the default) keeps crash safety and resolution consistency but a
    * pre-flip plan can lose its files to the immediate sweep mid-scan.
    *
    * The listing itself is driver-side metadata work, same cost as
    * Spark's own InMemoryFileIndex walk; at many-partition scale restrict
    * `subdir` to the partitions the query needs (e.g.
    * `event_type=GC_EVENT`) exactly like partition pruning would.
    */
  def readIsolated(spark: SparkSession, tablePath: String, subdir: String = ""): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(
      if (subdir.isEmpty) tablePath else s"$tablePath/$subdir")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"readIsolated: no such table dir $root")
    val files = dataDirListings(fs, fs.makeQualified(root)).flatMap {
      case (dir, listing) =>
        liveFromListing(spark, fs, dir, listing).map(_.getPath.toString)
    }
    require(files.nonEmpty, s"readIsolated: no live data files under $root")
    spark.read.option("basePath", tablePath).parquet(files: _*)
  }

  /** `sortCol` re-sorts the rewritten file so its row-group min/max stats
    * serve range predicates on that one column; `zorderCols` instead lays
    * the rows on the Morton curve of TWO columns
    * ([[graft.operators.ZOrderLayout.zValue]]) so stats stay tight on
    * BOTH — the "run z-order where you run compaction" step. With
    * `targetFiles > 1` the rows are RANGE-partitioned on the z value
    * first (mirroring [[graft.operators.ZOrderLayout.writeZOrdered]]),
    * so the output files carve disjoint z-spans — a round-robin split
    * would hand every file the full domain and stats would prune
    * nothing. When both
    * are set and the zorder columns exist, zorder wins; either silently
    * degrades to the other/nothing when its columns are absent (the
    * compactor must not fail a sweep over a heterogeneous table).
    *
    * ISOLATION CONTRACT (replaces the r12 READ FENCE note): originals are
    * NEVER moved — the compacted files land under uncommitted names, one
    * atomic manifest flip makes them live and tombstones the originals,
    * and tombstoned files are deleted only by the sweep, `sweepGraceMs`
    * after their flip. A [[readIsolated]] reader therefore sees the old
    * complete snapshot or the new one at every instant, and a plan that
    * resolved pre-flip keeps every file it planned on for the grace
    * window (size it to the longest query). Plain directory-LISTING
    * readers of a partition whose originals are still within grace see
    * originals + compacted = DUPLICATES — so either read through
    * [[readIsolated]], or keep the default `sweepGraceMs = 0`, which
    * restores the pre-r13 lister behavior (immediate delete after flip;
    * crash-safe, not read-isolated for listers).
    *
    * Crash safety is now trivial: before the flip the originals are
    * untouched and authoritative (a crashed run leaves only ignorable
    * uncommitted `compacted-*` files, deleted by [[recoverCompaction]]);
    * after the flip the compacted set is complete and committed. No
    * intermediate state ever holds the only copy of a row in a trash dir.
    */
  def compactPartition(spark: SparkSession, tablePath: String, partitionSpec: Map[String, String],
                       maxFiles: Int = 8, targetFiles: Int = 1,
                       sortCol: Option[String] = Some("timestamp"),
                       zorderCols: Option[(String, String)] = None,
                       sweepGraceMs: Long = 0L): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolve the physical dir order-free: Map(day -> …, event_type -> …)
    // must find event_type=/day= (Map iteration order once silently
    // resolved to a nonexistent path and returned false forever). Two
    // regimes, both order-free:
    //  - SMALL specs (≤ 4 keys, the universal case): probe fs.exists over
    //    the ≤ 24 key orders — ~2 RPCs for the typical 2-key spec. A
    //    per-partition compaction sweep calls this once per partition, so
    //    the alternative full-table walk would be O(partitions²) driver
    //    metadata RPCs across the sweep.
    //  - LARGER specs: one recursive listing matched by k=v segment SET
    //    (the walk is O(partitions); the permutation count would be
    //    factorial — 8 keys = 40 320 probes).
    val partPath: String = {
      val matching: Seq[String] =
        if (partitionSpec.size <= 4) {
          // existence alone is not enough: an UNDER-specified spec hits
          // an intermediate dir (we would bootstrap a bogus manifest into
          // it), and a layout migration's stale alternate-order empty
          // dirs would fake ambiguity — accept a candidate only if it
          // DIRECTLY holds data (parquet) or is already under the
          // manifest protocol, mirroring the walk regime's
          // parquet-bearing filter
          def holdsData(p: org.apache.hadoop.fs.Path): Boolean =
            fs.exists(p) && fs.listStatus(p).exists(f => f.isFile &&
              (f.getPath.getName.endsWith(".parquet") ||
                f.getPath.getName == ManifestName))
          partitionSpec.toSeq.permutations
            .map(_.map { case (k, v) => s"$k=$v" }.mkString("/"))
            .filter(p => holdsData(new org.apache.hadoop.fs.Path(s"$tablePath/$p")))
            .toSeq.distinct
        } else {
          val rootQ = fs.makeQualified(new org.apache.hadoop.fs.Path(tablePath))
          if (!fs.exists(rootQ)) return false
          val specSet = partitionSpec.map { case (k, v) => s"$k=$v" }.toSet
          dataDirListings(fs, rootQ).map(_._1).flatMap { dir =>
            val rel = dir.toString.stripPrefix(rootQ.toString).stripPrefix("/")
            val segs = if (rel.isEmpty) Seq.empty[String] else rel.split('/').toSeq
            // size check too: a=1/a=1 collapses to one set element
            if (segs.size == specSet.size && segs.toSet == specSet) Some(rel) else None
          }.distinct
        }
      matching match {
        case Seq() => return false // absent (or holds no parquet = nothing to compact)
        case Seq(one) => one
        case many => throw new IllegalArgumentException(
          s"partition spec $partitionSpec matches ${many.size} distinct " +
            s"dirs under $tablePath (${many.mkString(", ")}) — the layout " +
            "is ambiguous; address the partition by its full ordered path")
      }
    }
    val dir = new org.apache.hadoop.fs.Path(s"$tablePath/$partPath")
    if (isStreamLogTracked(fs, tablePath)) return false
    val lock = tryPartitionLock(fs, tablePath, partPath).getOrElse(return false)
    var flipped = false
    var cleanupGarbage: () => Unit = () => ()
    try {
      // bootstrap on first manifest-compaction of this partition:
      // grandfather every pre-protocol `compacted-*` file as committed
      // (they are live data under listing semantics) so the manifest can
      // exist BEFORE this run lands its first uncommitted file — without
      // it, a crash pre-flip would leave files a manifest-less reader
      // counts as live (duplicates)
      val state = readCompactionState(spark, dir).getOrElse {
        val legacy = fs.listStatus(dir).map(_.getPath.getName).collect {
          case CompactedName(s, _) => s
        }.distinct.map(_ -> System.currentTimeMillis()).toMap
        val bootstrapped = CompactionState(legacy, Map.empty)
        writeCompactionState(spark, dir, bootstrapped)
        bootstrapped
      }
      val files = fs.listStatus(dir).filter(f =>
        f.getPath.getName.endsWith(".parquet") && state.isLive(f.getPath.getName))
      if (files.length <= maxFiles) return false
      val stamp = System.currentTimeMillis() + "-" +
        java.util.UUID.randomUUID().toString.take(8)
      // an exception before the flip must not strand this run's
      // already-renamed uncommitted files in the partition: resolving
      // readers skip them, but plain LISTERS (the grace-0 default read
      // mode) would double-count every row until a writer restart runs
      // recoverCompaction. They are this run's private garbage —
      // identifiable by stamp, safe to delete.
      cleanupGarbage = () => {
        fs.globStatus(new org.apache.hadoop.fs.Path(dir, s"compacted-$stamp-*.parquet"))
          .foreach(f => fs.delete(f.getPath, false))
        fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.compact_tmp/$stamp"), true)
        ()
      }
      val tmp = new org.apache.hadoop.fs.Path(s"$tablePath/.compact_tmp/$stamp/$partPath")
      // read EXACTLY the snapshotted LIVE list, not the directory: a live
      // writer may commit a new file between the listing above and the
      // read's own listing (its rows would be folded in AND left live =
      // duplicated), and tombstoned-in-grace originals or a crashed run's
      // uncommitted files must not be folded in at all
      // coalesce for the single-file case: same result as repartition(1)
      // without the full shuffle exchange — at one Spark job per compacted
      // partition the per-job exchange is the dominant cost of a
      // many-partition compaction sweep
      val snapshot = spark.read
        .parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
      val zPair = zorderCols.filter { case (a, b) =>
        snapshot.columns.contains(a) && snapshot.columns.contains(b) }
      val laid = zPair match {
        case Some((a, b)) =>
          // range-partition on the z value BEFORE the within-partition sort
          // (mirroring ZOrderLayout.writeZOrdered): a round-robin
          // repartition would hand every output file rows from the full
          // (a, b) domain, so with targetFiles > 1 each file's min/max
          // would span everything and parquet skipping would prune nothing
          val z = graft.operators.ZOrderLayout.zValue(col(a), col(b))
          val parted = if (targetFiles == 1) snapshot.coalesce(1)
                       else snapshot.repartitionByRange(targetFiles, z)
          parted.sortWithinPartitions(z)
        case None =>
          val compacted =
            if (targetFiles == 1) snapshot.coalesce(1) else snapshot.repartition(targetFiles)
          sortCol.filter(compacted.columns.contains)
            .map(c => compacted.sortWithinPartitions(col(c)))
            .getOrElse(compacted)
      }
      laid.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val newFiles = fs.listStatus(tmp).filter(f => f.getPath.getName.endsWith(".parquet"))
      def renameOrThrow(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"rename failed: $src -> $dst")
      // land the compacted files under their UNCOMMITTED names — readers
      // and a re-run compactor both skip them until the flip commits
      newFiles.zipWithIndex.foreach { case (f, i) =>
        renameOrThrow(f.getPath, new org.apache.hadoop.fs.Path(dir, s"compacted-$stamp-$i.parquet"))
      }
      // THE FLIP: one atomic manifest write commits the stamp and
      // tombstones the snapshot's originals — the entire visibility
      // change, for every resolving reader, in one rename
      val committed = CompactionState(
        state.committed + (stamp -> System.currentTimeMillis()),
        state.tombstones ++ files.map(f => f.getPath.getName -> stamp))
      writeCompactionState(spark, dir, committed)
      flipped = true
      // sweep THIS partition's expired tombstones (the lock is held);
      // grace 0 = delete the originals now
      sweepPartitionLocked(spark, fs, dir, sweepGraceMs)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.compact_tmp/$stamp"), true)
      true
    } catch {
      case e: Throwable =>
        // pre-flip failure: this run's renamed-but-uncommitted files are
        // private garbage — remove them so plain listers never
        // double-count (resolving readers never saw them anyway);
        // best-effort — a crash (vs exception) still falls to
        // recoverCompaction's GC
        if (!flipped) { try cleanupGarbage() catch { case _: Throwable => () } }
        throw e
    } finally {
      // an exception anywhere is safe to unlock past: pre-flip the
      // originals are untouched (this run left only ignorable — and now
      // cleaned — uncommitted files), post-flip the commit is complete —
      // there is no half-moved state a second compactor could corrupt
      // (the r12 retain-on-failure rule died with the trash-first swap)
      fs.delete(lock, false)
    }
  }

  /** Delete expired tombstoned files of one partition and prune their
    * manifest entries (plus committed stamps that no longer own any file
    * on disk). Caller MUST hold the partition lock — this rewrites the
    * manifest.
    */
  private def sweepPartitionLocked(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                                   partDir: org.apache.hadoop.fs.Path,
                                   graceMs: Long): Seq[String] = {
    val state = readCompactionState(spark, partDir) match {
      case None => return Nil
      case Some(s) if s.tombstones.isEmpty => return Nil
      case Some(s) => s
    }
    val now = System.currentTimeMillis()
    val (expired, kept) = state.tombstones.partition { case (_, stamp) =>
      // a tombstone with no committed flip time is unreachable by
      // construction (tombstones are written in the same atomic flip as
      // their commit line); treat it as immediately expired if ever seen
      now - state.committed.getOrElse(stamp, 0L) >= graceMs
    }
    if (expired.isEmpty) return Nil
    val deleted = expired.keys.toSeq.sorted.map { name =>
      fs.delete(new org.apache.hadoop.fs.Path(partDir, name), false)
      name
    }
    // prune committed stamps that own no remaining file (neither live
    // compacted-<stamp>-* nor a still-kept tombstone) — keeps the
    // manifest O(live generations), not O(compaction history)
    val remaining = fs.listStatus(partDir).map(_.getPath.getName)
      .collect { case n @ CompactedName(s, _) => (n, s) }
    val referenced = remaining.map(_._2).toSet ++ kept.values.toSet
    writeCompactionState(spark, partDir,
      CompactionState(state.committed.filter { case (s, _) => referenced.contains(s) }, kept))
    deleted
  }

  /** Table-level tombstone sweep — the maintenance step that reclaims the
    * space of originals whose grace has expired. Per-partition locked
    * (skips partitions a live compactor holds); returns deleted file
    * paths. Run it where you run compaction; with the default
    * `compactPartition(sweepGraceMs = 0)` there is usually nothing left
    * to sweep, and with a production grace (≥ the longest query) this is
    * the "vacuum".
    */
  def sweepCompacted(spark: SparkSession, tablePath: String, graceMs: Long = 0L): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    dataDirs(fs, fs.makeQualified(root)).flatMap { partDir =>
      if (!readCompactionState(spark, partDir).exists(_.tombstones.nonEmpty)) Nil
      else {
        val rel = partDir.toString.stripPrefix(fs.makeQualified(root).toString)
          .stripPrefix("/")
        tryPartitionLock(fs, tablePath, rel).fold(Seq.empty[String]) { lock =>
          try sweepPartitionLocked(spark, fs, partDir, graceMs)
            .map(n => new org.apache.hadoop.fs.Path(partDir, n).toString)
          finally fs.delete(lock, false)
        }
      }
    }
  }

  /** Take the exclusive lock of partition `partPath` (table-relative; empty
    * for an unpartitioned table), the one lock [[compactPartition]] and
    * [[sweepCompacted]] both take: it serializes the manifest
    * read-modify-write between compactors and sweepers of ONE partition;
    * readers never take it. None when it is held. The lock is a
    * create-exclusive file, atomic on HDFS; object stores without atomic
    * create should front it with their own conditional-put, the same
    * caveat as every rename-based committer there.
    */
  private def tryPartitionLock(fs: org.apache.hadoop.fs.FileSystem, tablePath: String,
                               partPath: String): Option[org.apache.hadoop.fs.Path] = {
    val lockDir = new org.apache.hadoop.fs.Path(s"$tablePath/.compact_locks")
    fs.mkdirs(lockDir)
    val lock = new org.apache.hadoop.fs.Path(lockDir,
      (if (partPath.isEmpty) "_root" else partPath.replace("/", "__")) + ".lock")
    val locked = try fs.createNewFile(lock) catch { case _: java.io.IOException => false }
    if (locked) Some(lock) else None
  }

  /** Every dir under `root` (root included) that holds at least one
    * parquet file — the partition dirs of a hive layout, or the root
    * itself for an unpartitioned table. Dot/underscore auxiliary dirs are
    * skipped.
    */
  private def dataDirs(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] = dataDirListings(fs, root).map(_._1)

  /** [[dataDirs]] with each dir's listing attached — the ONE recursive
    * walk readers and sweepers share, so neither re-lists a dir it just
    * traversed (driver-side metadata RPCs are the cost that dominates at
    * many-partition scale on object stores).
    */
  private def dataDirListings(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path)
      : Seq[(org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus])] = {
    val entries = fs.listStatus(root)
    val here = if (entries.exists(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      Seq((root, entries)) else Nil
    here ++ entries
      .filter(e => e.isDirectory && !e.getPath.getName.startsWith(".") &&
        !e.getPath.getName.startsWith("_"))
      .flatMap(d => dataDirListings(fs, d.getPath))
  }

  /** Repair interrupted [[compactPartition]] runs at writer STARTUP.
    *
    * Manifest-era runs (r13+) need only garbage collection: a crash
    * before the flip leaves `compacted-<stamp>-*` files whose stamp is
    * uncommitted in the partition's manifest — invisible to every
    * resolving reader, deleted here; a crash after the flip is already a
    * complete commit (tombstoned originals fall to the next
    * [[sweepCompacted]]). No restore step exists because originals are
    * never moved.
    *
    * LEGACY (pre-manifest) crashed swaps are still repaired: every dir
    * under `.compact_trash/<stamp>/` is a swap that did not complete —
    * drop the `compacted-<stamp>-*` files that made it into the affected
    * partitions, restore the originals. Files named
    * `compacted-<otherStamp>-*` are prior-compaction ORIGINALS and must
    * survive recovery. Returns the restored partition paths.
    *
    * Assumes no compactor is live (it clears the lock files); the
    * reference's equivalent is offset-based replay.
    */
  def recoverCompaction(spark: SparkSession, tablePath: String): Seq[String] = {
    val unqualified = new org.apache.hadoop.fs.Path(s"$tablePath/.compact_trash")
    val fs = unqualified.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def clearAux(): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.compact_tmp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/.compact_locks"), true)
    }
    // manifest-era GC: uncommitted compacted files are crashed-run garbage
    val rootPath = new org.apache.hadoop.fs.Path(tablePath)
    if (fs.exists(rootPath)) {
      dataDirs(fs, fs.makeQualified(rootPath)).foreach { partDir =>
        readCompactionState(spark, partDir).foreach { state =>
          fs.listStatus(partDir)
            .filter(f => f.getPath.getName.endsWith(".parquet") &&
              !state.isLive(f.getPath.getName) &&
              !state.tombstones.contains(f.getPath.getName))
            .foreach(f => fs.delete(f.getPath, false))
        }
      }
    }
    if (!fs.exists(unqualified)) { clearAux(); return Nil }
    // qualify so prefix-stripping below matches listStatus's URIs
    val trashRoot = fs.makeQualified(unqualified)
    // every dir under the run's trash that DIRECTLY holds files mirrors a
    // partition dir — including the run root itself (an UNPARTITIONED
    // table's crashed swap trashes its originals straight under
    // .compact_trash/<stamp>/, and a dir mixing files with subdirs must
    // restore its own files too; a leaf-dirs-only walk would skip both
    // and the final trash delete below would destroy the only copy)
    def fileDirs(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val entries = fs.listStatus(p)
      val here = if (entries.exists(_.isFile)) Seq(p) else Nil
      here ++ entries.filter(_.isDirectory).toSeq.flatMap(d => fileDirs(d.getPath))
    }
    val restored = fs.listStatus(trashRoot).filter(_.isDirectory).toSeq.flatMap { runDir =>
      val stamp = runDir.getPath.getName
      val runRoot = fs.makeQualified(runDir.getPath)
      fileDirs(runRoot).map { trashDir =>
        val rel = trashDir.toString.stripPrefix(runRoot.toString).stripPrefix("/")
        val dir = new org.apache.hadoop.fs.Path(
          if (rel.isEmpty) tablePath else s"$tablePath/$rel")
        fs.mkdirs(dir)
        // originals are authoritative: drop this run's half-moved compacted
        // files (and only those) …
        fs.listStatus(dir)
          .filter(_.getPath.getName.startsWith(s"compacted-$stamp-"))
          .foreach(f => fs.delete(f.getPath, false))
        // … and move the originals back (FILES only: a subdir here is
        // its own mirrored partition, restored by its own fileDirs entry)
        fs.listStatus(trashDir).filter(_.isFile).foreach(f =>
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dir, f.getPath.getName)))
        dir.toString
      }
    }
    fs.delete(trashRoot, true)
    clearAux()
    restored
  }

  /** P9/ST4: day-close markers — an empty `_DONE` file in every
    * (event_type, day) partition whose day is strictly before
    * `closedBefore`, so downstream batch consumers can poll "is day D
    * complete?" exactly like the reference's checkpoint files
    * (reference: readers/hdfs/src/main/java/.../writer/
    * DelayedDailyPathComputer.java:19-23, offset/FsBasedCheckpointer.java:45-60).
    * Pass `closedBefore = day(current watermark)`: Spark's watermark
    * already carries the lateness grace (the reference's temporalDelay),
    * so a day is closed once the watermark leaves it. Idempotent; returns
    * newly created marker paths.
    */
  def writeDayCloseMarkers(spark: SparkSession, tablePath: String,
                           closedBefore: java.time.LocalDate): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val typeRoots = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("event_type="))
      .map(_.getPath)
    markClosedDayDirs(fs, typeRoots, closedBefore)
  }

  /** The one copy of the day-close marker protocol: under each root, every
    * `day=` dir strictly before `closedBefore` gets an idempotent `_DONE`.
    * Shared by [[writeDayCloseMarkers]] (event_type=/day= layout) and
    * [[EventRouter.closeDays]] (per-type tables, day= at the root).
    */
  private[streaming] def markClosedDayDirs(fs: org.apache.hadoop.fs.FileSystem,
                                           roots: Seq[org.apache.hadoop.fs.Path],
                                           closedBefore: java.time.LocalDate): Seq[String] =
    for {
      root <- roots
      if fs.exists(root)
      dayDir <- fs.listStatus(root).toSeq
      if dayDir.isDirectory && dayDir.getPath.getName.startsWith("day=")
      // a non-date partition dir (day=__HIVE_DEFAULT_PARTITION__ from a
      // null-timestamp event) must not crash the whole sweep — skip it;
      // it can never be "closed" by a watermark anyway
      day <- scala.util.Try(java.time.LocalDate.parse(
        dayDir.getPath.getName.stripPrefix("day="))).toOption.toSeq
      if day.isBefore(closedBefore)
      marker = new org.apache.hadoop.fs.Path(dayDir.getPath, "_DONE")
      if !fs.exists(marker)
    } yield {
      fs.create(marker).close()
      marker.toString
    }

  /** The day the watermark closes: everything strictly before
    * `day(watermarkMillis)` is final (UTC bucketing, P8).
    */
  def closedDayFromWatermark(watermarkMillis: Long): java.time.LocalDate =
    java.time.Instant.ofEpochMilli(watermarkMillis).atZone(java.time.ZoneOffset.UTC).toLocalDate

  /** Q12: retention — drop day partitions older than `retainDays` relative
    * to `today` (the reference's ILM hot→warm→delete collapses to partition
    * removal on a partitioned table).
    */
  def dropExpiredPartitions(spark: SparkSession, tablePath: String, eventType: String,
                            today: java.time.LocalDate, retainDays: Int): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(s"$tablePath/event_type=$eventType")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil
    // see isStreamLogTracked: deleting files a FileStreamSink log still
    // references corrupts every read of the table
    if (isStreamLogTracked(fs, tablePath)) return Nil
    val cutoff = today.minusDays(retainDays.toLong)
    fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        // skip non-date dirs (null-timestamp partition) — see the
        // marker sweep; retention never ages out what it cannot date
        p.getName.startsWith("day=") &&
          scala.util.Try(java.time.LocalDate.parse(p.getName.stripPrefix("day=")))
            .toOption.exists(_.isBefore(cutoff))
      }
      .map { p => fs.delete(p, true); p.toString }
  }

  /** The serving-read companion to [[registerTable]]: (re)register `name`
    * as a TEMP VIEW over the manifest-resolved live file list
    * ([[readIsolated]]). A catalog `USING parquet` table resolves by
    * directory LISTING, which double-counts a partition during its grace
    * window (post-flip, pre-sweep — originals and compacted files are
    * both on disk by design); this view resolves through the compaction
    * manifest, so a query through `spark.table(name)` sees exactly one
    * complete snapshot at every instant. The view PINS the snapshot at
    * registration: re-register on the serving cadence (cheap — one
    * driver-side listing, the same walk a plain read pays) to pick up
    * newly appended data, and size `sweepGraceMs` ≥ registration
    * staleness + the longest query so a pinned file list outlives its
    * queries — the same contract as every [[readIsolated]] reader.
    * Dashboards/serving readers of a compacting table should query
    * through this (or call [[readIsolated]] directly); [[registerTable]]
    * remains the Hive-DDL surface, correct for listers only at the
    * default `sweepGraceMs = 0`.
    */
  def registerIsolatedView(spark: SparkSession, name: String, path: String,
                           subdir: String = ""): Unit =
    readIsolated(spark, path, subdir).createOrReplaceTempView(name)

  /** S9: register the dump as a partitioned external table in the catalog. */
  def registerTable(spark: SparkSession, name: String, path: String): Unit = {
    // backquote the identifier and escape the location: a path with a
    // single quote (user dirs do contain them) broke the statement, and
    // raw interpolation is an injection surface besides
    require(!name.contains("`"), s"table name cannot contain backquotes: $name")
    // quote each dotted part separately so qualified names (db.table)
    // keep their namespace structure
    val quotedName = name.split('.').map(p => "`" + p + "`").mkString(".")
    // backslash-escape BOTH backslashes and quotes (escaping only the
    // quote leaves a literal backslash free to eat the escape, and under
    // spark.sql.parser.escapedStringLiterals=true backslashes are literal
    // so no escape exists at all — refuse loudly there rather than let a
    // quoted path terminate the literal early)
    if (spark.conf.getOption("spark.sql.parser.escapedStringLiterals").contains("true"))
      require(!path.contains("'") && !path.contains("\\"),
        s"registerTable: path contains a quote or backslash but " +
          "spark.sql.parser.escapedStringLiterals=true leaves no way to " +
          s"escape it in a SQL string literal: $path")
    val quotedPath = path.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $quotedName USING parquet LOCATION '$quotedPath'")
    spark.sql(s"MSCK REPAIR TABLE $quotedName")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.multimodal.{IncrementalPairs, JdkMedia, PairCuration}
import graft.operators.{KeyedHistory, Manifests}

/** Incremental (streaming) cross-modal pair store: admission against
  * history on both legs, replay idempotence by committed high-water
  * mark, crash-attempt invisibility — and the band-indexed layout:
  * partition-pruned probes, layout-preserving maintenance under the
  * store lock, flat-store migration.
  */
class IncrementalPairsSpec extends SparkSpecBase {
  import spark.implicits._

  private val cfg = PairCuration.Config(minCaptionTokens = 2, meanTol = 2.0)

  private def png(v: Int) = JdkMedia.solidPng(8, 8, v, v, v)

  private def xxhash64Lit(s: String): Long =
    spark.range(1).select(xxhash64(lit(s))).as[Long].head()
  private def xxhash64SaltedLit(s: String): Long =
    spark.range(1).select(xxhash64(lit(1L), lit(s))).as[Long].head()

  /** Run `body` and return the tasks Spark warned were over its 1 000 KiB
    * recommendation (`TaskSetManager`: "contains a task of very large size").
    */
  private def largeTaskWarnings(body: => Unit): Seq[String] = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "graft-task-size-probe", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(event: org.apache.logging.log4j.core.LogEvent): Unit = {
        val msg = event.getMessage.getFormattedMessage
        if (msg.contains("task of very large size")) collected.add(msg)
      }
    }
    appender.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try { body; collected.toArray(Array.empty[String]).toSeq }
    finally {
      root.removeAppender("graft-task-size-probe")
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("batch 2 pairs matching batch 1 history drop on the right leg; novel pairs admit; replay skips") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_").toString
    val accepted = s"$root/accepted"
    // batch 1: three pairs, distinct images (luma 0/60/120), distinct captions
    val b1 = Seq(
      (1L, png(0), "alpha beta gamma"),
      (2L, png(60), "delta epsilon zeta"),
      (3L, png(120), "eta theta iota"))
      .toDF("pair_id", "image", "caption")
    val led1 = IncrementalPairs.processBatch(b1, 0L, root, accepted, cfg = cfg).toMap
    assert(led1("admitted") == 3, led1.toString)
    assert(led1("history_image_dup") == 0 && led1("history_caption_dup") == 0)
    assert(IncrementalPairs.committedBatchId(spark, root).contains(0L))

    // batch 2: 11 = image dup of 1 (same luma, fresh caption);
    // 12 = caption dup of 2 (fresh luma, same caption string);
    // 13 = novel on both legs
    val b2 = Seq(
      (11L, png(0), "fresh caption one"),
      (12L, png(180), "delta epsilon zeta"),
      (13L, png(240), "totally new words"))
      .toDF("pair_id", "image", "caption")
    val led2 = IncrementalPairs.processBatch(b2, 1L, root, accepted, cfg = cfg).toMap
    assert(led2("history_image_dup") == 1, led2.toString)
    assert(led2("history_caption_dup") == 1, led2.toString)
    assert(led2("admitted") == 1, led2.toString)
    val ids = spark.read.parquet(accepted).select("pair_id").as[Long]
      .collect().toSet
    assert(ids == Set(1L, 2L, 3L, 13L), ids.toString)

    // replay of the COMMITTED batch 1: skip — no recompute, no re-append
    val replay = IncrementalPairs.processBatch(b2, 1L, root, accepted, cfg = cfg).toMap
    assert(replay == Map("replay_skipped" -> 1L), replay.toString)
    assert(spark.read.parquet(accepted).count() == 4)

    // survivors carry the pHash for downstream banding; history carries
    // features + caption hash pair, never image bytes or caption bytes
    // beyond the accepted table. Pre-fold, batch appends live in the L0
    // delta tier (readAll = partitioned base ∪ deltas; a plain read of
    // the table sees only the folded base)
    val hist = KeyedHistory.readAll(spark, s"$root/history",
      IncrementalPairs.historySchema)
    assert(hist.columns.toSet == Set("batch_id", "id", "ahash", "mean",
      "centered", "norm0", "cap_h", "cap_h2"), hist.columns.mkString(","))
    assert(hist.count() == 4)
    // the derived tables carry the PRECOMPUTED keys: 4 band-subset rows
    // per admitted image, one caption key row per admitted pair
    assert(KeyedHistory.readAll(spark, s"$root/bands",
      IncrementalPairs.bandsSchema).count() == 16)
    assert(KeyedHistory.readAll(spark, s"$root/captions",
      IncrementalPairs.captionsSchema).count() == 4)
    // the per-batch write shape IS the delta tier: one L0 file per table
    // per batch, not one per touched partition
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(KeyedHistory.l0ParquetFiles(fs,
      new org.apache.hadoop.fs.Path(s"$root/history")).size == 2)
    // layout stamped
    assert(IncrementalPairs.readLayout(spark, root)
      .contains(IncrementalPairs.Layout(IncrementalPairs.DefaultParts, cfg.maxHamming)))
  }

  // structured (non-uniform) test image: diverse pixel patterns give
  // diverse pHashes, so band keys spread over many store partitions —
  // solid PNGs all pHash to 0 and could never witness pruning
  private def patternPng(i: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) {
      val l = (i * 31 + x * 7 + y * 13 + (x * y * (i + 1)) % 97) % 256
      img.setRGB(x, y, (l << 16) | (l << 8) | l)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("probes read a STRICT SUBSET of the store's partitions (partition-pruned, bytes ∝ batch)") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_prune_").toString
    val accepted = s"$root/accepted"
    // 40 structurally distinct pairs spread keys over many pt partitions;
    // foldEvery = 1 folds the L0 delta into the partitioned base at the
    // commit, so the pruning witness below sees the base layout
    val b1 = (0 until 40).map(i =>
      (i.toLong, patternPng(i), s"seed caption c$i word")).toDF("pair_id", "image", "caption")
    IncrementalPairs.processBatch(b1, 0L, root, accepted, cfg = cfg,
      foldEvery = 1)

    def ptDirs(table: String): Set[String] = {
      val d = new java.io.File(s"$root/$table")
      d.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith(KeyedHistory.PartCol + "=")).map(_.getName).toSet
    }
    assert(ptDirs("bands").size > 4, "fixture too small to witness pruning")
    assert(ptDirs("captions").size > 1)

    // the PLANNED scan of a pruned read: partitions/files/bytes AFTER
    // partition pruning (Dataset.inputFiles ignores partition filters —
    // the scan node's selectedPartitions is the real planning-time list)
    def scanStats(df: org.apache.spark.sql.DataFrame): (Int, Long, Long) = {
      val scan = df.queryExecution.sparkPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in the probe plan"))
      val sel = scan.selectedPartitions
      (sel.partitionCount, sel.totalNumberOfFiles, sel.totalFileSize)
    }

    // a one-pair batch probes captions/ via its single caption key: the
    // pruned read plans a strict subset of the table's partitions/bytes
    val capSchema = spark.read.parquet(s"$root/captions")
      .drop(KeyedHistory.PartCol).schema
    val oneCap = Seq((xxhash64Lit("seed caption c7 word"),
      xxhash64SaltedLit("seed caption c7 word"))).toDF("cap_h", "cap_h2")
    val prunedCap = KeyedHistory.prunedRead(spark, s"$root/captions",
      IncrementalPairs.DefaultParts, Seq("cap_h", "cap_h2"), oneCap, capSchema)
    val (capParts, capFiles, capBytes) = scanStats(prunedCap)
    val (allCapParts, allCapFiles, allCapBytes) =
      scanStats(spark.read.parquet(s"$root/captions"))
    assert(capParts == 1 && capFiles >= 1)
    assert(capParts < allCapParts && capBytes < allCapBytes,
      s"caption probe planned $capParts/$allCapParts partitions, " +
        s"$capFiles/$allCapFiles files — not pruned")
    // the probed partition holds the seen caption (alongside whatever
    // other keys hash there — pruning is partition-level; the probe JOIN
    // does the exact match)
    assert(prunedCap.where(
      col("cap_h") === xxhash64Lit("seed caption c7 word") &&
        col("cap_h2") === xxhash64SaltedLit("seed caption c7 word"))
      .count() == 1)

    // the image leg the same way: one image's band-subset keys prune bands/
    val bandSchema = spark.read.parquet(s"$root/bands")
      .drop(KeyedHistory.PartCol).schema
    val img7 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(patternPng(7)))
    val ph7 = JdkMedia.phash64(JdkMedia.lumaGrid32(img7))
    val oneFeat = Seq((7L, ph7, 0.0, Seq.fill(16)(0.0), false))
      .toDF("id", "ahash", "mean", "centered", "norm0")
    val oneKeys = JdkMedia.bandSubsetKeys(oneFeat, 64, cfg.maxHamming)
      .select("t", "bk")
    val prunedBands = KeyedHistory.prunedRead(spark, s"$root/bands",
      IncrementalPairs.DefaultParts, Seq("t", "bk"), oneKeys, bandSchema)
    val (bandParts, bandFiles, bandBytes) = scanStats(prunedBands)
    val (allBandParts, allBandFiles2, allBandBytes) =
      scanStats(spark.read.parquet(s"$root/bands"))
    assert(bandParts <= 4, s"one image probes ≤ 4 band keys, planned $bandParts partitions")
    assert(bandParts < allBandParts && bandBytes < allBandBytes,
      s"band probe planned $bandParts/$allBandParts partitions, " +
        s"$bandFiles/$allBandFiles2 files — not pruned")

    // end-to-end: the pruned probe still catches a dup on each leg (the
    // exact image of pair 7, the exact caption of pair 9) and admits the
    // novel pair — solid novel images cannot near-dup the patterned seeds
    // (not both-uniform, near-zero centered cosine) nor each other (mean
    // gap 150 ≫ meanTol)
    val b2 = Seq(
      (100L, patternPng(7), "resubmitted under new caption"),
      (101L, png(250), "seed caption c9 word"),
      (102L, png(100), "entirely novel caption here"))
      .toDF("pair_id", "image", "caption")
    val led = IncrementalPairs.processBatch(b2, 1L, root, accepted, cfg = cfg).toMap
    assert(led("history_image_dup") == 1, led.toString)
    assert(led("history_caption_dup") == 1, led.toString)
    assert(led("admitted") == 1, led.toString)
  }

  test("a crashed attempt's partial store appends are invisible: replay recomputes against the committed prefix; maintenance reclaims, preserving the layout") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_crash_").toString
    val accepted = s"$root/accepted"
    val b1 = Seq((1L, png(0), "alpha beta gamma"))
      .toDF("pair_id", "image", "caption")
    IncrementalPairs.processBatch(b1, 0L, root, accepted, cfg = cfg)
    // simulate batch 1 crashing AFTER its store appends but BEFORE the
    // manifest flip: rows stamped batch_id=1 exist in all three tables,
    // high-water mark is 0. A solid image has ahash=0 (all pixels = mean)
    // so its four band-subset keys are (t, bk=0) — exactly what the
    // crashed attempt would have written.
    val P = IncrementalPairs.DefaultParts
    val histRow = Seq((1L, 21L, 0L, 90.0, Seq.fill(16)(0.0), true,
      xxhash64Lit("brand new pair"), xxhash64SaltedLit("brand new pair")))
      .toDF("batch_id", "id", "ahash", "mean", "centered", "norm0",
        "cap_h", "cap_h2")
    KeyedHistory.append(histRow, s"$root/history", P, Seq("id"), l0 = true)
    KeyedHistory.append(
      (0 until 4).map(t => (1L, t, 0L, 21L)).toDF("batch_id", "t", "bk", "id"),
      s"$root/bands", P, Seq("t", "bk"), l0 = true)
    KeyedHistory.append(
      Seq((1L, xxhash64Lit("brand new pair"), xxhash64SaltedLit("brand new pair")))
        .toDF("batch_id", "cap_h", "cap_h2"),
      s"$root/captions", P, Seq("cap_h", "cap_h2"), l0 = true)
    // the replayed batch must NOT see the crashed attempt's rows on any
    // leg (it would self-collide and be dropped = permanent loss); it
    // recomputes against committed batch 0 only and admits
    val b2 = Seq((21L, png(90), "brand new pair"))
      .toDF("pair_id", "image", "caption")
    val led = IncrementalPairs.processBatch(b2, 1L, root, accepted, cfg = cfg).toMap
    assert(led("admitted") == 1, led.toString)
    assert(spark.read.parquet(accepted).select("pair_id").as[Long]
      .collect().toSet == Set(1L, 21L))
    // maintenance reclaims the crashed attempt's now-duplicate rows:
    // 1 history row + 4 band rows + 1 caption row (each collapsing onto
    // the committed replay's identical keys) = 6 removals
    assert(KeyedHistory.readAll(spark, s"$root/history",
      IncrementalPairs.historySchema).count() == 3)
    assert(IncrementalPairs.compactHistory(spark, root) == 6L)
    val hist = KeyedHistory.readAll(spark, s"$root/history",
      IncrementalPairs.historySchema)
    assert(hist.count() == 2)
    assert(hist.select("id").as[Long].collect().toSet == Set(1L, 21L))
    // idempotent: nothing more to reclaim
    assert(IncrementalPairs.compactHistory(spark, root) == 0L)
    // the rewrite PRESERVED the hash-partitioned layout: partition dirs
    // exist and a later batch still dedups through the pruned probes
    Seq("history", "bands", "captions").foreach { tbl =>
      val dirs = new java.io.File(s"$root/$tbl").listFiles()
        .filter(f => f.isDirectory &&
          f.getName.startsWith(KeyedHistory.PartCol + "="))
      assert(dirs.nonEmpty, s"$tbl lost its partitioned layout")
    }
    val b3 = Seq((31L, png(90), "post maintenance novel caption"))
      .toDF("pair_id", "image", "caption")
    val led3 = IncrementalPairs.processBatch(b3, 2L, root, accepted, cfg = cfg).toMap
    assert(led3("history_image_dup") == 1, led3.toString) // image dup of 21
    assert(led3("admitted") == 0, led3.toString)
  }

  test("caption Bloom front: gens flip per batch, a LOST bloom on a live store fails loudly, compactHistory rebuilds it") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_bloom_").toString
    val accepted = s"$root/accepted"
    IncrementalPairs.processBatch(
      Seq((1L, png(0), "alpha beta gamma"), (2L, png(60), "delta epsilon zeta"))
        .toDF("pair_id", "image", "caption"),
      0L, root, accepted, cfg = cfg)
    val cur0 = Manifests.read(spark, s"$root/caption_bloom/_CURRENT")
    assert(cur0.isDefined, "batch 0 must publish a bloom generation")
    // the bloom KNOWS batch 0's captions (no false negatives): the dup
    // caption is caught, through the two-tier path
    val led = IncrementalPairs.processBatch(
      Seq((11L, png(120), "delta epsilon zeta"), (12L, png(180), "novel cap here"))
        .toDF("pair_id", "image", "caption"),
      1L, root, accepted, cfg = cfg).toMap
    assert(led("history_caption_dup") == 1, led.toString)
    assert(led("admitted") == 1, led.toString)
    val cur1 = Manifests.read(spark, s"$root/caption_bloom/_CURRENT")
    assert(cur1 != cur0, "each batch flips a fresh bloom generation")

    // a LOST bloom on a live store would mean false negatives: loud
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/caption_bloom"), true)
    val e = intercept[IllegalArgumentException] {
      IncrementalPairs.processBatch(
        Seq((21L, png(30), "whatever words these")).toDF("pair_id", "image", "caption"),
        2L, root, accepted, cfg = cfg)
    }
    assert(e.getMessage.contains("compactHistory"), e.getMessage)
    // the named rebuild restores it — re-sized, orphans swept — and the
    // store dedups correctly again
    IncrementalPairs.compactHistory(spark, root)
    assert(Manifests.read(spark, s"$root/caption_bloom/_CURRENT").isDefined)
    val led2 = IncrementalPairs.processBatch(
      Seq((21L, png(30), "alpha beta gamma"), (22L, png(90), "fresh one here"))
        .toDF("pair_id", "image", "caption"),
      2L, root, accepted, cfg = cfg).toMap
    assert(led2("history_caption_dup") == 1, led2.toString)
    assert(led2("admitted") == 1, led2.toString)
    // every flip sweeps superseded pieces: at most one live base + the
    // current delta chain, never an accumulating gen per batch
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/caption_bloom"))
      .filter(_.getPath.getName.startsWith("gen-"))
    assert(gens.length == 1, gens.map(_.getPath.getName).mkString(","))

    // small batches append EXACT-KEY DELTAS (no base rewrite); a batch
    // pushing the accumulated delta keys past max(8, baseKeys/16) FOLDS
    // the chain into one new base
    val st0 = Manifests.read(spark, s"$root/caption_bloom/_CURRENT").get
    assert(st0.linesIterator.exists(_.startsWith("delta ")), st0)
    val b3 = (0 until 12).map(k => (100L + k, png(131 + 9 * k),
      s"fold caption number c$k here")).toDF("pair_id", "image", "caption")
    val led3 = IncrementalPairs.processBatch(b3, 3L, root, accepted, cfg = cfg).toMap
    assert(led3("admitted") == 12, led3.toString)
    val st1 = Manifests.read(spark, s"$root/caption_bloom/_CURRENT").get
    assert(st1.linesIterator.count(_.startsWith("base ")) == 1, st1)
    assert(!st1.linesIterator.exists(_.startsWith("delta ")), st1)
    // the folded base still refuses a re-arrival through the two-tier path
    val led4 = IncrementalPairs.processBatch(
      Seq((200L, png(77), "fold caption number c5 here"))
        .toDF("pair_id", "image", "caption"),
      4L, root, accepted, cfg = cfg).toMap
    assert(led4("history_caption_dup") == 1, led4.toString)
    assert(led4("admitted") == 0, led4.toString)
  }

  test("maintenance racing a live batch fails LOUDLY (single-writer store lock); torn locks reclaim") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_lock_").toString
    val accepted = s"$root/accepted"
    IncrementalPairs.processBatch(
      Seq((1L, png(0), "alpha beta gamma")).toDF("pair_id", "image", "caption"),
      0L, root, accepted, cfg = cfg)
    // a live batch holds the lock (fresh timestamp): maintenance refuses
    val lockPath = java.nio.file.Paths.get(root, ".store_lock")
    java.nio.file.Files.write(lockPath,
      "1\ntest-nonce\n".getBytes)
    val e = intercept[IllegalStateException] {
      IncrementalPairs.compactHistory(spark, root)
    }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    // and the reverse: a batch refuses while maintenance holds the lock
    java.nio.file.Files.write(lockPath,
      "\ntest-nonce\n".getBytes)
    val e2 = intercept[IllegalStateException] {
      IncrementalPairs.processBatch(
        Seq((2L, png(50), "some new caption")).toDF("pair_id", "image", "caption"),
        1L, root, accepted, cfg = cfg)
    }
    assert(e2.getMessage.contains("single-writer"), e2.getMessage)
    // a RETRY of the SAME batch against a STILL-HEARTBEATING predecessor
    // refuses (zombie protection: two live drivers can never both hold
    // the lock), naming the retry grace
    java.nio.file.Files.write(lockPath,
      "1\ndead-nonce\n".getBytes)
    val zombie = intercept[IllegalStateException] {
      IncrementalPairs.processBatch(
        Seq((2L, png(50), "some new caption")).toDF("pair_id", "image", "caption"),
        1L, root, accepted, cfg = cfg)
    }
    assert(zombie.getMessage.contains("retry of batch 1"), zombie.getMessage)
    // once the predecessor's heartbeat has been quiet past the retry
    // grace, the same-batch retry reclaims WITHOUT waiting the full
    // stale grace (minutes, not an hour, after a driver crash)
    java.nio.file.Files.setLastModifiedTime(lockPath,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 4 * 60 * 1000L))
    val led = IncrementalPairs.processBatch(
      Seq((2L, png(50), "some new caption")).toDF("pair_id", "image", "caption"),
      1L, root, accepted, cfg = cfg).toMap
    assert(led("admitted") == 1, led.toString)
    assert(!java.nio.file.Files.exists(lockPath), "lock not released")

    // a TORN lock (crashed holder: heartbeat mtime gone stale) is
    // reclaimed by ANY operation
    java.nio.file.Files.write(lockPath, "99\ndead-nonce\n".getBytes)
    java.nio.file.Files.setLastModifiedTime(lockPath,
      java.nio.file.attribute.FileTime.fromMillis(12345L))
    val led2 = IncrementalPairs.processBatch(
      Seq((3L, png(110), "one more novel caption")).toDF("pair_id", "image", "caption"),
      2L, root, accepted, cfg = cfg).toMap
    assert(led2("admitted") == 1, led2.toString)
    assert(!java.nio.file.Files.exists(lockPath), "lock not released")
  }

  test("layout drift is refused loudly; a flat (pre-index) store migrates via indexHistory") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_migrate_").toString
    val accepted = s"$root/accepted"
    IncrementalPairs.processBatch(
      Seq((1L, png(0), "alpha beta gamma"), (2L, png(60), "delta epsilon zeta"))
        .toDF("pair_id", "image", "caption"),
      0L, root, accepted, cfg = cfg)
    // drifted parts: refused before any probe can silently miss
    val drift = intercept[IllegalArgumentException] {
      IncrementalPairs.processBatch(
        Seq((3L, png(120), "eta theta iota")).toDF("pair_id", "image", "caption"),
        1L, root, accepted, cfg = cfg, parts = 8)
    }
    assert(drift.getMessage.contains("layout drift"), drift.getMessage)

    // strip the store back to the r13-era FLAT shape: flat history/, no
    // derived tables, no layout stamp (readAll: the live store's rows
    // sit in the L0 delta tier pre-fold)
    val flat = KeyedHistory.readAll(spark, s"$root/history",
      IncrementalPairs.historySchema).localCheckpoint(true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("history", "bands", "captions", IncrementalPairs.LayoutName).foreach(t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$t"), true))
    flat.write.parquet(s"$root/history")
    flat.unpersist()

    // a batch against the un-indexed store is refused with the migration hint
    val legacy = intercept[IllegalArgumentException] {
      IncrementalPairs.processBatch(
        Seq((3L, png(120), "eta theta iota")).toDF("pair_id", "image", "caption"),
        1L, root, accepted, cfg = cfg)
    }
    assert(legacy.getMessage.contains("indexHistory"), legacy.getMessage)

    // migrate, then the store behaves identically: image dup of 1,
    // caption dup of 2, novel admitted
    IncrementalPairs.indexHistory(spark, root, maxHamming = cfg.maxHamming)
    assert(spark.read.parquet(s"$root/bands").count() == 8) // 2 ids × 4 subsets
    assert(spark.read.parquet(s"$root/captions").count() == 2)
    val led = IncrementalPairs.processBatch(
      Seq((11L, png(0), "fresh caption one"),
        (12L, png(180), "delta epsilon zeta"),
        (13L, png(240), "totally new words"))
        .toDF("pair_id", "image", "caption"),
      1L, root, accepted, cfg = cfg).toMap
    assert(led("history_image_dup") == 1, led.toString)
    assert(led("history_caption_dup") == 1, led.toString)
    assert(led("admitted") == 1, led.toString)

    // RESUME: a migration that crashed AFTER its history swap (the
    // hours-long derived phase at corpus scale) leaves a partitioned
    // history, the PENDING parameter stamp, and no final layout stamp —
    // re-running indexHistory must resume (rebuild the derived tables),
    // not refuse; and it must refuse DRIFTED resume parameters loudly
    Seq("bands", "captions", "caption_bloom")
      .foreach(t => fs.delete(new org.apache.hadoop.fs.Path(s"$root/$t"), true))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$root/${IncrementalPairs.LayoutName}"),
      new org.apache.hadoop.fs.Path(s"$root/${IncrementalPairs.LayoutName}.pending")))
    val driftedResume = intercept[IllegalArgumentException] {
      IncrementalPairs.indexHistory(spark, root, parts = 8,
        maxHamming = cfg.maxHamming)
    }
    assert(driftedResume.getMessage.contains("ORIGINAL"), driftedResume.getMessage)
    IncrementalPairs.indexHistory(spark, root, maxHamming = cfg.maxHamming)
    val led2 = IncrementalPairs.processBatch(
      Seq((21L, png(0), "after resume fresh cap"),
        (22L, png(250), "entirely new after resume"))
        .toDF("pair_id", "image", "caption"),
      2L, root, accepted, cfg = cfg).toMap
    assert(led2("history_image_dup") == 1, led2.toString) // image dup of 1
    assert(led2("admitted") == 1, led2.toString)
  }

  test("auto minor fold: a stream-only store's file count stays BOUNDED across batches (the metadata plane), and dedup survives the fold") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_fold_").toString
    val accepted = s"$root/accepted"
    def parquetFiles(table: String): Int = {
      val base = java.nio.file.Paths.get(root, table)
      if (!java.nio.file.Files.exists(base)) 0
      else {
        val s = java.nio.file.Files.walk(base)
        try s.filter(p => p.toString.endsWith(".parquet")).count().toInt
        finally s.close()
      }
    }
    // 7 two-pair batches, folding every 3. Solid PNGs all pHash to 0, so
    // EVERY batch appends its band keys into the SAME 4 (t, bk=0)
    // partitions — the production shape where hot partitions accumulate
    // one small file per batch and per-probe listing grows with batch
    // count unless the store self-folds.
    for (b <- 0 until 7) {
      val led = IncrementalPairs.processBatch(
        Seq((b * 10L, png(b * 30), s"fold test caption number $b"),
          (b * 10L + 1, png(b * 30 + 15), s"second caption of batch $b"))
          .toDF("pair_id", "image", "caption"),
        b.toLong, root, accepted, cfg = cfg, foldEvery = 3).toMap
        assert(led.contains("admitted"), led.toString)
    }
    // unfolded, the 4 hot band partitions would hold 7 files each (28);
    // folds at batches 2 and 5 merge each dir's accumulation into one
    // sorted file, leaving ≤ (1 merged + fresh-since-fold) per dir
    val bandFiles = parquetFiles("bands")
    assert(bandFiles <= 12, s"bands/ holds $bandFiles files — fold not bounding")
    // the folded store still dedups BOTH legs: batch 0's image (near-dup
    // band probe through merged files) and a batch-1 caption (seen-set +
    // pruned exact confirm through merged files)
    val led = IncrementalPairs.processBatch(
      Seq((100L, png(0), "entirely fresh caption words"),
        (101L, png(200), "second caption of batch 1"),
        (102L, png(220), "genuinely novel admitted pair"))
        .toDF("pair_id", "image", "caption"),
      7L, root, accepted, cfg = cfg, foldEvery = 3).toMap
    assert(led("history_image_dup") == 1, led.toString)
    assert(led("history_caption_dup") == 1, led.toString)
    assert(led("admitted") == 1, led.toString)
    // a full compactHistory after folds still reconciles cleanly
    assert(IncrementalPairs.compactHistory(spark, root) == 0L)
  }

  test("baseCache is byte-budgeted ACROSS stores: an idle store's base evicts LRU under a small budget; the evicted store still dedups (one re-read, no correctness change)") {
    val budget0 = IncrementalPairs.baseCacheMaxBytes
    try {
      // each store's base filter is ~1 MB of bitset words (default
      // geometry); a 1.5 MB budget holds exactly one
      IncrementalPairs.baseCacheMaxBytes = 3L << 19
      val rootA = java.nio.file.Files.createTempDirectory("incpairs_lru_a_").toString
      val rootB = java.nio.file.Files.createTempDirectory("incpairs_lru_b_").toString
      IncrementalPairs.processBatch(
        Seq((1L, png(0), "store a caption one")).toDF("pair_id", "image", "caption"),
        0L, rootA, s"$rootA/accepted", cfg = cfg)
      // batch 1 on A probes through A's cached base
      IncrementalPairs.processBatch(
        Seq((2L, png(60), "store a caption two")).toDF("pair_id", "image", "caption"),
        1L, rootA, s"$rootA/accepted", cfg = cfg)
      assert(IncrementalPairs.baseCacheEntries.exists(_.startsWith(rootA)),
        IncrementalPairs.baseCacheEntries.mkString(","))
      // store B's probes push A's base out under the budget
      IncrementalPairs.processBatch(
        Seq((1L, png(0), "store b caption one")).toDF("pair_id", "image", "caption"),
        0L, rootB, s"$rootB/accepted", cfg = cfg)
      IncrementalPairs.processBatch(
        Seq((2L, png(60), "store b caption two")).toDF("pair_id", "image", "caption"),
        1L, rootB, s"$rootB/accepted", cfg = cfg)
      assert(IncrementalPairs.baseCacheBytes <= IncrementalPairs.baseCacheMaxBytes,
        s"cache ${IncrementalPairs.baseCacheBytes} B over budget " +
          s"${IncrementalPairs.baseCacheMaxBytes} B")
      assert(!IncrementalPairs.baseCacheEntries.exists(_.startsWith(rootA)),
        s"store A's base was not evicted: " +
          IncrementalPairs.baseCacheEntries.mkString(","))
      // the evicted store re-reads its base and still refuses its dup
      val led = IncrementalPairs.processBatch(
        Seq((3L, png(120), "store a caption one"),
          (4L, png(180), "store a novel three"))
          .toDF("pair_id", "image", "caption"),
        2L, rootA, s"$rootA/accepted", cfg = cfg).toMap
      assert(led("history_caption_dup") == 1, led.toString)
      assert(led("admitted") == 1, led.toString)
    } finally IncrementalPairs.baseCacheMaxBytes = budget0
  }

  test("probes through the cached caption base ship no task over 1 000 KiB") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_tasksize_").toString
    val accepted = s"$root/accepted"
    val warnings = largeTaskWarnings {
      IncrementalPairs.processBatch(
        Seq((1L, png(0), "task size caption one"), (2L, png(60), "task size caption two"))
          .toDF("pair_id", "image", "caption"), 0L, root, accepted, cfg = cfg)
      // batch 1 probes through batch 0's ~1 MB base filter, now cached
      val led = IncrementalPairs.processBatch(
        Seq((3L, png(120), "task size caption two"), (4L, png(180), "a novel caption here"))
          .toDF("pair_id", "image", "caption"), 1L, root, accepted, cfg = cfg).toMap
      assert(led("history_caption_dup") == 1 && led("admitted") == 1, led.toString)
    }
    assert(warnings.isEmpty, warnings.mkString("\n"))
  }

  test("release is nonce-confirmed: a lock reclaimed mid-run by another holder is NOT deleted on exit") {
    val root = java.nio.file.Files.createTempDirectory("incpairs_steal_").toString
    val accepted = s"$root/accepted"
    val lockPath = java.nio.file.Paths.get(root, ".store_lock")
    // run a batch on a worker thread; as soon as its lock appears,
    // overwrite it with a foreign holder's content (simulating a
    // post-stall retry reclaim). The batch must complete (its work was
    // already in flight) but its release must LEAVE the foreign lock.
    val done = new java.util.concurrent.CompletableFuture[Map[String, Long]]()
    val t = new Thread(() => {
      try done.complete(IncrementalPairs.processBatch(
        Seq((1L, png(0), "alpha beta gamma")).toDF("pair_id", "image", "caption"),
        0L, root, accepted, cfg = cfg).toMap)
      catch { case e: Throwable => done.completeExceptionally(e) }
    })
    t.start()
    // wait for the holder's COMPLETE lock line (create + write + close
    // are separate steps — overwriting mid-write would itself be
    // clobbered by the holder's flush) before stealing it
    val deadline = System.currentTimeMillis() + 60000
    def holderLine: String =
      if (!java.nio.file.Files.exists(lockPath)) ""
      else new String(java.nio.file.Files.readAllBytes(lockPath))
    while (!holderLine.endsWith("\n") && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    assert(holderLine.startsWith("0\n"), s"lock never written: '$holderLine'")
    java.nio.file.Files.write(lockPath,
      "0\nforeign-nonce\n".getBytes)
    val led = done.get(120, java.util.concurrent.TimeUnit.SECONDS)
    assert(led("admitted") == 1, led.toString)
    assert(java.nio.file.Files.exists(lockPath),
      "release deleted a lock it no longer owned")
    assert(new String(java.nio.file.Files.readAllBytes(lockPath))
      .contains("foreign-nonce"))
    java.nio.file.Files.delete(lockPath)
  }

  test("streaming restart: a re-offered batch under the same id is a no-op; the stream continues past it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("incpairs_stream_").toString
    val accepted = s"$root/accepted"
    val ckpt = java.nio.file.Files.createTempDirectory("incpairs_ckpt_").toString
    val in = MemoryStream[(Long, Array[Byte], String)]
    def start() = IncrementalPairs.curateStream(
      in.toDF().toDF("pair_id", "image", "caption"), root, accepted, cfg = cfg)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    in.addData((1L, png(0), "alpha beta gamma"))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(accepted).count() == 1)
    val hwm = IncrementalPairs.committedBatchId(spark, root).get

    // restart from the checkpoint: batch 0 is not re-offered as new data;
    // the next batch admits the novel pair and drops the image dup
    val q2 = start()
    in.addData((2L, png(0), "image dup caption"), (3L, png(200), "second novel pair"))
    q2.processAllAvailable()
    q2.stop()
    assert(IncrementalPairs.committedBatchId(spark, root).get > hwm)
    val ids = spark.read.parquet(accepted).select("pair_id").as[Long]
      .collect().toSet
    assert(ids == Set(1L, 3L), ids.toString)
  }
}

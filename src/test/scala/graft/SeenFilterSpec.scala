package graft

import org.apache.spark.sql.functions._

import graft.operators.{SeenFilter, TextAnalysis}
import graft.sources.Tables

/** Sharded Bloom seen-set: no false negatives ever, bounded false
  * positives, OR-merge equivalence, partitioning invariance, and the
  * two-tier admit path.
  */
class SeenFilterSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  test("no false negatives: every history doc is maybe_seen; filter is partitioning-invariant") {
    val filter = SeenFilter.buildFilter(docs, seed = 3L, kHashes = 5,
      mBits = 1 << 14, numShards = 4)
    val marked = SeenFilter.markSeen(docs, filter)
    assert(marked.where(!col("maybe_seen")).count() == 0,
      "a Bloom filter must never miss an inserted element")
    // rebuilt from a reshuffled history → identical words per shard
    val filter2 = SeenFilter.buildFilter(
      docs.orderBy(rand(11)).repartition(7), seed = 3L, kHashes = 5,
      mBits = 1 << 14, numShards = 4)
    assert(filter.select("shard", "words").exceptAll(
      filter2.select("shard", "words")).isEmpty,
      "OR fold must be independent of row order and partitioning")
  }

  test("false positives exist at small m, bounded near the analytic rate, and unseen-at-large-m is exact") {
    val history = docs.where(col("doc_id") % 3 =!= 0)
    val probe = docs.where(col("doc_id") % 3 === 0)
    // generous m: the probe half must come back (almost) entirely unseen
    val big = SeenFilter.buildFilter(history, seed = 3L, kHashes = 5,
      mBits = 1 << 18, numShards = 2)
    val fpBig = SeenFilter.markSeen(probe, big).where(col("maybe_seen")).count()
    assert(fpBig <= 1, s"at 2×2^18 bits the FP count should be ~0, got $fpBig")
    // tight m: FPs must appear (that is what the oracle replays) and stay
    // within ~3× of (1 − e^{−kn/m})^k
    val small = SeenFilter.buildFilter(history, seed = 3L, kHashes = 3,
      mBits = 1024, numShards = 4)
    val n = probe.count().toDouble
    val perShard = history.count().toDouble / 4
    val rate = math.pow(1 - math.exp(-3 * perShard / 1024), 3)
    val fpSmall = SeenFilter.markSeen(probe, small).where(col("maybe_seen")).count()
    assert(fpSmall > 0, "tight fixture must produce false positives")
    assert(fpSmall <= (3 * rate * n).ceil,
      s"FP count $fpSmall vs analytic ${rate * n} (n=$n, perShard=$perShard)")
  }

  test("mergeFilters(half1, half2) answers exactly like a filter built from the union") {
    val h1 = docs.where(col("doc_id") % 2 === 0)
    val h2 = docs.where(col("doc_id") % 2 =!= 0)
    val m = 1 << 12
    val merged = SeenFilter.mergeFilters(
      SeenFilter.buildFilter(h1, seed = 5L, kHashes = 4, mBits = m, numShards = 3),
      SeenFilter.buildFilter(h2, seed = 5L, kHashes = 4, mBits = m, numShards = 3))
    val whole = SeenFilter.buildFilter(docs, seed = 5L, kHashes = 4,
      mBits = m, numShards = 3)
    assert(merged.select("shard", "words").exceptAll(
      whole.select("shard", "words")).isEmpty &&
      whole.select("shard", "words").exceptAll(
        merged.select("shard", "words")).isEmpty)
    // mismatched geometry refuses loudly
    intercept[IllegalArgumentException] {
      SeenFilter.mergeFilters(whole,
        SeenFilter.buildFilter(h2, seed = 5L, kHashes = 4, mBits = 2 * m,
          numShards = 3)).collect()
    }
  }

  test("empty filter marks nothing seen; markSeen broadcasts the filter") {
    val empty = SeenFilter.buildFilter(docs.where(lit(false)))
    val marked = SeenFilter.markSeen(docs, empty)
    assert(marked.where(col("maybe_seen")).count() == 0)
    val filter = SeenFilter.buildFilter(docs)
    val plan = SeenFilter.markSeen(docs, filter)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("fp_version rides the filter and gates probes: stale or version-less filters fail loudly") {
    import graft.functions.{Functions => F}
    val filter = SeenFilter.buildFilter(docs, seed = 3L, kHashes = 5,
      mBits = 1 << 14, numShards = 4)
    assert(filter.select("fp_version").distinct().head.getInt(0) ==
      F.FingerprintVersion)
    // a filter persisted under the old (length-fold) fingerprint: its
    // bits answer a different arithmetic — probing must refuse, never
    // silently re-admit every duplicate
    val stale = filter.withColumn("fp_version", lit(1))
    val e1 = intercept[IllegalArgumentException] {
      SeenFilter.markSeen(docs, stale).collect()
    }
    assert(e1.getMessage.contains("fingerprint v1"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SeenFilter.markSeen(docs, filter.drop("fp_version")).collect()
    }
    assert(e2.getMessage.contains("predates"), e2.getMessage)
    intercept[IllegalArgumentException] {
      SeenFilter.mergeFilters(filter, stale).collect()
    }
    // merge of matching filters carries the version through
    assert(SeenFilter.mergeFilters(filter, filter)
      .select("fp_version").distinct().head.getInt(0) == F.FingerprintVersion)
  }

  test("store lifecycle: init → appendBatch (pre-batch marking, post-batch serving) → retry-idempotent → recover sweeps orphans") {
    import graft.operators.SeenFilterStore
    val root = java.nio.file.Files.createTempDirectory("bloomstore_").toString
    val hist = docs.where(col("doc_id") % 2 === 0)
    SeenFilterStore.init(spark,
      root, SeenFilter.buildFilter(hist, seed = 3L, kHashes = 5,
        mBits = 1 << 14, numShards = 4))
    val gen0 = SeenFilterStore.currentGen(spark, root).get
    // batch with genuinely new content: marked against the PRE-batch
    // filter → (almost) all unseen; after the append the store serves it
    val batch = docs.where(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), concat(col("text"), lit(" novel")).as("text"))
    val marked = SeenFilterStore.appendBatch(spark, root, batch)
    assert(marked.where(col("maybe_seen")).count() <= 1,
      "fresh content must be unseen against the pre-batch filter")
    assert(SeenFilterStore.currentGen(spark, root).get != gen0)
    val served = SeenFilterStore.currentFilter(spark, root)
    assert(SeenFilter.markSeen(batch, served).where(!col("maybe_seen"))
      .count() == 0, "the served generation must carry the append")
    // replaying the same batch is a no-op on the bits
    SeenFilterStore.appendBatch(spark, root, batch)
    val replayed = SeenFilterStore.currentFilter(spark, root)
    assert(served.select("shard", "words").exceptAll(
      replayed.select("shard", "words")).isEmpty,
      "OR-merge retry must not change membership")
    // recover drops every non-current generation (grace 0 for the test)
    val swept = SeenFilterStore.recover(spark, root, graceMs = 0L)
    assert(swept >= 2, s"expected the superseded generations swept, got $swept")
    assert(SeenFilter.markSeen(batch, SeenFilterStore.currentFilter(spark, root))
      .where(!col("maybe_seen")).count() == 0, "current gen must survive recover")
    intercept[IllegalStateException] {
      SeenFilterStore.currentFilter(spark,
        java.nio.file.Files.createTempDirectory("bloomstore_empty_").toString)
    }
  }

  test("append lock: a second writer refuses loudly; a crashed holder is age-swept and membership is the old generation, never torn") {
    import graft.operators.SeenFilterStore
    val root = java.nio.file.Files.createTempDirectory("bloomlock_").toString
    val hist = docs.where(col("doc_id") % 2 === 0)
    SeenFilterStore.init(spark, root,
      SeenFilter.buildFilter(hist, seed = 3L, kHashes = 5,
        mBits = 1 << 14, numShards = 4))
    val gen0 = SeenFilterStore.currentGen(spark, root).get
    val batch = docs.where(col("doc_id") % 2 =!= 0)
    // simulate a writer in flight (or crashed): the lock file exists
    val lockFile = java.nio.file.Paths.get(root, SeenFilterStore.AppendLockName)
    java.nio.file.Files.createFile(lockFile)
    val refused = intercept[IllegalArgumentException] {
      SeenFilterStore.appendBatch(spark, root, batch)
    }
    assert(refused.getMessage.contains("single-writer"))
    // crash-with-lock: membership is still the OLD generation (flip is
    // last), and recover sweeps the stale lock past the grace
    assert(SeenFilterStore.currentGen(spark, root).get == gen0,
      "a refused/crashed append must leave the old generation current")
    assert(java.nio.file.Files.exists(lockFile))
    SeenFilterStore.recover(spark, root, graceMs = 0L)
    assert(!java.nio.file.Files.exists(lockFile),
      "recover must sweep a stale lock")
    // a LIVE writer's lock survives recover under a real grace
    java.nio.file.Files.createFile(lockFile)
    SeenFilterStore.recover(spark, root, graceMs = 3600 * 1000L)
    assert(java.nio.file.Files.exists(lockFile),
      "recover must not sweep a fresh lock")
    java.nio.file.Files.delete(lockFile)
    // with the lock released, the append proceeds and cleans up after
    // itself (no lock left behind)
    SeenFilterStore.appendBatch(spark, root, batch)
    assert(!java.nio.file.Files.exists(lockFile),
      "appendBatch must release the lock on success")
    assert(SeenFilterStore.currentGen(spark, root).get != gen0)
    // retry escape hatch: a tokened writer reclaims ITS OWN crashed
    // attempt's lock (the streaming foreachBatch retry path) but still
    // refuses a DIFFERENT holder's (token\nnonce\n is the complete
    // two-line payload a real holder leaves)
    java.nio.file.Files.write(lockFile, "batch-7\nold-nonce\n".getBytes("UTF-8"))
    SeenFilterStore.appendBatch(spark, root, batch,
      writerToken = Some("batch-7")) // reclaims, completes, releases
    assert(!java.nio.file.Files.exists(lockFile))
    java.nio.file.Files.write(lockFile, "batch-8\nold-nonce\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      SeenFilterStore.appendBatch(spark, root, batch,
        writerToken = Some("batch-9"))
    }
    java.nio.file.Files.delete(lockFile)
  }

  test("torn lock (crash between create and close): fresh torn blocks, aged torn is reclaimable by any writer") {
    import graft.operators.SeenFilterStore
    val root = java.nio.file.Files.createTempDirectory("bloomtorn_").toString
    SeenFilterStore.init(spark, root,
      SeenFilter.buildFilter(docs.where(col("doc_id") % 2 === 0),
        seed = 3L, kHashes = 5, mBits = 1 << 14, numShards = 4))
    val batch = docs.where(col("doc_id") % 2 =!= 0)
    val lockFile = java.nio.file.Paths.get(root, SeenFilterStore.AppendLockName)
    // PROVABLY torn content (newline-bearing but unterminated = the
    // holder died between create() and close()); while FRESH it might
    // still be mid-write, so even a tokened retry must refuse
    java.nio.file.Files.write(lockFile, "batch-3\npartial-non".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      SeenFilterStore.appendBatch(spark, root, batch)
    }
    intercept[IllegalArgumentException] {
      SeenFilterStore.appendBatch(spark, root, batch,
        writerToken = Some("batch-3"))
    }
    // age it past the tear grace: now it is provably crash residue and
    // ANY writer (tokenless included) reclaims instead of waiting out
    // the full recover() grace
    java.nio.file.Files.setLastModifiedTime(lockFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - SeenFilterStore.TornLockGraceMs - 5000L))
    SeenFilterStore.appendBatch(spark, root, batch)
    assert(!java.nio.file.Files.exists(lockFile),
      "append must release the reclaimed lock")
    // NEWLINE-LESS non-empty content is AMBIGUOUS: a pre-versioning
    // release wrote complete locks as a bare token — its holder may be
    // LIVE, so it is never torn-reclaimable, however old (only the
    // owner's same-token retry or recover()'s age sweep release it)
    java.nio.file.Files.write(lockFile, "batch-7".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(lockFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - SeenFilterStore.TornLockGraceMs - 5000L))
    val legacyRefusal = intercept[IllegalArgumentException] {
      SeenFilterStore.appendBatch(spark, root, batch)
    }
    assert(legacyRefusal.getMessage.contains("pre-versioning"),
      legacyRefusal.getMessage)
    // ... but its OWNER's retry reclaims it (one attempt at a time by
    // the writer protocol)
    SeenFilterStore.appendBatch(spark, root, batch,
      writerToken = Some("batch-7"))
    assert(!java.nio.file.Files.exists(lockFile))
    // an EMPTY aged lock (create landed, zero bytes) is provably torn
    java.nio.file.Files.write(lockFile, Array.emptyByteArray)
    java.nio.file.Files.setLastModifiedTime(lockFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - SeenFilterStore.TornLockGraceMs - 5000L))
    SeenFilterStore.appendBatch(spark, root, batch)
    assert(!java.nio.file.Files.exists(lockFile))
    // a COMPLETE-token lock is never torn-reclaimed however old: aging a
    // terminated foreign lock still refuses a tokenless writer
    java.nio.file.Files.write(lockFile, "batch-4\nold-nonce\n".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(lockFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - SeenFilterStore.TornLockGraceMs - 5000L))
    intercept[IllegalArgumentException] {
      SeenFilterStore.appendBatch(spark, root, batch)
    }
    java.nio.file.Files.delete(lockFile)
  }

  test("release is nonce-confirmed: an append whose lock was reclaimed mid-run leaves the new holder's lock") {
    import graft.operators.SeenFilterStore
    val root = java.nio.file.Files.createTempDirectory("bloomsteal_").toString
    SeenFilterStore.init(spark, root,
      SeenFilter.buildFilter(docs.where(col("doc_id") % 2 === 0),
        seed = 3L, kHashes = 5, mBits = 1 << 14, numShards = 4))
    // the append's first job waits on the gate, so the lock is swapped
    // while the append certainly still holds it
    val gated = udf { (s: String) =>
      SeenFilterSpec.appendGate.await(60, java.util.concurrent.TimeUnit.SECONDS); s
    }
    val batch = docs.where(col("doc_id") % 2 =!= 0).withColumn("text", gated(col("text")))
    val lockFile = java.nio.file.Paths.get(root, SeenFilterStore.AppendLockName)
    val done = new java.util.concurrent.CompletableFuture[Long]()
    val t = new Thread(() => {
      try done.complete(SeenFilterStore.appendBatch(spark, root, batch,
        writerToken = Some("batch-5")).count())
      catch { case e: Throwable => done.completeExceptionally(e) }
    })
    t.start()
    def holder: String =
      try new String(java.nio.file.Files.readAllBytes(lockFile), "UTF-8")
      catch { case _: java.io.IOException => "" }
    val deadline = System.currentTimeMillis() + 60000
    while (holder.count(_ == '\n') < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    assert(holder.startsWith("batch-5\n"), s"lock never written: '$holder'")
    // a retry that reclaimed the lock while this append stalled
    java.nio.file.Files.write(lockFile, "batch-5\nforeign-nonce\n".getBytes("UTF-8"))
    SeenFilterSpec.appendGate.countDown()
    assert(done.get(120, java.util.concurrent.TimeUnit.SECONDS) > 0)
    assert(java.nio.file.Files.exists(lockFile),
      "release deleted a lock it no longer owned")
    assert(holder == "batch-5\nforeign-nonce\n", holder)
    java.nio.file.Files.delete(lockFile)
  }

  test("admitStream: first micro-batch lands unseen, a replayed batch is fully seen; served bits carry both batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.SeenFilterStore
    val root = java.nio.file.Files.createTempDirectory("bloomstream_").toString
    SeenFilterStore.init(spark, root,
      SeenFilter.buildFilter(docs.where(lit(false)), seed = 3L, kHashes = 5,
        mBits = 1 << 14, numShards = 2))
    val routed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = SeenFilterStore.admitStream(
        input.toDF().toDF("doc_id", "text"), root) { marked =>
        routed += ((marked.where(!col("maybe_seen")).count(),
          marked.where(col("maybe_seen")).count()))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("bloomstream_ck_").toString)
      .start()
    try {
      input.addData((1L, "alpha beta"), (2L, "gamma delta epsilon"))
      q.processAllAvailable()
      input.addData((3L, "alpha beta"), (4L, "zeta eta")) // 3 repeats 1's content
      q.processAllAvailable()
    } finally q.stop()
    assert(routed.toList == List((2L, 0L), (1L, 1L)),
      s"expected batch1 all-new, batch2 one seen: $routed")
    // empty-filter init means config came from the empty build — markSeen
    // on the served store must now see all four contents
    val all = Seq((1L, "alpha beta"), (2L, "gamma delta epsilon"),
      (4L, "zeta eta")).toDF("doc_id", "text")
    assert(SeenFilter.markSeen(all, SeenFilterStore.currentFilter(spark, root))
      .where(!col("maybe_seen")).count() == 0)
  }

  test("admitNew: unseen rows pass untouched, candidates are confirmed exactly — no duplicates admitted, no new rows lost") {
    val history = docs.where(col("doc_id") % 3 =!= 0)
    val exactKeys = TextAnalysis.fingerprint(history).select(col("fp"))
    // tight filter so the FP path actually exercises the confirm join
    val filter = SeenFilter.buildFilter(history, seed = 3L, kHashes = 3,
      mBits = 1024, numShards = 4)
    val admitted = SeenFilter.admitNew(docs, filter, exactKeys, "fp")
    // ground truth: docs whose fingerprint is NOT in history
    val truth = TextAnalysis.fingerprint(docs)
      .join(exactKeys, Seq("fp"), "left_anti").select("doc_id")
    val got = admitted.select("doc_id")
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
      "admitNew must equal the exact anti-join result")
  }

  test("geometryFor: standard sizing, automatic shard growth past the buffer cap, loud overflow") {
    val small = SeenFilter.geometryFor(1000000L, 0.01)
    assert(small == SeenFilter.Geometry(7, 9585088, 1))
    assert(small.fppAt(1000000L) < 0.011)
    // 2e9 keys cannot fit one aggregate buffer: shards grow automatically
    val big = SeenFilter.geometryFor(2000000000L, 0.01)
    assert(big.numShards == 1143 && big.mBits == 16771776 && big.kHashes == 7)
    assert(big.mBits <= (1 << 24) && big.fppAt(2000000000L) < 0.011)
    // beyond 2^16 shards the capacity ask is a loud error, not a silent cap
    intercept[IllegalArgumentException] {
      SeenFilter.geometryFor(200000000000L, 0.0001)
    }
    intercept[IllegalArgumentException] { SeenFilter.geometryFor(0L, 0.01) }
  }

  test("buildFilterAuto: derived geometry rides the filter config; no false negatives") {
    val filter = SeenFilter.buildFilterAuto(docs, expectedKeys = 100000L,
      targetFpp = 0.01, seed = 5L)
    val g = SeenFilter.geometryFor(100000L, 0.01)
    val cfg = filter.select("k_hashes", "m_bits", "num_shards").distinct().collect()
    assert(cfg.length == 1 && cfg(0).getInt(0) == g.kHashes &&
      cfg(0).getInt(1) == g.mBits && cfg(0).getInt(2) == g.numShards)
    val marked = SeenFilter.markSeen(docs, filter)
    assert(marked.where(!col("maybe_seen")).isEmpty,
      "auto-sized filter must keep the no-false-negatives contract")
  }
}

object SeenFilterSpec {
  /** Holds the gated append's first job until the test has swapped its lock. */
  val appendGate = new java.util.concurrent.CountDownLatch(1)
}

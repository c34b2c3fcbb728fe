package graft

import org.apache.spark.sql.functions._

import graft.functions.{Functions => F}
import graft.operators._
import graft.sources.Tables

/** Operator-level semantics on small in-memory data + the sf0.001 tables. */
class OperatorsSpec extends SparkSpecBase {
  import spark.implicits._

  test("normalizeUri drops port and applies alias map (P3)") {
    val df = Seq("hdfs://root:8020", "hdfs://prod", "hdfs://other:50070")
      .toDF("uri")
      .select(F.normalizeUri(col("uri"), Map("hdfs://prod" -> "hdfs://cluster-a")).as("u"))
    assert(df.as[String].collect().toSeq == Seq("hdfs://root", "hdfs://cluster-a", "hdfs://other"))
  }

  test("UriAliases loads a properties file into the normalizeUri alias map (P3)") {
    val dir = java.nio.file.Files.createTempDirectory("uri_aliases")
    val file = dir.resolve("hdfs-mapping.properties")
    java.nio.file.Files.writeString(file,
      "hdfs://prod = hdfs://cluster-a\nhdfs://backup=hdfs://cluster-b\n# comment\n")
    val aliases = graft.sources.UriAliases.load(spark, file.toString)
    assert(aliases == Map("hdfs://prod" -> "hdfs://cluster-a", "hdfs://backup" -> "hdfs://cluster-b"))
    val df = Seq("hdfs://prod:8020", "hdfs://backup", "hdfs://other")
      .toDF("uri")
      .select(F.normalizeUri(col("uri"), aliases).as("u"))
    assert(df.as[String].collect().toSeq ==
      Seq("hdfs://cluster-a", "hdfs://cluster-b", "hdfs://other"))
    // missing file = optional config: empty map, port-strip still works
    assert(graft.sources.UriAliases.load(spark, s"$dir/absent.properties").isEmpty)
  }

  test("stripUriPrefix removes the uri from absolute paths (P3)") {
    val df = Seq(("hdfs://root/tmp/x", "hdfs://root"), ("/local/path", "hdfs://root"))
      .toDF("path", "uri")
      .select(F.stripUriPrefix(col("path"), col("uri")).as("p"))
    assert(df.as[String].collect().toSeq == Seq("/tmp/x", "/local/path"))
  }

  test("clampNegInf clamps -Inf to -MaxDouble (P1)") {
    val out = Seq(Double.NegativeInfinity, 1.5).toDF("v")
      .select(F.clampNegInf(col("v")).as("v")).as[Double].collect()
    assert(out(0) == -Double.MaxValue && out(1) == 1.5)
  }

  test("firstWinsDim picks the earliest row per key deterministically (J1)") {
    val events = Seq(
      (1L, 10L, "b"), (1L, 5L, "a"), (2L, 7L, "c"), (2L, 7L, "b"))
      .toDF("k", "ord", "attr")
    val dim = Enrichment.firstWinsDim(events, "k", Seq("ord", "attr"), Seq("attr"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(dim == Seq((1L, "a"), (2L, "b")))
  }

  test("resolveComponent maps UNKNOWN to APP_MASTER/APP_SLAVE (J1)") {
    val df = Seq(("UNKNOWN", "c1", "c1"), ("UNKNOWN", "c2", "c1"), ("EXECUTOR", "c3", "c1"))
      .toDF("component", "container_id", "am_container_id")
      .select(Enrichment.resolveComponent(col("component"), col("container_id"), col("am_container_id")).as("c"))
    assert(df.as[String].collect().toSeq == Seq("APP_MASTER", "APP_SLAVE", "EXECUTOR"))
  }

  test("sessionize splits on gap and counts sessions (D10 batch)") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(60)), (1L, ts(65)),
      (2L, ts(0)))
      .toDF("user_id", "ts")
    val out = Aggregations.sessionize(df, col("user_id"), col("ts"), 1800L)
      .groupBy("user_id").agg(countDistinct("session_id").as("n"))
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 1L)))
  }

  test("deltaRatePerSec computes per-key rates (A6/A7)") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    val df = Seq(("c1", ts(0), 0.0), ("c1", ts(10), 100.0), ("c1", ts(20), 400.0))
      .toDF("k", "ts", "v")
    val rates = Aggregations.deltaRatePerSec(df, col("k"), col("ts"), col("v"))
      .where(col("rate_per_sec").isNotNull)
      .select("rate_per_sec").as[Double].collect().toSeq.sorted
    assert(rates == Seq(10.0, 30.0))
  }

  test("exact dedup drops duplicate texts keeping min id") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val kept = Dedup.dropExactDups(docs, "doc_id").select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 3L))
  }

  test("shingles produces k-grams (dedup primitives)") {
    val out = Seq("a b c d").toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("sh")).as[Seq[String]].collect().head
    assert(out.toSet == Set("a b", "b c", "c d"))
  }

  test("saltedEquiJoin matches the plain join on skewed keys, all supported join types") {
    // 1000 rows of one hot key + a long tail; dim with dup keys + a miss
    val skewed = ((1 to 1000).map(_ => ("hot", 1)) ++ Seq(("a", 2), ("b", 3), ("nomatch", 4)))
      .toDF("k", "v")
    val dim = Seq(("hot", "H1"), ("hot", "H2"), ("a", "A"), ("b", "B"), ("unused", "U"))
      .toDF("k", "d")
    Seq("inner", "left_outer", "left_semi", "left_anti").foreach { jt =>
      val plain = skewed.join(dim, Seq("k"), jt)
      val salted = graft.operators.Joins.saltedEquiJoin(skewed, dim, Seq("k"), salt = 8, jt)
      assert(salted.count() == plain.count(), s"$jt count mismatch")
      val cols = plain.columns.map(col)
      assert(salted.select(cols: _*).exceptAll(plain.select(cols: _*)).isEmpty &&
        plain.select(cols: _*).exceptAll(salted.select(cols: _*)).isEmpty,
        s"$jt content mismatch")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Joins.saltedEquiJoin(skewed, dim, Seq("k"), 8, "full_outer")
    }
  }

  test("connectedComponents closes chains and dropNearDupGroups keeps one per group") {
    // chain 1-2-3 (transitive), pair 10-11, singleton 99
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val kept = Dedup.dropNearDupGroups(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 10L, 99L))
  }

  test("connectedComponents falls back to the star algorithm instead of returning non-converged labels") {
    // chain of diameter 4 cannot close in 1 propagation round — the
    // large-star/small-star fallback must still produce exact labels
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, maxIters = 1)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connectedComponentsStar: exact labels on an adversarial long chain + mixed graph") {
    // a 300-node path graph: diameter 299 — propagation at default
    // maxIters=20 would never close it; the star algorithm contracts it
    // in ~log rounds. Mixed with a clique, a pair, and a self-loop.
    val chain = (0L until 299L).map(i => (1000L + i, 1000L + i + 1))
    val clique = for { a <- 0 to 3; b <- (a + 1) to 3 } yield (50L + a, 50L + b)
    val pairs = (chain ++ clique ++ Seq((7L, 7L), (2L, 9L))).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponentsStar(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    assert((1000L to 1299L).forall(got(_) == 1000L), "chain must collapse to its min id")
    assert((50L to 53L).forall(got(_) == 50L))
    assert(got(7L) == 7L && got(2L) == 2L && got(9L) == 2L)
    assert(got.size == 300 + 4 + 3)
    // and the propagation entry point reaches the same labels via fallback
    val viaFallback = Dedup.connectedComponents(pairs, maxIters = 3)
    val got2 = viaFallback.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaFallback.unpersist()
    assert(got2 == got)
  }

  test("connectedComponentsStar refuses chain-free multi-parent exhaustion instead of emitting conflicting labels") {
    // maxIters = 0 exits the loop with the raw canonical edges
    // {(3,1),(3,2)}: no v is a u (chain-free), but node 3 has TWO parents
    // — the left join would emit (3,1) AND (3,2); the structural witness
    // must throw instead
    val pairs = Seq((3L, 1L), (3L, 2L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(pairs, maxIters = 0)
    }
    assert(e.getMessage.contains("multi-parent"))
  }

  test("lshBandingFor sizes bands to the threshold's miss bound") {
    // J=0.5: 16x4 would miss ~35%; sized banding must pick r with
    // (1 - 0.5^r)^(64/r) <= 2% — that's r=2 (miss ~1e-4), not r=4
    assert(Dedup.lshBandingFor(64, 0.5) == (32, 2))
    // higher thresholds afford wider rows (fewer false candidates)
    val (b9, r9) = Dedup.lshBandingFor(64, 0.9)
    assert(r9 > 2 && b9 * r9 == 64)
    assert(math.pow(1 - math.pow(0.9, r9.toDouble), b9.toDouble) <= 0.02)
    // every returned layout divides the signature exactly
    for (t <- Seq(0.3, 0.5, 0.7, 0.8, 0.95); n <- Seq(32, 64, 128)) {
      val (b, r) = Dedup.lshBandingFor(n, t)
      assert(b * r == n)
      assert(math.pow(1 - math.pow(t, r.toDouble), b.toDouble) <= 0.02 || r == 1)
    }
  }

  test("minhash est_jaccard ≈ 1 for identical docs, low for disjoint") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("incremental dedup: new batch deduped against corpus signatures only") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8"),
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8")).toDF("doc_id", "text")
    // the corpus signature table is materialized once (the 100 TB usage:
    // signed at ingest, parquet thereafter) — increments never re-shingle it
    val sigDir = java.nio.file.Files.createTempDirectory("inc_dedup_sigs_").toString
    Dedup.minHashSignatures(corpus, "doc_id", "text", 3, 126)
      .write.mode("overwrite").parquet(sigDir)
    val corpusSigs = spark.read.parquet(sigDir)
    val newBatch = Seq(
      (10L, "w1 w2 w3 w4 w5 w6 w7 w8"), // dup of corpus 1
      (11L, "q1 q2 q3 q4 q5 q6 q7 q8")  // novel
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairsAgainst(newBatch, corpusSigs, "doc_id",
      threshold = 0.9)
    assert(pairs.select("new_id", "corpus_id").as[(Long, Long)].collect().toSeq
      == Seq((10L, 1L)))
    // corpus text appears nowhere in the plan: the only shingling sites are
    // the new batch's (band join + signature join-back re-derive it; the
    // exchange is reused at runtime)
    val shingleScans = pairs.queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.TextExpressions.WordShingles])) => p
    }
    assert(shingleScans.size == 2, s"expected only the new batch's 2 shingling sites, got $shingleScans")
    // and the surviving increment is exactly the novel doc
    val novel = Dedup.filterNovel(newBatch, "doc_id", pairs)
    assert(novel.select("doc_id").as[Long].collect().toSeq == Seq(11L))
  }

  test("keepBestPerGroup keeps the argmax-score doc per cluster, singletons pass") {
    val docs = Seq(
      (1L, "a a a", 5L), (2L, "a a a a", 9L), // cluster {1,2}: 2 wins on score
      (3L, "solo doc", 1L),
      (4L, "tie x", 7L), (5L, "tie y", 7L)    // cluster {4,5}: tie → min id 4
    ).toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerGroup(docs, "doc_id", pairs, col("score"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(2L, 3L, 4L))
    // plan witness: the keep-one is a partial-aggregated min_by over the
    // component key, NOT a row_number() window — dup components are
    // Zipf-skewed at crawl scale (template floods → million-member
    // components) and a window would exchange every member into one task
    val comps = Dedup.connectedComponents(pairs)
    try {
      val plan = Dedup.keepBestPerGroupPlan(docs, "doc_id", comps, col("score"))
      val optimized = plan.queryExecution.optimizedPlan.toString
      val physical = plan.queryExecution.executedPlan.toString
      assert(!optimized.contains("Window") && !optimized.contains("row_number"),
        optimized)
      assert(!physical.contains("WindowExec") && physical.contains("min_by"),
        physical)
      // min_by gets a partial_ stage before the exchange (map-side combine)
      assert(physical.contains("partial_min_by"), physical)
    } finally comps.unpersist()
    // a flood component (one label over 1000 docs) beside 100 singletons
    // keeps one row per group: 101, the flood's best score at its min id
    val flood = spark.range(1100).select(col("id").as("doc_id"),
      (col("id") % 97L).cast("double").as("score"))
    val floodComps = spark.range(1100).select(col("id"),
      when(col("id") < 1000L, lit(0L)).otherwise(col("id")).as("component"))
    val floodKept = Dedup.keepBestPerGroupPlan(flood, "doc_id", floodComps, col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(floodKept == Set(96L) ++ (1000L until 1100L))
    // the score contract is ENFORCED, not just documented: a null or NaN
    // score would silently invert the winner under the negated min_by
    // ordering — both raise instead
    val nullScore = Seq((1L, "a", java.lang.Double.valueOf(1.0)),
      (2L, "b", null.asInstanceOf[java.lang.Double]))
      .toDF("doc_id", "text", "score")
    val eNull = intercept[Exception] {
      Dedup.keepBestPerGroup(nullScore, "doc_id",
        Seq((1L, 2L)).toDF("id_a", "id_b"), col("score")).collect()
    }
    assert(eNull.getMessage.contains("null score") ||
      Option(eNull.getCause).exists(_.getMessage.contains("null score")), eNull.toString)
    val nanScore = Seq((1L, "a", 1.0), (2L, "b", Double.NaN))
      .toDF("doc_id", "text", "score")
    val eNan = intercept[Exception] {
      Dedup.keepBestPerGroup(nanScore, "doc_id",
        Seq((1L, 2L)).toDF("id_a", "id_b"), col("score")).collect()
    }
    assert(eNan.getMessage.contains("NaN score") ||
      Option(eNan.getCause).exists(_.getMessage.contains("NaN score")), eNan.toString)
  }

  test("hashSplit is a pure function of content and covers both sides") {
    val docs = Tables.load(spark, sfDir, "documents")
    val split = TextAnalysis.hashSplit(docs, 90).select("doc_id", "split")
    val again = TextAnalysis.hashSplit(docs.orderBy(org.apache.spark.sql.functions.rand(7)), 90)
      .select("doc_id", "split")
    assert(split.exceptAll(again).isEmpty) // row order / partitioning irrelevant
    val sides = split.select("split").distinct().as[String].collect().toSet
    assert(sides == Set("train", "val"))
  }

  test("familiarityBuckets: equal-count per-group bands, head >= tail familiarity, deterministic") {
    val docs = Tables.load(spark, sfDir, "documents")
    val lm = TextAnalysis.bigramCounts(docs.where(col("lang") === "en"))
    val out = TextAnalysis.familiarityBuckets(docs, lm, "doc_id", "source").persist()
    // ntile: per source the three bands differ by at most one doc
    val spread = out.groupBy("source", "bucket").count()
      .groupBy("source").agg((max("count") - min("count")).as("d"))
      .select("d").as[Long].collect()
    assert(spread.nonEmpty && spread.forall(_ <= 1))
    // band ordering is real: min familiarity of bucket 1 >= max of bucket 3
    val perSource = out.groupBy("source").agg(
        min(when(col("bucket") === 1, col("familiarity"))).as("head_min"),
        max(when(col("bucket") === 3, col("familiarity"))).as("tail_max"))
      .as[(String, Double, Double)].collect()
    perSource.foreach { case (src, h, t) => assert(h >= t, s"$src: $h < $t") }
    // replay-stable
    val again = TextAnalysis.familiarityBuckets(
      docs.repartition(7), lm, "doc_id", "source")
    assert(out.select("doc_id", "bucket")
      .exceptAll(again.select("doc_id", "bucket")).isEmpty)
    out.unpersist()
    intercept[IllegalArgumentException] {
      TextAnalysis.familiarityBuckets(docs, lm, "doc_id", "source", nBuckets = 1)
    }
  }

  test("fixMojibake repairs exactly the mis-decodes and never healthy text") {
    import graft.operators.TextAnalysis.fixMojibakeString
    def garble(s: String) =
      new String(s.getBytes("UTF-8"), java.nio.charset.StandardCharsets.ISO_8859_1)
    // the classic: é → Ã© → é ; CJK survives the 3-byte path
    Seq("wé", "naïve café", "中文 text", "ação").foreach { clean =>
      assert(fixMojibakeString(garble(clean)) == clean, clean)
    }
    // legitimate Latin-1 text is NOT valid UTF-8 when re-encoded — untouched
    Seq("à la carte", "voilà!", "50° här").foreach { legit =>
      assert(fixMojibakeString(legit) eq legit, legit)
    }
    // ASCII fast path, null/empty, and chars beyond U+00FF pass through
    assert(fixMojibakeString("plain") eq "plain")
    assert(fixMojibakeString("") == "" && fixMojibakeString(null) == null)
    assert(fixMojibakeString("已经 clean") eq "已经 clean")
    // double mojibake: one layer per application, composable to clean
    val dbl = garble(garble("wé"))
    assert(fixMojibakeString(fixMojibakeString(dbl)) == "wé")
    // the DataFrame wrapper carries other columns and fixes only the text
    val docs = Seq((1L, garble("résumé")), (2L, "ok")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.fixMojibake(docs, "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "résumé"), (2L, "ok")))
  }

  test("fixMojibake CP1252 flavor: repairs â€™-style artifacts, never euro-price text") {
    import graft.operators.TextAnalysis.fixMojibakeString
    def garbleCp(s: String) = new String(s.getBytes("UTF-8"), "windows-1252")
    // the canonical crawl artifact: ’ (E2 80 99) mis-decoded as CP1252
    assert(garbleCp("it’s") == "itâ€™s") // the fixture garbles as expected
    assert(fixMojibakeString("itâ€™s") == "it’s")
    // the full smart-punctuation family round-trips through the repair
    Seq("em—dash", "bullet • list", "…", "Œuvre", "Š™€", "中文 text")
      .foreach { clean =>
        assert(fixMojibakeString(garbleCp(clean)) == clean, clean)
      }
    // WHATWG-style decoders (browsers, python 'windows-1252' via HTML5
    // rules) map CP1252's five undefined bytes to the C1 controls instead
    // of U+FFFD — that garble keeps the byte and the repair inverts it
    // (the chars are ≤ U+00FF, the Latin-1 identity path)
    def garbleWhatwg(s: String): String = {
      val cp = new String(s.getBytes("UTF-8"), "windows-1252").toCharArray
      val raw = s.getBytes("UTF-8")
      cp.indices.foreach { i => if (cp(i) == '�') cp(i) = (raw(i) & 0xff).toChar }
      new String(cp)
    }
    Seq("“quoted”", "已经").foreach { clean => // ” hits 0x9D, 经 hits 0x8F
      assert(fixMojibakeString(garbleWhatwg(clean)) == clean, clean)
    }
    // Java's own windows-1252 decode of those bytes yields U+FFFD — the
    // byte is DESTROYED by the mis-decode; the repair must leave the
    // string alone (U+FFFD is outside Latin-1 and the CP1252 table)
    val lossy = garbleCp("“quoted”")
    assert(lossy.contains('�') && (fixMojibakeString(lossy) eq lossy))
    // healthy text literally using CP1252-only chars is NOT repaired:
    // '€' maps to a lone 0x80 continuation byte — invalid UTF-8
    Seq("costs 20€", "™ brand", "price: 5€ only", "he said “hi”")
      .foreach { legit => assert(fixMojibakeString(legit) eq legit, legit) }
    // chars outside Latin-1 AND the 27-entry table still bail out
    assert(fixMojibakeString("已经 clean") eq "已经 clean")
    // double CP1252 mojibake: one layer per pass, composes to clean
    val dbl = garbleCp(garbleCp("it’s"))
    assert(fixMojibakeString(fixMojibakeString(dbl)) == "it’s")
    // mixed corpus: Latin-1-garbled and CP1252-garbled rows in one frame
    val docs = Seq(
      (1L, "itâ€™s"),
      (2L, new String("wé".getBytes("UTF-8"),
        java.nio.charset.StandardCharsets.ISO_8859_1)),
      (3L, "costs 20€")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.fixMojibake(docs, "text")
      .orderBy("doc_id").select("text").as[String].collect()
    assert(out.toSeq == Seq("it’s", "wé", "costs 20€"))
  }

  test("preClean stages stay inside WholeStageCodegen (no object round-trip)") {
    // a real file scan — a local Seq would constant-fold into a
    // LocalTableScan and witness nothing about the executed stage
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val cleaned = graft.operators.TextAnalysis.normalizeText(
      graft.operators.TextAnalysis.fixMojibake(docs, "text"), "text")
    val plan = cleaned.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapElements"),
      s"preClean must not break codegen with an object round-trip:\n$plan")
    // "*(1)" is the simple-string marker for a WholeStageCodegen stage —
    // both expressions must sit inside one
    assert(plan.contains("*(1) Project") &&
      plan.contains("normalizeform(fixmojibake("), plan)
    // and the rewiring preserves results, including the null path
    val withNull = Seq((1L, "wé"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.normalizeText(
        graft.operators.TextAnalysis.fixMojibake(withNull, "text"), "text")
      .orderBy("doc_id").select("text").as[String].collect()
    assert(r(0) == "wé" && r(1) == null)
  }

  test("normalizeText: NFC composes, NFKC folds compatibility, nulls/normalized pass through") {
    val docs = Seq(
      (1L, "wé"),             // decomposed e+acute → é
      (2L, "Ｈｉ"),          // fullwidth Hi — NFC keeps, NFKC folds
      (3L, null.asInstanceOf[String]),
      (4L, "plain ascii")).toDF("doc_id", "text")
    val nfc = TextAnalysis.normalizeText(docs, "text").orderBy("doc_id")
      .select("text").as[String].collect()
    assert(nfc(0) == "wé" && nfc(1) == "Ｈｉ" &&
      nfc(2) == null && nfc(3) == "plain ascii")
    val nfkc = TextAnalysis.normalizeText(docs, "text", form = "NFKC")
      .orderBy("doc_id").select("text").as[String].collect()
    assert(nfkc(1) == "Hi", s"NFKC must fold fullwidth, got ${nfkc(1)}")
    // idempotent, and other columns ride along untouched
    val twice = TextAnalysis.normalizeText(
      TextAnalysis.normalizeText(docs, "text"), "text").orderBy("doc_id")
    assert(twice.select("text").as[String].collect().toSeq == nfc.toSeq)
    assert(twice.select("doc_id").as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      TextAnalysis.normalizeText(docs, "text", form = "NOT_A_FORM")
    }
  }

  test("sampleKPerGroup: exact counts, replay-stable, seed-decorrelated, small groups kept whole") {
    val docs = Tables.load(spark, sfDir, "documents")
    val s1 = TextAnalysis.sampleKPerGroup(docs, "source", "doc_id", k = 7, seed = 3L)
    // exactly 7 per source (every source has 25 docs at this sf)
    val counts = s1.groupBy("source").count().select("count").as[Long].collect()
    assert(counts.nonEmpty && counts.forall(_ == 7L))
    // replay/partitioning-stable
    val s2 = TextAnalysis.sampleKPerGroup(
      docs.orderBy(org.apache.spark.sql.functions.rand(9)).repartition(7),
      "source", "doc_id", k = 7, seed = 3L)
    assert(s1.select("doc_id").exceptAll(s2.select("doc_id")).isEmpty)
    // a different seed picks a substantially different subset
    val other = TextAnalysis.sampleKPerGroup(docs, "source", "doc_id", k = 7, seed = 4L)
      .select("doc_id").as[Long].collect().toSet
    val base = s1.select("doc_id").as[Long].collect().toSet
    assert((base intersect other).size < base.size / 2,
      s"seeds 3 and 4 overlap ${(base intersect other).size}/${base.size}")
    // k beyond the group size keeps the whole group
    val all = TextAnalysis.sampleKPerGroup(docs, "source", "doc_id", k = 1000)
    assert(all.count() == docs.count())
  }

  test("sampleKPerGroup default = agg flavor, IDENTICAL rows to the window control arm, windowless plan") {
    val docs = Tables.load(spark, sfDir, "documents")
    val win = TextAnalysis.sampleKPerGroupWindow(docs, "source", "doc_id", k = 7, seed = 3L)
      .select("source", "doc_id")
    val agg = TextAnalysis.sampleKPerGroup(docs, "source", "doc_id", k = 7, seed = 3L)
      .select("source", "doc_id")
    assert(win.exceptAll(agg).isEmpty && agg.exceptAll(win).isEmpty,
      "the two flavors must pick the same rows")
    // the point of the aggregate default: no Window, no per-group sort of
    // the whole group — the plan carries the bounded aggregate instead
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("topkbyscoreagg") || plan.contains("TopKByScore") ||
      plan.toLowerCase.contains("objecthashaggregate"), plan)
    // k beyond the group size keeps everything, like the window flavor
    assert(TextAnalysis.sampleKPerGroupAgg(docs, "source", "doc_id", k = 1000)
      .count() == docs.count())
    intercept[IllegalArgumentException] {
      TextAnalysis.sampleKPerGroupAgg(docs, "source", "doc_id", k = 0)
    }
  }

  test("tokenBudgetSample: prefix meets the budget, crossing doc kept, hard cut after; bucket/partitioning invariant; loud params") {
    val docs = Tables.load(spark, sfDir, "documents")
    val budget = 500L
    val cut = TextAnalysis.tokenBudgetSample(docs, "doc_id", budget, seed = 7L)
    val rows = cut.select(col("doc_id"), col("cum_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the max cumulative count is the first to reach the budget: it is
    // >= budget (met) and its predecessor is under it (hard cut)
    val maxCum = rows.map(_._2).max
    assert(maxCum >= budget, s"budget must be met, last cum $maxCum")
    val sorted = rows.map(_._2).sorted
    assert(sorted.init.forall(_ < budget),
      "every survivor except the crossing doc must sit under the budget")
    // the bucketed cumsum cut equals a plain global-sort prefix replay
    val sel = pmod((TextAnalysis.portableFingerprint(col("text")) + 7L) *
      2654435761L, lit(1000000007L))
    val expKept = {
      var acc = 0L
      docs.orderBy(sel, col("doc_id"))
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .iterator.takeWhile { case (_, t) => val before = acc; acc += t; before < budget }
        .map { case (id, _) => id }.toSet
    }
    assert(rows.map(_._1).toSet == expKept,
      "survivor set must equal the global-sort prefix replay")
    // bucket count and input partitioning must not move the cut
    val other = TextAnalysis.tokenBudgetSample(docs.repartition(7), "doc_id",
      budget, seed = 7L, numBuckets = 5)
      .select(col("doc_id"), col("cum_tokens"))
    assert(cut.select(col("doc_id"), col("cum_tokens"))
      .exceptAll(other).isEmpty && other.exceptAll(
        cut.select(col("doc_id"), col("cum_tokens"))).isEmpty)
    intercept[IllegalArgumentException] {
      TextAnalysis.tokenBudgetSample(docs, "doc_id", 0L)
    }
  }

  test("tokenBudgetMix: per-stratum budgets met independently; unbudgeted and NULL strata pass whole") {
    val docs = Seq(
      (1L, "en", "aa bb cc dd"), (2L, "en", "ee ff gg hh"),
      (3L, "en", "ii jj kk ll"), (4L, "fr", "mm nn"),
      (5L, "fr", "oo pp"), (6L, "zh", "qq rr ss"),
      (7L, null.asInstanceOf[String], "tt uu")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.tokenBudgetMix(docs, "doc_id", "lang",
      Map("en" -> 5L, "fr" -> 2L), seed = 3L)
    val kept = out.select("doc_id").as[Long].collect().toSet
    // en: 4-token docs, budget 5 → exactly two survive (first meets 5
    // by crossing); fr: budget 2 → exactly one; zh + null: whole
    assert(kept.count(Set(1L, 2L, 3L)) == 2, s"en must keep 2, got $kept")
    assert(kept.count(Set(4L, 5L)) == 1, s"fr must keep 1, got $kept")
    assert(kept.contains(6L) && kept.contains(7L),
      s"unbudgeted and null strata pass whole: $kept")
    intercept[IllegalArgumentException] {
      TextAnalysis.tokenBudgetMix(docs, "doc_id", "lang", Map.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.tokenBudgetMix(docs, "doc_id", "lang", Map("en" -> 0L))
    }
  }

  test("corpusShuffle: dense permutation = global (selector, id) order; bucket-count/partitioning invariant; seeds decorrelate") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val sh = TextAnalysis.corpusShuffle(docs, "doc_id", seed = 5L, numBuckets = 16)
    // positions are exactly 0..n-1
    assert(sh.select("shuffle_pos").as[Long].collect().sorted.toSeq ==
      (0L until n).toSeq)
    // the bucketed rank reproduces a plain global sort on (selector, id)
    val sel = pmod((TextAnalysis.portableFingerprint(col("text")) + 5L) *
      2654435761L, lit(1000000007L))
    val exp = docs.orderBy(sel, col("doc_id")).select("doc_id").as[Long].collect()
    val got = sh.orderBy("shuffle_pos").select("doc_id").as[Long].collect()
    assert(got.toSeq == exp.toSeq)
    // the permutation is a function of (content, seed) only: bucket count
    // and input partitioning must not change any position
    val ref = sh.select("doc_id", "shuffle_pos")
    val other = TextAnalysis.corpusShuffle(docs.repartition(7), "doc_id",
      seed = 5L, numBuckets = 3).select("doc_id", "shuffle_pos")
    assert(ref.exceptAll(other).isEmpty && other.exceptAll(ref).isEmpty)
    // a different seed produces a substantially different order
    val pos5 = sh.select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val pos6 = TextAnalysis.corpusShuffle(docs, "doc_id", seed = 6L, numBuckets = 16)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val moved = pos5.count { case (id, p) => pos6(id) != p }
    assert(moved > n / 2, s"seeds 5 and 6 moved only $moved/$n docs")
    // identical text ties break by id
    val dup = Seq((10L, "same text"), (2L, "same text"), (5L, "same text"))
      .toDF("doc_id", "text")
    val tieOrder = TextAnalysis.corpusShuffle(dup, "doc_id", seed = 1L, numBuckets = 4)
      .orderBy("shuffle_pos").select("doc_id").as[Long].collect().toSeq
    assert(tieOrder == Seq(2L, 5L, 10L))
    intercept[IllegalArgumentException] {
      TextAnalysis.corpusShuffle(docs, "doc_id", numBuckets = 0)
    }
  }

  test("writeShuffled: shard files hold contiguous, non-overlapping position ranges in the permutation order") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("shuffled_").toString
    TextAnalysis.writeShuffled(docs, "doc_id", dir, numShards = 5, seed = 5L)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // per-file ranges: within-file sorted, files pairwise disjoint and
    // jointly covering 0..n-1
    val spans = back
      .select(input_file_name().as("f"), col("shuffle_pos"))
      .groupBy("f")
      .agg(min("shuffle_pos").as("lo"), max("shuffle_pos").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    spans.foreach { case (lo, hi, n) =>
      assert(hi - lo + 1 == n, s"file span [$lo,$hi] not dense for $n rows")
    }
    spans.sliding(2).foreach {
      case Array((_, hi, _), (lo2, _, _)) => assert(lo2 == hi + 1,
        s"shard ranges must be contiguous: $hi then $lo2")
      case _ =>
    }
    assert(spans.head._1 == 0 && spans.last._2 == docs.count() - 1)
    // the shard set is stamped with the fingerprint version that permuted
    // it; the verifying reader round-trips, a drifted stamp or a missing
    // manifest fails loudly (extending across a fingerprint bump would
    // interleave two different permutations)
    assert(TextAnalysis.readShuffled(spark, dir).count() == docs.count())
    val mf = graft.operators.Manifests.read(spark, s"$dir/_SHUFFLE.json").get
    graft.operators.Manifests.writeAtomic(spark, s"$dir/_SHUFFLE.json",
      mf.replaceAll("\"fp_version\":\\d+", "\"fp_version\":1"))
    val drift = intercept[Exception] { TextAnalysis.readShuffled(spark, dir) }
    assert(drift.getMessage.contains("fingerprint"), drift.getMessage)
    val bare = java.nio.file.Files.createTempDirectory("shuffled_bare_").toString
    docs.limit(1).write.mode("overwrite").parquet(bare)
    val missing = intercept[IllegalStateException] {
      TextAnalysis.readShuffled(spark, bare)
    }
    assert(missing.getMessage.contains("_SHUFFLE.json"), missing.getMessage)
  }

  test("dedupParagraphs keeps each paragraph once (first occurrence), reassembles in order") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nreal content one\nfooter"),
      (2L, "COOKIE BANNER\nreal content two\nfooter"),
      (3L, "COOKIE BANNER\nfooter"), // pure boilerplate — disappears
      (4L, "  \n\nreal content one\nfresh line") // blanks don't participate
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.dedupParagraphs(docs, "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L), "doc 3 lost every paragraph")
    assert(out(0).getString(1) == "COOKIE BANNER\nreal content one\nfooter")
    assert(out(0).getLong(2) == 3 && out(0).getLong(3) == 3)
    assert(out(1).getString(1) == "real content two") // banner+footer lost to doc 1
    assert(out(1).getLong(2) == 1 && out(1).getLong(3) == 3)
    assert(out(2).getString(1) == "fresh line") // 'real content one' lost to doc 1
    assert(out(2).getLong(2) == 1 && out(2).getLong(3) == 2)
    // replay/partitioning-stable: winners are (doc, pos)-deterministic
    val again = graft.operators.TextAnalysis.dedupParagraphs(
      docs.repartition(5), "doc_id").orderBy("doc_id").collect()
    assert(again.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      out.map(r => (r.getLong(0), r.getString(1))).toSeq)
    // the reassembly is a codegen scalar, not an interpreted transform()
    // (optimized LOGICAL plan: the optimizer collapses the rebuild into
    // the aggregate's resultExpressions, which physical toString omits)
    val plan = graft.operators.TextAnalysis.dedupParagraphs(docs, "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_join_structs"), plan)
    assert(!plan.contains("lambdafunction") && !plan.contains("transform("), plan)
    // the keep-first is a partial-aggregated min_by on a paragraph HASH
    // pair, not a row_number() window over the raw paragraph (boilerplate
    // banners are the Zipf flood keys this operator exists to delete)
    val physical = graft.operators.TextAnalysis.dedupParagraphs(docs, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!physical.contains("WindowExec") && !physical.contains("row_number"),
      physical)
    assert(physical.contains("partial_min_by"), physical)
    val keyLines = physical.linesIterator
      .filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!keyLines.contains("_para#"), physical)
  }

  test("sentence split + sentence-boundary chunking: boundary rule, decoys, budget discipline") {
    import graft.operators.TextAnalysis.{sentenceChunksString, splitSentencesString}
    assert(splitSentencesString("One two. Three four! Five?").toSeq ==
      Seq("One two.", "Three four!", "Five?"))
    // lowercase after punctuation is NOT a boundary (e.g., abbreviations)
    assert(splitSentencesString("See e.g. this one. Next sentence.").toSeq ==
      Seq("See e.g. this one.", "Next sentence."))
    // abbreviations followed by UPPERCASE are not boundaries either:
    // dotted acronyms/initials structurally, titles/latinisms by list
    assert(splitSentencesString("The U.S. Government pays. Mr. Smith agrees.").toSeq ==
      Seq("The U.S. Government pays.", "Mr. Smith agrees."))
    assert(splitSentencesString("See e.g. Figure one. Dr. J. Watson et al. Works.").toSeq ==
      Seq("See e.g. Figure one.", "Dr. J. Watson et al. Works."))
    // a bare single letter is an initial ONLY in name context (uppercase
    // AND preceded by a capitalized word); elsewhere it is a true
    // sentence end — "plan B." / "vitamin C." / "did I." all split
    assert(splitSentencesString("Use plan B. Next we regroup.").toSeq ==
      Seq("Use plan B.", "Next we regroup."))
    assert(splitSentencesString("Take vitamin C. The rest follows.").toSeq ==
      Seq("Take vitamin C.", "The rest follows."))
    assert(splitSentencesString("So did I. Then we left.").toSeq ==
      Seq("So did I.", "Then we left."))
    assert(splitSentencesString("John F. Kennedy spoke. Crowds cheered.").toSeq ==
      Seq("John F. Kennedy spoke.", "Crowds cheered."))
    // an ellipsis run is never abbreviation-suppressed
    assert(splitSentencesString("He left... Then came back.").toSeq ==
      Seq("He left...", "Then came back."))
    // a non-abbreviation word before '.' still splits
    assert(splitSentencesString("It was vast. Mountains rose.").toSeq ==
      Seq("It was vast.", "Mountains rose."))
    // runs of punctuation, digits as sentence openers, newlines as hard breaks
    assert(splitSentencesString("Wait... 42 is the answer.\nnew line here").toSeq ==
      Seq("Wait...", "42 is the answer.", "new line here"))
    assert(splitSentencesString("") sameElements Array.empty[String])
    assert(splitSentencesString(null) == null)
    // greedy packing: never split mid-sentence; oversized sentence = own chunk
    val text = "Aa bb cc. Dd ee. Ff gg hh ii jj kk ll mm. Nn oo."
    assert(sentenceChunksString(text, 5).toSeq ==
      Seq("Aa bb cc. Dd ee.", "Ff gg hh ii jj kk ll mm.", "Nn oo."))
    assert(sentenceChunksString(text, 100).toSeq == Seq(text))
    // DataFrame flavor: posexplode shape + codegen map-only plan
    val df = graft.operators.TextAnalysis.chunkBySentences(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", 5)
    assert(df.count() == 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("DeserializeToObject"), plan)
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.chunkBySentences(
        Seq((1L, text)).toDF("doc_id", "text"), "doc_id", 0)
    }
  }

  test("gopherFilter: each published rule flips the verdict independently") {
    val good = "the cat and the dog have been with us for many good years now"
    val docs = Seq(
      (1L, good),
      (2L, "the of and to tiny"), // too few words
      (3L, good + "\n• a\n• b\n• c\n• d\n• e\n• f\n• g\n• h\n• i\n• j"), // >10% bullet lines... all-bullet majority
      (4L, "1 2 3 4 5 6 7 8 9 10 the of and with that be to have"), // <80% alphabetic
      (5L, good + " ### # # # #### "), // symbol ratio > 0.1
      (6L, "zz qq rr ss tt uu vv ww xx yy aa bb cc dd") // no stop words
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(docs, minWords = 10L)
      .select("doc_id", "gopher_keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L), "the clean doc must keep")
    assert(!out(2L) && !out(4L) && !out(5L) && !out(6L))
    // doc 3: 10 bullet lines of 11 total → 10*10 > 9*11 → dropped
    assert(!out(3L))
    // signals are exact integers
    val sig = TextAnalysis.gopherSignals(Seq((1L, "ab cd... ef\n• x y")).toDF("doc_id", "text"))
      .collect().head
    assert(sig.getAs[Long]("n_words") == 6 && sig.getAs[Long]("n_ellipsis") == 1 &&
      sig.getAs[Long]("n_lines") == 2 && sig.getAs[Long]("n_bullet_lines") == 1 &&
      sig.getAs[Long]("sum_word_len") == 12)
  }

  test("dedupLines: intra-doc keep-first, empty lines exempt, codegen map-only") {
    import graft.operators.TextAnalysis.dedupLinesString
    assert(dedupLinesString("a\nb\na\nc\nb") == "a\nb\nc")
    // empty lines are paragraph structure — ALL survive, in place
    assert(dedupLinesString("a\n\nb\n\na") == "a\n\nb\n")
    assert(dedupLinesString("same\nsame\nsame") == "same")
    assert(dedupLinesString("") == "" && dedupLinesString(null) == null)
    assert(dedupLinesString("only one line") == "only one line")
    // trailing newline: the final empty line is kept (round-trip shape)
    assert(dedupLinesString("x\n") == "x\n")
    val out = graft.operators.TextAnalysis.dedupLines(
      Seq((1L, "p\nq\np")).toDF("doc_id", "text"))
    assert(out.collect().head.getString(1) == "p\nq")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("DeserializeToObject"), plan)
  }

  test("stratifiedSample is deterministic, honors per-stratum fractions and default-keeps") {
    val docs = Tables.load(spark, sfDir, "documents")
    val fr = Map("en" -> 0.5, "zh" -> 0.0)
    val s1 = TextAnalysis.stratifiedSample(docs, "lang", fr, seed = 7L).select("doc_id")
    val s2 = TextAnalysis.stratifiedSample(
      docs.orderBy(org.apache.spark.sql.functions.rand(3)), "lang", fr, seed = 7L).select("doc_id")
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    val byLang = TextAnalysis.stratifiedSample(docs, "lang", fr, seed = 7L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val orig = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(!byLang.contains("zh"))                         // fraction 0 → all dropped
    assert(byLang("en") < orig("en"))                      // en downsampled
    orig.keys.filterNot(Set("en", "zh")).foreach { l =>
      assert(byLang(l) == orig(l))                         // absent strata kept whole
    }
    // a different seed selects a different (still deterministic) subset
    val other = TextAnalysis.stratifiedSample(docs, "lang", fr, seed = 8L).select("doc_id")
    assert(s1.exceptAll(other).count() > 0)
  }

  test("temperatureFractions flattens the mixture toward p^tau, smallest stratum kept whole") {
    val docs = Tables.load(spark, sfDir, "documents")
    val counts = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val fr = TextAnalysis.temperatureFractions(docs, "lang", temperature = 0.5)
    // fractions are valid keep probabilities; the rarest stratum keeps all
    assert(fr.values.forall(f => f > 0.0 && f <= 1.0))
    val smallest = counts.minBy(_._2)._1
    assert(math.abs(fr(smallest) - 1.0) < 1e-12)
    // expected kept mass is proportional to p^tau: check the ratio between
    // two strata matches sqrt of their count ratio
    val langs = counts.keys.toSeq.sorted
    val (a, b) = (langs.head, langs.last)
    val expectRatio = math.sqrt(counts(a).toDouble / counts(b))
    val keptRatio = counts(a) * fr(a) / (counts(b) * fr(b))
    assert(math.abs(keptRatio - expectRatio) < 1e-9)
    // tau = 1 keeps everything
    val noFlatten = TextAnalysis.temperatureFractions(docs, "lang", temperature = 1.0)
    assert(noFlatten.values.forall(f => math.abs(f - 1.0) < 1e-12))
    // composition with stratifiedSample downweights the dominant stratum
    val kept = TextAnalysis.stratifiedSample(docs, "lang", fr, seed = 11L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val biggest = counts.maxBy(_._2)._1
    assert(kept(biggest) < counts(biggest))
    assert(kept(smallest) == counts(smallest))
  }

  test("upsample emits deterministic epoch-tagged copies toward the factor mass") {
    val docs = Tables.load(spark, sfDir, "documents")
    val counts = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val factors = TextAnalysis.upsampleFactors(docs, "lang", temperature = 0.5,
      maxFactor = 4.0)
    // the largest stratum is the anchor (factor exactly 1), everything
    // else repeats by (n_max/n_s)^(1/2) up to the cap
    val biggest = counts.maxBy(_._2)._1
    assert(factors(biggest) == 1.0)
    assert(factors.values.forall(f => f >= 1.0 && f <= 4.0))
    val up = TextAnalysis.upsample(docs, "lang", factors, seed = 13L)
    // partitioning/row-order invariant: same (doc_id, epoch) multiset
    val again = TextAnalysis.upsample(
      docs.orderBy(org.apache.spark.sql.functions.rand(5)), "lang", factors, seed = 13L)
    assert(up.select("doc_id", "epoch").exceptAll(again.select("doc_id", "epoch")).isEmpty)
    // per-stratum emitted mass lands within one ulp-of-the-cut of f·n:
    // floor(f) copies guaranteed, the fractional epoch gated at
    // floor(frac·10⁴)/10⁴ of the stratum
    val outCounts = up.groupBy("lang").count().as[(String, Long)].collect().toMap
    counts.foreach { case (lang, n) =>
      val f = factors(lang)
      val lo = math.floor(f) * n
      val hi = math.ceil(f) * n
      assert(outCounts(lang) >= lo && outCounts(lang) <= hi,
        s"$lang: ${outCounts(lang)} outside [$lo, $hi] for factor $f")
    }
    // anchor stratum: exactly once, all epoch 0
    assert(outCounts(biggest) == counts(biggest))
    // epochs are a dense 0-based prefix per doc: max epoch < ceil(f)
    val maxEpoch = up.groupBy("lang").agg(max("epoch").as("m"))
      .as[(String, Int)].collect().toMap
    counts.keys.foreach { lang =>
      assert(maxEpoch(lang) <= math.ceil(factors(lang)).toInt - 1)
    }
    // every doc survives with at least its epoch-0 copy
    assert(up.where(col("epoch") === 0).count() == docs.count())
  }

  test("span operators shingle the corpus once (pinned exchange reused by both arms)") {
    import graft.sources.BucketedTables.PlanWitness
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val docs = Tables.load(spark, sfDir, "documents")

    val spans = TextAnalysis.dropSharedSpans(docs, "doc_id", k = 8)
    spans.collect() // AQE finalizes the plan; reuse shows post-execution
    val shingleGens = PlanWitness.collectNodes(spans) {
      case g: GenerateExec if g.boundGenerator.toString.toLowerCase.contains("shingle") => g
    }
    assert(shingleGens.size == 1,
      s"expected ONE shingling Generate, got ${shingleGens.size} — the gram " +
        "stream is being derived per plan arm again")
    assert(PlanWitness.collectNodes(spans) { case r: ReusedExchangeExec => r }.nonEmpty,
      "no ReusedExchange in the executed plan — the pinned gram exchange was not shared")

    val stats = TextAnalysis.dupNgramStats(docs, "doc_id", k = 3)
    stats.collect()
    val statGens = PlanWitness.collectNodes(stats) {
      case g: GenerateExec if g.boundGenerator.toString.toLowerCase.contains("shingle") => g
    }
    assert(statGens.size == 1,
      s"expected ONE shingling Generate in dupNgramStats, got ${statGens.size}")

    // a pre-materialized gram table short-circuits derivation entirely and
    // produces identical results
    val gramTable = TextAnalysis.positionedGrams(docs, "doc_id", 8).persist()
    try {
      val viaTable = TextAnalysis.dropSharedSpans(docs, "doc_id", k = 8,
        grams = Some(gramTable))
      assert(viaTable.exceptAll(spans).isEmpty && spans.exceptAll(viaTable).isEmpty)
      assert(PlanWitness.collectNodes(viaTable) {
        case g: GenerateExec if g.boundGenerator.toString.toLowerCase.contains("shingle") => g
      }.isEmpty, "grams=Some(table) must not re-shingle")
    } finally { gramTable.unpersist(); () }
  }

  test("repetitionSignals: top-token share and distinct ratio per doc") {
    val docs = Seq((1L, "a a a b"), (2L, "w x y z")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(docs, "doc_id")
      .orderBy("doc_id")
      .select("n_tokens", "n_distinct", "top_token_share", "distinct_ratio")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(r == Seq((4L, 2L, 0.75, 0.5), (4L, 4L, 0.25, 1.0)))
  }

  test("scrubPii masks emails, IPv4s and long digit runs; short numbers survive") {
    val out = Seq("mail a.b@x.io ip 192.168.0.1 acct 12345678 ok 123")
      .toDF("text").select(F.scrubPii(col("text")).as("s")).as[String].head()
    assert(out == "mail <EMAIL> ip <IP> acct <NUM> ok 123")
    // catch-all local@host: IP-literal and single-label domains must not
    // leak the identifying local part; separator phones are numbers too
    val hard = Seq("joe.smith@10.2.3.4 or joe@localhost tel 555-123-4567")
      .toDF("text").select(F.scrubPii(col("text")).as("s")).as[String].head()
    assert(hard == "<EMAIL> or <EMAIL> tel <NUM>")
  }

  test("simhash hamming 0 for identical docs; simHashPairs finds them") {
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docs, "doc_id", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("ngramJaccard verifies candidate pairs exactly") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d x"), (3L, "p q r s t")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(pairs, docs, "doc_id")
      .orderBy("id_a", "id_b").select("jaccard").as[Double].collect()
    assert(out(0) > 0.3 && out(1) == 0.0)
  }

  test("quantizeInt8: exact codes, zero-vector safe, small reconstruction error") {
    val embs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(embs, "vec_id", "embedding")
      .orderBy("vec_id")
      .select("max_abs", "codes")
      .as[(Double, Seq[Byte])].collect().toSeq
    // floor(x/maxAbs*127 + 0.5): 1.0→127, -0.5→floor(-63.0)=-63, 0.25→floor(32.25)=32
    assert(q == Seq((1.0, Seq[Byte](127, -63, 32)), (0.0, Seq[Byte](0, 0, 0))))
    // codes are REAL bytes (the 4x memory point), bounded, small error
    val full = Similarity.quantizeInt8(
      Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding")
    assert(full.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)
      || full.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, containsNull = true))
    import org.apache.spark.sql.functions.{max => smax}
    val worstCode = full
      .select(smax(array_max(transform(col("codes"), c => abs(c)))).cast("int")).as[Int].head()
    assert(worstCode <= 127)
    // the fixture embeddings are 64-dim: worst case err2 <= dims*(step/2)^2
    // = 64/4 * step^2 = 16 step^2 with step = maxAbs/127
    val audit = Similarity.quantError(
      Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding")
    val bad = audit.where(col("err2") > col("max_abs") * col("max_abs") / (127.0 * 127.0) * 16)
    assert(bad.isEmpty)
    // the kernels equal the array_max(transform) + transform(when) form
    // they replaced, on every fixture vector
    val legacyMax = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val legacy = Tables.load(spark, sfDir, "embeddings").select(col("vec_id"),
      legacyMax.as("max_abs"),
      transform(col("embedding"), x => when(legacyMax === 0d, lit(0).cast("byte"))
        .otherwise(floor(x.cast("double") / legacyMax * 127d + 0.5d).cast("byte"))).as("codes"))
    val kernel = full.select("vec_id", "max_abs", "codes")
    assert(kernel.count() > 0 &&
      kernel.exceptAll(legacy).isEmpty && legacy.exceptAll(kernel).isEmpty)
    // the BUILD pass (scale + codes) is codegen kernels, not transform
    // lambdas — quantError's audit folds stay HOFs by design (sampled
    // diagnostic, not the corpus pass)
    val plan = Similarity.quantizeInt8(embs, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction") && !plan.contains("transform("),
      plan)
    // a null ELEMENT is malformed input: loud error, never a silent
    // 0-read of the slot under the null bit
    val withNull = Seq((9L, Seq[java.lang.Float](1.0f, null)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.quantizeInt8(withNull, "vec_id", "embedding").collect()
    }
    assert(e.getMessage != null && (e.getMessage.contains("null element") ||
      Option(e.getCause).exists(_.getMessage.contains("null element"))),
      e.toString)
    // an EMPTY vector quantizes to an empty code array (the legacy
    // combinator's behavior), NOT to null via vec_max_abs's null
    // propagating through the kernel — exercised through both the
    // interpreted eval (local relation) and a codegen-capable plan
    val empty = Seq((7L, Seq.empty[Float]), (8L, Seq(2.0f)))
      .toDF("vec_id", "embedding")
    val eq = Similarity.quantizeInt8(empty, "vec_id", "embedding")
      .orderBy("vec_id").select("codes").as[Seq[Byte]].collect().toSeq
    assert(eq == Seq(Seq.empty[Byte], Seq[Byte](127)), eq.toString)
    val eqCodegen = Similarity.quantizeInt8(
      empty.repartition(1).localCheckpoint(true), "vec_id", "embedding")
      .orderBy("vec_id").select("codes").as[Seq[Byte]].collect().toSeq
    assert(eqCodegen == Seq(Seq.empty[Byte], Seq[Byte](127)), eqCodegen.toString)
  }

  test("bruteForceTopK returns k nearest by cosine, self excluded") {
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(embs.where(col("vec_id") === 0), embs, "vec_id", "embedding", 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq
    assert(out == Seq((1, 3L), (2, 1L)))
  }

  test("lshTopK finds same top-1 as brute force for aligned vectors") {
    val embs = Seq(
      (0L, Seq.fill(64)(1.0f)), (1L, Seq.fill(64)(0.99f)), (2L, Seq.fill(64)(-1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(embs.where(col("vec_id") === 0), embs, "vec_id", "embedding", 1,
      bands = 8, bitsPerBand = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("languageId picks the profile with most signature hits") {
    val docs = Seq((1L, "le chat noir"), (2L, "the black cat")).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(docs,
      Map("fr" -> Seq("le", "chat", "noir"), "en" -> Seq("the", "black", "cat")))
      .orderBy("doc_id").select("lang_pred").as[String].collect().toSeq
    assert(out == Seq("fr", "en"))
  }

  test("languageId with the shipped function-word profiles identifies real sentences") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was happy with that"),
      (2L, "le chat est sur la table et il ne veut pas partir pour le moment"),
      (3L, "der hund ist nicht mit der katze auf dem sofa aber er war im garten"),
      (4L, "el perro está en la casa y no quiere salir porque hace más frío"),
      (5L, "il gatto non è sulla sedia ma anche il cane era con lui per ora"),
      (6L, "de hond is niet met de kat op de bank maar ook niet in de tuin"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.languageId(docs)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "fr", 3L -> "de", 4L -> "es", 5L -> "it", 6L -> "nl"))
  }

  test("fingerprint is order-sensitive (rolling, not bag) and content-bearing (not length-shaped)") {
    val docs = Seq((1L, "a bb ccc"), (2L, "ccc bb a")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(docs).select("fp").as[Long].collect().toSeq
    assert(fps(0) != fps(1))
    // hand-computed against the published arithmetic (matches the
    // DuckDB replay): h(a)=97, h(bb)=12936, h(ccc)=1712007 →
    // ((97·31+12936)·31+1712007) = 2206240
    assert(fps(0) == 2206240L)
    // the length-only fold this replaced keyed ONLY on token lengths:
    // same-shape documents must NOT collide any more (the seen-store
    // and every sampler/split key on this)
    import graft.functions.TokenFolds
    assert(TokenFolds.fingerprint("the cat sat") !=
      TokenFolds.fingerprint("his dog ran"))
    // empty tokens contribute 0, astral codepoints fold as ONE codepoint
    assert(TokenFolds.fingerprint("") == 0L)
    assert(TokenFolds.fingerprint("  ") == 0L)
    assert(TokenFolds.fingerprint("é 中 😀") == 972828L)
  }

  test("severity thresholds mirror the reference tables") {
    import graft.heuristics.Severity
    // HeapUsage boundaries (HeapUsage.java:84-87)
    assert(Severity.heapUsage(100, 70, 0) == Severity.None)   // ratio 30
    assert(Severity.heapUsage(100, 69, 0) == Severity.Low)    // ratio 31
    assert(Severity.heapUsage(100, 49, 0) == Severity.Moderate)
    assert(Severity.heapUsage(100, 29, 0) == Severity.Severe)
    assert(Severity.heapUsage(100, 10, 1) == Severity.None)   // major GC discards
    // Locks (Locks.java:36-40)
    assert(Severity.locks(10) == Severity.None)
    assert(Severity.locks(11) == Severity.Low)
    assert(Severity.locks(51) == Severity.Moderate)
    assert(Severity.locks(101) == Severity.Severe)
    assert(Severity.locks(501) == Severity.Critical)
    // Safepoints (Safepoints.java:36-40)
    assert(Severity.safepoints(3) == Severity.None)
    assert(Severity.safepoints(4) == Severity.Low)
    assert(Severity.safepoints(6) == Severity.Moderate)
    assert(Severity.safepoints(8) == Severity.Severe)
    assert(Severity.safepoints(11) == Severity.Critical)
    // CodeCacheUsage (CodeCacheUsage.java:43-46): within 5% of max ⇒
    // MODERATE; degenerate max = 0 is MODERATE too — IDENTICAL to the
    // distributed HeuristicAggs.codeCacheUsage (an extra max > 0 guard
    // here once made the two flavors contradict on degenerate stats)
    assert(Severity.codeCache(100, 96) == Severity.Moderate) // within 5%
    assert(Severity.codeCache(100, 94) == Severity.None)     // 6% clear
    assert(Severity.codeCache(0, 0) == Severity.Moderate)    // degenerate
  }

  test("contaminatedIds flags docs sharing a k-gram with the eval set; decontaminate drops them") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // shares the eval 3-gram
      (2L, "zeta eta theta iota kappa"),        // disjoint
      (3L, "one two alpha beta gamma"))         // shares it at a different offset
      .toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma prime")).toDF("doc_id", "text")
    val hit = TextAnalysis.contaminatedIds(corpus, eval, "doc_id", k = 3)
      .as[Long].collect().toSet
    assert(hit == Set(1L, 3L))
    val clean = TextAnalysis.decontaminate(corpus, eval, "doc_id", k = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(clean == Seq(2L))
  }

  test("dupNgramStats: shared-gram fraction per doc, exact counts") {
    val docs = Seq(
      (1L, "a b c d e"),       // 3-grams: abc bcd cde
      (2L, "a b c x y"),       // abc bcx cxy — shares abc with doc 1
      (3L, "p q r s t"))       // disjoint
      .toDF("doc_id", "text")
    val r = TextAnalysis.dupNgramStats(docs, "doc_id", k = 3)
      .orderBy("doc_id")
      .select("n_grams", "n_shared", "dup_fraction")
      .as[(Long, Long, Double)].collect().toSeq
    assert(r == Seq((3L, 1L, 1.0 / 3), (3L, 1L, 1.0 / 3), (3L, 0L, 0.0)))
  }

  test("dropSharedSpans cuts cross-doc spans, keeps unique content, empties full dups") {
    val docs = Seq(
      (1L, "SHARED HEADER LINE alpha beta"),
      (2L, "SHARED HEADER LINE gamma delta"),
      (3L, "unique content only here now"),
      (4L, "same exact text twice here"),
      (5L, "same exact text twice here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dropSharedSpans(docs, "doc_id", k = 3)
      .orderBy("doc_id")
      .select("kept_text", "n_tokens_kept")
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(
      ("alpha beta", 2L),          // header span cut
      ("gamma delta", 2L),
      ("unique content only here now", 5L), // untouched
      ("", 0L), ("", 0L)))         // exact dups fully covered
    // the token rebuild is a codegen scalar, not an interpreted transform()
    val plan = TextAnalysis.dropSharedSpans(docs, "doc_id", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_join_structs"), plan)
    assert(!plan.contains("lambdafunction") && !plan.contains("transform("), plan)
  }

  test("chunk emits overlapping fixed-size windows covering every token") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(docs, "doc_id", chunkTokens = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_tokens", "chunk_text")
      .as[(Int, Long, String)].collect().toSeq
    // start=9 is suppressed: chunk 2 already covered through t10, so a
    // "t10"-only tail would be pure duplication
    assert(chunks == Seq(
      (0, 4L, "t1 t2 t3 t4"), (1, 4L, "t4 t5 t6 t7"), (2, 4L, "t7 t8 t9 t10")))
    // stride == chunkTokens → disjoint cover, total tokens preserved
    val disjoint = TextAnalysis.chunk(docs, "doc_id", chunkTokens = 4, stride = 4)
      .agg(sum("chunk_tokens")).as[Long].head()
    assert(disjoint == 10L)
    // every token of every doc appears in >= 1 chunk (coverage, no gaps)
    val multi = Seq((1L, (1 to 9).map(i => s"a$i").mkString(" ")), (2L, "b1 b2"))
      .toDF("doc_id", "text")
    val covered = TextAnalysis.chunk(multi, "doc_id", chunkTokens = 4, stride = 2)
      .select(col("doc_id"), explode(split(col("chunk_text"), " ")).as("tok"))
      .distinct().count()
    assert(covered == 11)
  }

  test("packSequences: content-determined bins, ordered fill, docs counted once") {
    val docs = Tables.load(spark, sfDir, "documents")
    val packed = TextAnalysis.packSequences(docs, "doc_id", budgetTokens = 256, numBins = 8)
    // every doc appears exactly once
    assert(packed.count() == docs.count())
    assert(packed.select("doc_id").distinct().count() == docs.count())
    // replay-stable under reordering
    val again = TextAnalysis.packSequences(
      docs.orderBy(rand(5)), "doc_id", budgetTokens = 256, numBins = 8)
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
    // cut discipline: within a bin, pack p+1's docs start at cumulative
    // token offsets >= (p+1) * budget — packs are contiguous cuts
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bin").orderBy("pack_id")
    val packs = packed.groupBy("bin", "pack_id")
      .agg(sum("n_tokens").as("tok"))
      .withColumn("cum", sum("tok").over(w))
      .withColumn("next_start", col("cum") - col("tok"))
      .where(col("pack_id") > 0)
    // a pack with index p starts at offset in [p*256, (p+1)*256)
    val bad = packs.where(
      col("next_start") < col("pack_id") * 256 ||
        col("next_start") >= (col("pack_id") + 1) * 256).count()
    assert(bad == 0)
  }

  test("lmFamiliarity: hit counts vs a reference bigram table, zero-bigram docs kept") {
    val ref = Seq("the cat sat", "the cat ran").toDF("text")
    val lm = TextAnalysis.bigramCounts(ref)
    // model: "the cat" ×2, "cat sat" ×1, "cat ran" ×1
    assert(lm.as[(String, Long)].collect().toMap ==
      Map("the cat" -> 2L, "cat sat" -> 1L, "cat ran" -> 1L))
    val docs = Seq(
      (1L, "the cat sat"),   // both bigrams known: fam 1.0, mass 2+1
      (2L, "dog cat sat"),   // "dog cat" unseen, "cat sat" hit: fam 0.5
      (3L, "solo"),          // one token → no bigrams → zeroed, fam 0.0
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.lmFamiliarity(docs, lm, "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "hit_bigrams", "hit_mass", "familiarity")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 2L, 3L, 1.0),
      (2L, 2L, 1L, 1L, 0.5),
      (3L, 0L, 0L, 0L, 0.0),
      (4L, 0L, 0L, 0L, 0.0)))
    // the bigram stream is the WordShingles codegen kernel now, not a
    // zip_with lambda — including on degenerate whitespace, where the
    // shingle byte-spans must equal concat(a, ' ', b) of the raw tokens
    val weird = Seq((1L, "a  b"), (2L, " x"), (3L, "w1 w2 w3"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.bigramStream(col("text")).as("bg"))
    assert(weird.orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq ==
      Seq((1L, Seq("a ", " b")), (2L, Seq(" x")), (3L, Seq("w1 w2", "w2 w3"))))
    // and it equals the zip_with form it replaced on every fixture document
    val toks = split(col("text"), " ")
    val zipForm = when(size(toks) >= 2, zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val fixtureDocs = Tables.load(spark, sfDir, "documents")
    assert(fixtureDocs.count() > 0 &&
      fixtureDocs.where(TextAnalysis.bigramStream(col("text")) =!= zipForm).isEmpty)
    val plan = docs.select(TextAnalysis.bigramStream(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction") && !plan.contains("zip_with"), plan)
  }

  test("qualityGate: per-group rank cut, doc_id tiebreak, floor semantics") {
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      // s1: qualities strictly ordered by token count (all < 50 tokens)
      (1L, "s1", toks(40, "a") + " the of and in is"), // highest: len + stopwords
      (2L, "s1", toks(20, "b")),
      (3L, "s1", toks(20, "b")),                        // tie with doc 2 → doc 2 wins rank
      (4L, "s1", toks(2, "c")),
      // s2: one doc → floor(1 * 1/2) = 0 kept
      (9L, "s2", toks(10, "z"))).toDF("doc_id", "source", "text")
    val kept = TextAnalysis.qualityGate(docs, "source", "doc_id", 1, 2)
      .select("doc_id", "rnk").as[(Long, Long)].collect().toMap
    assert(kept == Map(1L -> 1L, 2L -> 2L)) // floor(4/2)=2 from s1, none from s2
  }

  test("qualityGateApprox tracks the exact gate's kept fraction per group") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val approx = TextAnalysis.qualityGateApprox(docs, "source", keepFrac = 0.5)
    // kept mass close to the target fraction overall (threshold ties can
    // only ADD docs, approx rank error is tiny at this accuracy)
    val keptN = approx.count()
    assert(keptN >= n * 45 / 100 && keptN <= n * 56 / 100,
      s"kept $keptN of $n — not within tolerance of the 50% target")
    // every kept doc's quality clears its own group's threshold by
    // construction: verify against the exact gate — the approx-kept set
    // must contain the exact gate's CLEARLY-above-cut docs (rank well
    // inside the kept half can only be excluded by a wrong threshold)
    val exact = TextAnalysis.qualityGate(docs, "source", "doc_id", 2, 5) // top 40%
    val missing = exact.select("doc_id").exceptAll(approx.select("doc_id")).count()
    assert(missing == 0, s"$missing top-40% docs missing from the approx top-50% gate")
  }

  test("qualityGateApprox gates a null group as a real stratum (no silent drop)") {
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, null: String, toks(40, "a") + " the of and in is"),
      (2L, null: String, toks(2, "b")),
      (3L, "s", toks(40, "c") + " the of and in is"),
      (4L, "s", toks(2, "d"))).toDF("doc_id", "source", "text")
    val kept = TextAnalysis.qualityGateApprox(docs, "source", keepFrac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // the null group gates like any other — its best doc survives (an
    // equi-join on the group key would have dropped ids 1 and 2 outright)
    assert(kept.contains(1L), "best null-group doc must survive the gate")
    assert(kept.contains(3L))
  }
}

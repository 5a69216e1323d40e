package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3L, "completely different content talking about spark catalyst optimizer rules"),
    (4L, "another unrelated text on minhash lsh banding and jaccard similarity")
  ).toDF("doc_id", "text")

  test("nearDuplicatePairs finds the planted near-dup pair and only it") {
    val pairs = NearDup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("nearDuplicatePairs: exact-duplicate cliques collapse — in-clique " +
    "pairs at jaccard 1.0, cross pairs expand to every member") {
    // clique A: 5 identical docs; clique B: 3 identical docs one trailing
    // word away from A (shingle jaccard 5/7 ≈ 0.714); one unrelated loner
    val cliqueA = (0 until 5).map(i =>
      (10L + i, "alpha beta gamma delta epsilon zeta eta theta"))
    val cliqueB = (0 until 3).map(i =>
      (20L + i, "alpha beta gamma delta epsilon zeta eta iota"))
    val df = (cliqueA ++ cliqueB :+
      ((99L, "totally unrelated content sharing nothing at all whatsoever")))
      .toDF("doc_id", "text")
    val pairs = NearDup.nearDuplicatePairs(df, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val within = pairs.filter(_._3 == 1.0).map(p => (p._1, p._2)).toSet
    val expectA = (for { a <- 10L until 15L; b <- 10L until 15L if a < b }
      yield (a, b)).toSet
    val expectB = (for { a <- 20L until 23L; b <- 20L until 23L if a < b }
      yield (a, b)).toSet
    assert(within == expectA ++ expectB)
    // cross-clique: all 5×3 member pairs, each carrying the SAME exact
    // jaccard as the representative pair (identical sets per clique)
    val cross = pairs.filter(p => p._1 < 20 && p._2 >= 20 && p._2 < 99)
    assert(cross.length == 15)
    assert(cross.map(_._3).distinct.length == 1)
    assert(math.abs(cross.head._3 - 5.0 / 7.0) < 1e-9)
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("randomized differential vs brute force: precision exact, recall " +
    "total at s ≥ 0.7, emitted jaccard values bit-equal") {
    // 40 random docs over a 10-word vocabulary (dense shingle overlap →
    // many borderline pairs), a planted 6-clique of exact copies, and a
    // planted one-token-edit near-dup. MinHash is seed-deterministic, so
    // the banding outcome is FIXED — this is a regression pin, not a
    // flaky sample.
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val base = (0 until 40).map { i =>
      val len = 8 + rnd.nextInt(7)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val clique = (0 until 6).map(i => (100L + i, base.head._2))
    val nearDup = Seq((200L, base(1)._2.split(" ").updated(0, "omega").mkString(" ")))
    val docs = base ++ clique ++ nearDup
    val df = docs.toDF("doc_id", "text")

    def shingleSet(t: String): Set[String] = {
      val w = t.trim.split("\\s+").toSeq
      if (w.size >= 3) w.sliding(3).map(_.mkString(" ")).toSet
      else Set(w.mkString(" "))
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    def jac(a: Long, b: Long): Double = {
      val i = (sets(a) & sets(b)).size
      i.toDouble / (sets(a).size + sets(b).size - i)
    }
    val idsAll = docs.map(_._1)
    val brute = (for { a <- idsAll; b <- idsAll if a < b; j = jac(a, b)
      if j >= 0.5 } yield (a, b) -> j).toMap

    val got = NearDup.nearDuplicatePairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision is EXACT: every emitted pair is in the brute-force set
    // with the identical jaccard (the collapse's 1.0 emission and
    // rep-pair expansion must not drift from the verified value)
    got.foreach { case (pair, j) =>
      assert(brute.contains(pair), s"false positive $pair")
      assert(j == brute(pair), s"jaccard drift at $pair: $j vs ${brute(pair)}")
    }
    // recall at s ≥ 0.7 is total (P(band miss) ≤ (1−0.49)^32 ≈ 4e-10,
    // and identical-set cliques bypass banding entirely)
    brute.filter(_._2 >= 0.7).keys.foreach { pair =>
      assert(got.contains(pair), s"missed high-similarity pair $pair")
    }
    // the planted structures surfaced
    val cliqueIds = clique.map(_._1)
    for (a <- cliqueIds; b <- cliqueIds if a < b)
      assert(got.get((a, b)).contains(1.0))
    assert(got.keys.exists(p => p._1 == 1L && p._2 == 200L))
  }

  test("nearDuplicatePairs: a clique larger than maxBucketSize is dropped " +
    "wholesale (the cap contract at clique granularity)") {
    val big = (0 until 12).map(i =>
      (i.toLong, "same words repeated in every document of this clique"))
      .toDF("doc_id", "text")
    val arrays = NearDup.docShingleArrays(big, "doc_id", "text")
    assert(NearDup.nearDuplicatePairsFromDocArrays(arrays, 0.5,
      maxBucketSize = 10).count() == 0)
    assert(NearDup.nearDuplicatePairsFromDocArrays(arrays, 0.5,
      maxBucketSize = 12).count() == 66)
  }

  test("null-text documents never pair — both collapse paths match the " +
    "pre-collapse behavior") {
    // pre-collapse, null docs produced no shingle rows (MinHash) and a
    // null hamming (SimHash) and so never surfaced; the fingerprint
    // grouping must not herd them into a spurious mutual-duplicate clique
    val df = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("real content with enough words for shingles here")),
      (4L, Option.empty[String])).toDF("doc_id", "text")
    assert(NearDup.nearDuplicatePairs(df, "doc_id", "text", 0.5).count() == 0)
    assert(NearDup.simhashNearDups(df, "doc_id", "text",
      maxHamming = 3, bands = 4).count() == 0)
  }

  test("exact shingle jaccard of identical docs is 1.0") {
    val two = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val sh = NearDup.shingles(two, "doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = NearDup.exactJaccard(sh, pairs).select("jaccard").as[Double].collect().head
    assert(j == 1.0)
  }

  test("simhash: identical docs get identical signatures, hamming 0") {
    val two = Seq((1L, "spark is a distributed engine"),
      (2L, "spark is a distributed engine"),
      (3L, "entirely other words appear here")).toDF("doc_id", "text")
    val sig = NearDup.simhash(two, "doc_id", "text")
    val m = sig.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    val d = NearDup.hamming(lit(m(1L)), lit(m(3L)))
    val dist = spark.range(1).select(d.as("h")).as[Long].collect().head
    assert(dist > 0)
  }

  test("simhashNearDups: banded blocking finds every pair within the radius") {
    // short fixture docs move ~5 bits per differing word -> radius 7 with 8
    // bands (pigeonhole guarantee holds for maxHamming < bands)
    val pairs = NearDup.simhashNearDups(docs, "doc_id", "text",
        maxHamming = 7, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // exhaustive check: banding must equal the brute-force answer
    val sigs = NearDup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 7
    } yield (a, b)).toSet
    assert(pairs == brute)
  }

  test("simhashNearDups: degenerate corpus (one hot bucket) is capped, not quadratic") {
    // 400 identical docs all hash to the SAME simhash, so every (band, chunk)
    // bucket holds all 400 ids — an uncapped self-join would expand
    // 400×400×4 bands ≈ 640k rows. With maxBucketSize below the bucket size
    // the hot buckets are dropped entirely and the planted distinct pair
    // (each band bucket of size 2) still comes through.
    val degenerate = (1L to 400L).map(i => (i, "lorem ipsum dolor sit amet " * 3)) ++
      Seq((900L, "a genuinely distinct document about catalyst planner internals"),
          (901L, "a genuinely distinct document about catalyst planner detail"))
    val df = degenerate.toDF("doc_id", "text")
    val pairs = NearDup.simhashNearDups(df, "doc_id", "text",
      maxHamming = 7, bands = 8, maxBucketSize = 100)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every surviving pair is from the small bucket; no pair touches the hot
    // 400-doc clique (its buckets all exceeded the cap)
    assert(got.nonEmpty)
    assert(got.forall { case (a, b) => a >= 900L && b >= 900L })
    // and with a cap that admits the clique, identical docs DO pair up
    val uncapped = NearDup.simhashNearDups(df.limit(10), "doc_id", "text",
      maxHamming = 3, bands = 4, maxBucketSize = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size >= 10 * 9 / 2 - 10) // near-complete clique of the 10 identical docs
  }

  test("simhashNearDups: identical-signature cliques collapse — in-clique " +
    "pairs at hamming 0, cross pairs to every member with the exact distance") {
    // 8 identical docs (one simhash clique) + 3 identical near-variants
    // (a second clique 10 bits away) + a far-away loner. The collapse
    // must emit all C(8,2)+C(3,2) in-clique pairs at hamming 0 and all
    // 8×3 cross pairs at the SAME exact rep distance — with the clique
    // banding once, not 8 times.
    val a = (0 until 8).map(i =>
      (10L + i, "the catalyst optimizer rewrites logical plans into physical plans"))
    val b = (0 until 3).map(i =>
      (30L + i, "the catalyst optimizer rewrites logical plans into physical stages"))
    val docs = a ++ b :+ ((99L, "unrelated text entirely: marmalade recipes and camping"))
    val df = docs.toDF("doc_id", "text")
    // rep distance from the signatures directly
    val sigs = NearDup.simhash(df, "doc_id", "text").as[(Long, Long)].collect().toMap
    val d = java.lang.Long.bitCount(sigs(10L) ^ sigs(30L))
    assume(d >= 1 && d <= 15, s"fixture drift: variant distance $d outside (0, 15]")
    val got = NearDup.simhashNearDups(df, "doc_id", "text",
        maxHamming = 15, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val idsA = a.map(_._1); val idsB = b.map(_._1)
    for (x <- idsA; y <- idsA if x < y) assert(got.get((x, y)).contains(0))
    for (x <- idsB; y <- idsB if x < y) assert(got.get((x, y)).contains(0))
    for (x <- idsA; y <- idsB) assert(got.get((x, y)).contains(d))
    assert(!got.keys.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("connectedComponents labels chains, triangles and isolates-in-pairs") {
    // chain 1-2-3-4 (diameter 3: needs multiple propagation rounds),
    // triangle 10-11-12 with extra edge, disjoint pair 20-21
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents collapses a long path within the iteration bound") {
    // path of 40 nodes (diameter 39) — naive neighbour-min would need 39
    // rounds; the pointer-jumping step must collapse it within the default
    // iteration bound
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(edges)
      .as[(Long, Long)].collect()
    assert(got.length == 40 && got.forall(_._2 == 0L))
  }

  test("connectedComponents with reliable checkpointing converges to the same labels") {
    // cluster-durability path: every 2nd round goes through a RELIABLE
    // checkpoint() to the checkpoint dir instead of executor-local blocks
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      // asking for reliable checkpoints with nowhere to put them fails fast
      intercept[IllegalArgumentException] {
        NearDup.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"),
          reliableEvery = 2)
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val edges = ((0L until 39L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
        .toDF("id_a", "id_b")
      val got = NearDup.connectedComponents(edges, reliableEvery = 2)
        .as[(Long, Long)].collect().toMap
      assert(got.size == 42)
      assert((0L to 39L).forall(got(_) == 0L))
      assert(got(100L) == 100L && got(101L) == 100L)
      // the reliable path actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliableEvery must route through checkpoint()")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("incrementalNearDupPairs finds exactly the cross-side pairs of the full run") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (10L, base), // new batch (ids % 10 == 0)
      (20L, base + " extra"),
      (1L, base), // corpus
      (2L, base + " extra"),
      (3L, "completely unrelated text about spark query engines and planning")
    ).toDF("doc_id", "text")
    val newB = docs.filter(col("doc_id") % 10 === 0)
    val old = docs.filter(col("doc_id") % 10 =!= 0)
    val got = NearDup.incrementalNearDupPairs(newB, old, "doc_id", "text", 0.7)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    // full-run pairs restricted to one-new-one-old, oriented new-first
    val full = NearDup.nearDuplicatePairs(docs, "doc_id", "text", 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = full.collect {
      case (a, b) if (a % 10 == 0) != (b % 10 == 0) =>
        if (a % 10 == 0) (a, b) else (b, a)
    }
    assert(got == want && got.nonEmpty)
    // and no old-old pair leaks through (1,2) are near-dups of each other
    assert(!got.exists { case (n, o) => n % 10 != 0 })
  }

  test("indexed incrementalNearDupPairs from a parquet round-trip matches the direct path") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, "completely unrelated text about spark query engines and planning")
    ).toDF("doc_id", "text")
    val batch = Seq((10L, base), (20L, base + " extra")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup-idx").toString
    try {
      NearDup.NearDupIndex.save(NearDup.buildIndex(corpus, "doc_id", "text"), dir)
      val index = NearDup.NearDupIndex.load(spark, dir)
      // the stored meta round-trips the build parameters
      assert(index.numHashes == 64 && index.bands == 32 && index.shingleSize == 3)
      val indexed = NearDup.incrementalNearDupPairs(batch, index, "doc_id", "text",
          threshold = 0.7, maxBucketSize = 1000)
        .as[(Long, Long, Double)].collect().toSet
      val direct = NearDup.incrementalNearDupPairs(batch, corpus, "doc_id", "text", 0.7)
        .as[(Long, Long, Double)].collect().toSet
      assert(indexed == direct && indexed.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("past the broadcast gate the probe degrades to a shuffled semi with identical results") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, "completely unrelated text about spark query engines and planning")
    ).toDF("doc_id", "text")
    val batch = Seq((10L, base), (20L, base + " extra")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup-gate").toString
    try {
      NearDup.NearDupIndex.save(NearDup.buildIndex(corpus, "doc_id", "text"), dir)
      val index = NearDup.NearDupIndex.load(spark, dir)
      // maxBroadcastKeys = 0: every batch is "past threshold" — the FORCED
      // broadcast hints must vanish (an OOM becomes a shuffle) and the
      // results must not move. Auto-broadcast is disabled for the plan
      // inspection because at test scale Catalyst would (correctly) CHOOSE
      // broadcast for these tiny relations anyway — the gate's contract is
      // only that nothing FORCES it past the threshold.
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (gated, hinted) = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val gatedDf = NearDup.incrementalNearDupPairs(batch, index, "doc_id",
          "text", 0.7, 1000, 0L)
        assert(!gatedDf.queryExecution.executedPlan.toString
            .contains("BroadcastExchange"),
          "gated probe still forces a broadcast")
        val gatedRows = gatedDf.as[(Long, Long, Double)].collect().toSet
        // isolate the second arm: the probe cache()s its reused relations
        // (perDoc/bNew/cand and, since round 21, the verify union), and the
        // session cache manager dedupes PLAN-EQUAL subtrees ignoring hints —
        // without the clear, the hinted arm would silently REUSE the gated
        // arm's hint-free materializations (fine in production: identical
        // data either way; fatal for a plan-string assertion about hints)
        spark.catalog.clearCache()
        val hintedDf = NearDup.incrementalNearDupPairs(batch, index, "doc_id",
          "text", threshold = 0.7, maxBucketSize = 1000)
        assert(hintedDf.queryExecution.executedPlan.toString
            .contains("BroadcastExchange"),
          "under-threshold probe lost its broadcast hints")
        (gatedRows, hintedDf.as[(Long, Long, Double)].collect().toSet)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      assert(gated == hinted && gated.nonEmpty)
      // same gate on the two-frame overload
      val gated2 = NearDup.incrementalNearDupPairs(batch, corpus, "doc_id",
          "text", 0.7, maxBroadcastKeys = 0L)
        .as[(Long, Long, Double)].collect().toSet
      assert(gated2 == hinted)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("extendIndex folds a batch in so later dedup sees the union corpus") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpusA = Seq((1L, base),
      (3L, "completely unrelated text about spark query engines and planning"))
      .toDF("doc_id", "text")
    val batchB = Seq((2L, base + " extra")).toDF("doc_id", "text")
    val batchC = Seq((10L, base), (20L, base + " extra")).toDF("doc_id", "text")
    val extended = NearDup.extendIndex(
      NearDup.buildIndex(corpusA, "doc_id", "text"), batchB, "doc_id", "text")
    val viaExtended = NearDup.incrementalNearDupPairs(batchC, extended,
        "doc_id", "text", threshold = 0.7, maxBucketSize = 1000)
      .as[(Long, Long, Double)].collect().toSet
    val viaDirect = NearDup.incrementalNearDupPairs(batchC,
        corpusA.unionByName(batchB), "doc_id", "text", 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaExtended == viaDirect && viaExtended.nonEmpty)
    // the extension saw doc 2: C's "+ extra" twin must match against it
    assert(viaExtended.exists { case (n, o, _) => n == 20L && o == 2L })
  }

  test("compactIndex drops dead ids, merges fragments, and dedups identically") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpusA = Seq((1L, base),
      (3L, "completely unrelated text about spark query engines and planning"),
      (5L, "to be dropped from the corpus by the maintenance pass entirely"))
      .toDF("doc_id", "text")
    val batchB = Seq((2L, base + " extra"),
      (7L, "another doomed document that compaction must fully remove"))
      .toDF("doc_id", "text")
    val probe = Seq((10L, base), (20L, base + " extra")).toDF("doc_id", "text")
    val frag = NearDup.extendIndex(
      NearDup.buildIndex(corpusA, "doc_id", "text"), batchB, "doc_id", "text")
    val keep = Seq(1L, 2L, 3L).toDF("id")
    val compacted = NearDup.compactIndex(frag, keep)
    // dead ids are gone from BOTH relations
    assert(compacted.shingles.filter(col("id").isin(5L, 7L)).count() == 0)
    assert(compacted.buckets.select(explode(col("ids")).as("id"))
      .filter(col("id").isin(5L, 7L)).count() == 0)
    // fragments merged: one row per bucket key
    assert(compacted.buckets.groupBy("bk").count()
      .filter(col("count") > 1).count() == 0)
    // survivors intact: every kept doc still occupies one bucket per band
    assert(compacted.buckets.select(explode(col("ids")).as("id")).count() == 3 * 32)
    // and dedup against the compacted index equals dedup against the
    // surviving corpus built from scratch
    val viaCompacted = NearDup.incrementalNearDupPairs(probe, compacted,
        "doc_id", "text", threshold = 0.7, maxBucketSize = 1000)
      .as[(Long, Long, Double)].collect().toSet
    val survivors = corpusA.unionByName(batchB).filter(col("doc_id") <= 3)
    val viaFresh = NearDup.incrementalNearDupPairs(probe,
        NearDup.buildIndex(survivors, "doc_id", "text"),
        "doc_id", "text", threshold = 0.7, maxBucketSize = 1000)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaCompacted == viaFresh && viaCompacted.nonEmpty)
  }

  test("indexed probe with mismatched LSH parameters is unrepresentable (params live in the index)") {
    // the ADVICE-flagged failure mode: a batch probed with different
    // numHashes/bands than the stored index silently returns nothing.
    // The API now stores the parameters at build time and the probe reads
    // them from the index — this test pins that a non-default build round-
    // trips its parameters through save/load and still dedups correctly.
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val batch = Seq((10L, base + " now")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup-idx-params").toString
    try {
      NearDup.NearDupIndex.save(
        NearDup.buildIndex(corpus, "doc_id", "text", numHashes = 32, bands = 16), dir)
      val index = NearDup.NearDupIndex.load(spark, dir)
      assert(index.numHashes == 32 && index.bands == 16)
      val got = NearDup.incrementalNearDupPairs(batch, index, "doc_id", "text",
          threshold = 0.5, maxBucketSize = 1000)
        .as[(Long, Long, Double)].collect()
      assert(got.nonEmpty && got.head._1 == 10L && got.head._2 == 1L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("meta CAS: a stale writer fails fast instead of clobbering a concurrent swap") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup-cas").toString
    try {
      NearDup.NearDupIndex.save(NearDup.buildIndex(corpus, "doc_id", "text"), dir)
      // two writers load the same generation; the first swap wins, the
      // second must fail fast (the old last-write-wins silently clobbered)
      val (m, gen) = NearDup.NearDupIndex.readMetaWithGen(spark, dir)
      NearDup.NearDupIndex.writeMetaCas(spark, dir, m.copy(epoch = m.epoch + 1), gen)
      val e = intercept[NearDup.ConcurrentIndexWriteException] {
        NearDup.NearDupIndex.writeMetaCas(spark, dir,
          m.copy(compactedThrough = 99L), gen)
      }
      assert(e.getMessage.contains("generation"))
      // the winner's state is intact
      val after = NearDup.NearDupIndex.readMeta(spark, dir)
      assert(after.epoch == m.epoch + 1 && after.compactedThrough == m.compactedThrough)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compaction keeps the superseded epoch for one grace cycle so in-flight readers finish") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((1L, base),
      (3L, "completely unrelated text about spark query engines and planning"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup-grace").toString
    def exists(name: String) = new java.io.File(s"$dir/$name").exists()
    try {
      NearDup.NearDupIndex.save(NearDup.buildIndex(corpus, "doc_id", "text"), dir)
      // an in-flight reader loads just before the swap...
      val reader = NearDup.NearDupIndex.load(spark, dir)
      val preCount = reader.shingles.count()
      NearDup.NearDupIndex.compactStored(spark, dir, -1L)
      // ...and still collects afterwards: epoch-0 dirs survive one cycle
      assert(exists("shingles") && exists("buckets"), "grace epoch was swept early")
      assert(reader.shingles.count() == preCount,
        "pre-swap reader failed within the grace window")
      val probe = Seq((10L, base)).toDF("doc_id", "text")
      assert(NearDup.incrementalNearDupPairs(probe, reader, "doc_id", "text",
        0.7, 1000).count() > 0)
      // the NEXT compaction expires the grace epoch (bounded garbage)
      NearDup.NearDupIndex.compactStored(spark, dir, -1L)
      assert(!exists("shingles") && !exists("buckets"),
        "epoch 0 must be swept once it is two generations old")
      assert(exists("shingles_e1") && exists("shingles_e2"))
      // the live index is unchanged by either compaction
      val live = NearDup.NearDupIndex.load(spark, dir)
      assert(live.shingles.select("id").distinct().as[Long].collect().toSet
        == Set(1L, 3L))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("appendBatch detects a concurrent epoch swap and demands a replay") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup-race").toString
    try {
      NearDup.NearDupIndex.save(NearDup.buildIndex(corpus, "doc_id", "text"), dir)
      val staleMeta = NearDup.NearDupIndex.readMeta(spark, dir)
      // a compaction swaps the live epoch while the appender holds stale meta
      NearDup.NearDupIndex.compactStored(spark, dir, -1L)
      val batch = NearDup.buildIndex(
        Seq((10L, "fresh streaming document about catalyst planner internals"))
          .toDF("doc_id", "text"), "doc_id", "text")
      val e = intercept[NearDup.ConcurrentIndexWriteException] {
        NearDup.NearDupIndex.appendBatch(dir, staleMeta, batch, 7L)
      }
      assert(e.getMessage.contains("replay"))
      // the appended rows landed in the superseded epoch only — the live
      // epoch is untouched (the batch is NOT silently half-visible)
      val live = NearDup.NearDupIndex.load(spark, dir)
      assert(live.shingles.select("id").distinct().as[Long].collect().toSet
        == Set(1L))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("hashedShingles equals xxhash64 over the string shingles, per doc, with no exchange") {
    import org.apache.spark.sql.functions.xxhash64
    // repeated grams (the in-row dedup case), a short doc, unicode, empty
    val docs = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "just two"),
      (3L, "naïve café naïve café naïve résumé"),
      (4L, ""),
      (5L, "one two three four five")).toDF("doc_id", "text")
    val viaString = NearDup.shingles(docs, "doc_id", "text", 3)
      .select(col("id"), xxhash64(col("shingle")).as("shingle"))
      .as[(Long, Long)].collect().toSet
    val fused = NearDup.hashedShingles(docs, "doc_id", "text", 3)
    assert(fused.as[(Long, Long)].collect().toSet == viaString)
    // per-row output already distinct: no duplicate (id, hash) rows
    val rows = fused.as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size)
    // and the fused form plans WITHOUT the distinct's exchange
    assert(!fused.queryExecution.executedPlan.toString.contains("Exchange"),
      fused.queryExecution.executedPlan.toString)
  }

  test("fused per-row signatures equal the aggregate minhashSignatures, map-side") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "short one"),
      (3L, "naïve café résumé naïve café résumé with unicode tokens here"),
      (4L, "")).toDF("doc_id", "text")
    val perDoc = NearDup.docShingleArrays(docs, "doc_id", "text", 3)
    val fused = perDoc.select(col("id"),
        graft.plans.MinHashSignatureExpr.minhashSignature(col("hs"), 64).as("sig"))
    val viaAgg = NearDup.minhashSignatures(
      NearDup.hashedShingles(docs, "doc_id", "text", 3), 64)
    assert(fused.as[(Long, Seq[Long])].collect().toMap ==
      viaAgg.as[(Long, Seq[Long])].collect().toMap)
    // map-side claim: no exchange anywhere in the fused signature plan
    assert(!fused.queryExecution.executedPlan.toString.contains("Exchange"),
      fused.queryExecution.executedPlan.toString)
  }

  test("fused simhash equals the 64-conditional-sums aggregate form") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The QUICK brown fox  jumps over the lazy dog"), // case/ws-insensitive twin
      (3L, ""), (4L, "solo"),
      (5L, "naïve café résumé tokens with unicode")).toDF("doc_id", "text")
    // the aggregate shape the fused expression replaced — kept here as the
    // differential oracle for the goldens' bit-equality claim
    val tokens = docs.select(col("doc_id").as("id"),
      explode(split(TextFunctions.normalizeWs(lower(col("text"))), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val sums = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, lit(1)).otherwise(lit(-1)))
        .as(s"s$b")
    }
    val viaAgg = tokens.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 64).map(b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val fusedDf = NearDup.simhash(docs, "doc_id", "text")
    assert(fusedDf.as[(Long, Long)].collect().toMap == viaAgg)
    assert(!fusedDf.queryExecution.executedPlan.toString.contains("Exchange"),
      fusedDf.queryExecution.executedPlan.toString)
  }

  test("simhash on arrays with NULL elements matches the aggregate form (no NPE)") {
    // Spark's xxhash64 skips null inputs and returns the seed (42), so a
    // null token contributes as hash 42 — the fused loop must match, not NPE
    val df = Seq(
      (1L, Seq[String]("a", null, "b")),
      (2L, Seq[String](null, null)),
      (3L, Seq[String]("only"))).toDF("id", "words")
    val fused = df.select(col("id"),
        graft.plans.SimHashExpr.simhash(col("words")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val tokens = df.select(col("id"), explode(col("words")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val sums = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, lit(1)).otherwise(lit(-1)))
        .as(s"s$b")
    }
    val viaAgg = tokens.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 64).map(b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(fused == viaAgg)
  }

  test("shingles of a doc shorter than n collapse to one whole-text shingle") {
    val short = Seq((1L, "two words")).toDF("doc_id", "text")
    val got = NearDup.shingles(short, "doc_id", "text", 3)
      .select("shingle").as[String].collect().toSeq
    assert(got == Seq("two words"))
  }

  test("writeRelations settles both writes before the first failure escapes") {
    // the shingles write fails at once; the buckets write is still
    // sleeping through its rows when it does
    val slow = udf { (x: Long) => Thread.sleep(1500); x }
    val shingles = spark.range(0, 4, 1, 2).select(col("id"),
      raise_error(lit("boom-shingles")).cast("string").as("shingle"))
    val buckets = spark.range(0, 8, 1, 4).select(
      struct(slow(col("id")).as("bh")).as("bk"), array(col("id")).as("ids"))
    val dir = java.nio.file.Files.createTempDirectory("neardup-settle").toString
    val err = intercept[Exception] {
      NearDup.NearDupIndex.writeRelations(shingles, buckets, dir, 0, 4, -1L)
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("boom-shingles")), err)
    // the buckets write had finished (committed) before the error escaped
    val committed = new java.io.File(
      NearDup.NearDupIndex.relPath(dir, "buckets", 0), "_SUCCESS")
    assert(committed.exists(), "the error escaped while the buckets write still ran")
    // job-end events reach the status tracker through the async listener
    // bus; allow it a moment, far less than the buckets write's 3 s
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 1000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(tracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${tracker.getActiveJobIds.mkString(",")}")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k (baseline), label-blocked nearest neighbour
  * (IVF-style coarse blocking), per-label centroids (the coarse quantizer),
  * and hyperplane-LSH bucketed ANN (the approximate scale path).
  *
  * Cross-engine float discipline: every element is cast to DOUBLE before any
  * arithmetic and folded strictly left-to-right, so the oracle's sequential
  * list_sum reproduces the identical IEEE result; outputs round to 6 dp but
  * ORDERING always uses the raw double.
  */
object EmbeddingQueries {

  private def q(name: String, oracle: Option[String])(fn: (SparkSession, String) => DataFrame) =
    GraftQuery(name, fn, oracle)

  /** DuckDB mirror of [[VectorFunctions.cosineSimilarity]] (zipped double
    * products summed sequentially; dot / (||a||·||b||)).
    */
  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  // ---------------------------------------------------------------- e01
  /** Brute-force cosine top-5 for 8 query vectors: broadcast the tiny query
    * side, score map-side over the full candidate scan, per-query top-k via
    * a small keyed window.
    */
  val e01_knn_bruteforce = q("e01_knn_bruteforce", Some(
    s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |p AS (
       |  SELECT qid, e.vec_id AS nid, ${cosSql("qv", "e.embedding")} AS c
       |  FROM embeddings e CROSS JOIN qs WHERE e.vec_id <> qid),
       |r AS (SELECT qid, nid, c,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank
       |      FROM p)
       |SELECT qid, CAST(rank AS INT) AS rank, nid, ROUND(c, 6) AS cos
       |FROM r WHERE rank <= 5""".stripMargin)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = emb.select(col("vec_id").as("nid"), col("embedding").as("cv"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("c", graft.plans.CosineSimilarityExpr.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), round(col("c"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e02
  /** Per-label centroid, long form (label, dim, value) — the coarse-quantizer
    * step of an IVF index. Per-dimension means route through DECIMAL(38,18)
    * so the shuffle-order-dependent double sum can't diverge from the oracle.
    */
  val e02_centroids = q("e02_centroids", Some(
    """SELECT label, CAST(i - 1 AS INT) AS dim,
      |  ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
      |        / COUNT(*), 6) AS centroid
      |FROM (SELECT label, unnest(embedding) AS x,
      |             generate_subscripts(embedding, 1) AS i
      |      FROM embeddings)
      |GROUP BY label, dim""".stripMargin)) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(round(
        sum(col("x").cast(DoubleType).cast(DecimalType(38, 18))).cast(DoubleType)
          / count(lit(1)), 6).as("centroid"))
  }

  // ---------------------------------------------------------------- e03
  /** IVF-style blocked nearest neighbour: for each probe vector, the closest
    * other vector WITHIN ITS LABEL BLOCK — blocking turns the all-pairs
    * O(n²) into O(n²/k), the first step toward a real IVF index.
    */
  val e03_label_block_nn = q("e03_label_block_nn", Some(
    s"""WITH probes AS (SELECT vec_id AS pid, label, embedding AS pv
       |                FROM embeddings WHERE vec_id < 200),
       |p AS (
       |  SELECT pid, e.label, e.vec_id AS nid, ${cosSql("pv", "e.embedding")} AS c
       |  FROM embeddings e JOIN probes USING (label) WHERE e.vec_id <> pid),
       |r AS (SELECT pid, label, nid, c,
       |        ROW_NUMBER() OVER (PARTITION BY pid ORDER BY c DESC, nid) AS rn
       |      FROM p)
       |SELECT pid AS vec_id, label, nid AS nn_id, ROUND(c, 6) AS cos
       |FROM r WHERE rn = 1""".stripMargin)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") < 200)
      .select(col("vec_id").as("pid"), col("label"), col("embedding").as("pv"))
    val scored = emb.select(col("label"), col("vec_id").as("nid"), col("embedding").as("cv"))
      .join(broadcast(probes), Seq("label"))
      .filter(col("nid") =!= col("pid"))
      .withColumn("c", graft.plans.CosineSimilarityExpr.cosine(col("pv"), col("cv")))
    val w = Window.partitionBy(col("pid")).orderBy(col("c").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("pid").as("vec_id"), col("label"), col("nid").as("nn_id"),
        round(col("c"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e04
  /** Hyperplane-LSH bucketed ANN: bucket every vector by a 6-bit
    * random-hyperplane signature, search only the query's bucket. The
    * approximate scale path (recall < 1 by design) → golden-parquet oracle
    * ([[GoldenOracles]]; the signature derives from xxhash64, the scores
    * are per-row IEEE folds — fully deterministic).
    */
  val e04_lsh_ann = q("e04_lsh_ann", GoldenOracles.sqlFor("e04_lsh_ann")) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      // codegen'd signature (bit-equal to VectorFunctions.hyperplaneSignature
      // — golden-verified); the HOF form remains the readable reference
      .withColumn("sig", graft.plans.HyperplaneSignatureExpr
        .signature(col("embedding"), dim = 64, planes = 6))
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("sig"), col("embedding").as("qv"))
    val scored = emb.select(col("sig"), col("vec_id").as("nid"), col("embedding").as("cv"))
      .join(broadcast(qs), Seq("sig"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("c", graft.plans.CosineSimilarityExpr.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("nid"), round(col("c"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e05
  /** Embedding-cosine near-duplicate PAIRS (the dedup-by-embedding operator):
    * all same-label pairs above a similarity threshold, through
    * [[graft.ext.EmbeddingDedup.cosineNearDupPairs]] — ONE shuffle, in-row
    * pair expansion, per-block work bounded by `maxBlockSize` (labels here
    * stay far under the cap, so the oracle sees the lossless result; a
    * degenerate one-key corpus is bounded by construction, proven in
    * EmbeddingDedupSpec). At corpus scale block by IVF cell instead
    * ([[graft.ext.EmbeddingDedup.cosineNearDupsByCell]]) — cell granularity
    * is chosen, label skew is not.
    */
  val e05_cosine_neardup = q("e05_cosine_neardup", Some(
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ROUND(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.42""".stripMargin)) { (s, dir) =>
    graft.ext.EmbeddingDedup.cosineNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        blockCol = "label", threshold = 0.42)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e06
  /** IVF ANN (the indexed scale path): learn a 10-cell codebook (the
    * corpus has 10 natural label clusters — k matching them is what makes
    * cells meaningful; the round-8 sweep measured k=8/16/32 all strictly
    * worse at every budget), route each of 8 queries to its 6 nearest
    * cells, score only those cells' members. Approximate by construction →
    * golden-parquet oracle ([[GoldenOracles]]; the codebook's
    * DECIMAL-summed centroids make the whole index bit-reproducible);
    * recall of this exact configuration is MEASURED and gated by e09.
    */
  val e06_ivf_ann = q("e06_ivf_ann", GoldenOracles.sqlFor("e06_ivf_ann")) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cb = graft.ext.IvfAnn.codebook(emb, "vec_id", "embedding", k = 10, iterations = 1)
    graft.ext.IvfAnn.searchTopK(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", cb, nprobe = 6, topK = 5)
  }

  // ---------------------------------------------------------------- e07
  /** L2 normalization (the pre-step that turns dot product into cosine):
    * per-vector norm plus the first component of the unit vector. The norm
    * is materialized in its own projection and reused — the one-argument
    * `l2Normalize` convenience would inline the fold per element (O(dim²)
    * per row).
    */
  val e07_l2_normalize = q("e07_l2_normalize", Some(
    """WITH n AS (
      |  SELECT vec_id,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
      |    CAST(embedding[1] AS DOUBLE) AS x1
      |  FROM embeddings)
      |SELECT vec_id, ROUND(nrm, 6) AS norm, ROUND(x1 / nrm, 6) AS lead_c
      |FROM n""".stripMargin)) { (s, dir) =>
    Tables.embeddings(s, dir)
      .withColumn("__n", VectorFunctions.l2Norm(col("embedding")))
      .select(col("vec_id"), round(col("__n"), 6).as("norm"),
        round(element_at(
          VectorFunctions.l2Normalize(col("embedding"), col("__n")), 1), 6)
          .as("lead_c"))
  }

  // ---------------------------------------------------------------- e08
  /** Codebook-free embedding near-dup at scale: hyperplane-signature
    * blocking (e04's quantizer, codegen'd) feeding the capped pair
    * expansion — the composition the 10× skew smoke showed fastest.
    * Deterministic (hash-derived hyperplanes, per-row IEEE folds) →
    * golden-parquet oracle ([[GoldenOracles]]).
    */
  val e08_signature_neardup = q("e08_signature_neardup",
    GoldenOracles.sqlFor("e08_signature_neardup")) { (s, dir) =>
    graft.ext.EmbeddingDedup.cosineNearDupsBySignature(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, planes = 6, threshold = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e09
  /** MEASURED recall of the approximate ANN path: per-query recall@5 of
    * IVF (k=10 cells, nprobe=6 — e06's exact configuration) against the
    * exact brute-force top-5 — the "measure, don't guess" artifact for the
    * accuracy/cost trade the IVF index makes. The round-8 sweep
    * (curve in README) put this operating point at
    * 0.925 mean recall@5 for ~60 % of the corpus scored per query; the
    * synthetic embeddings are near-uniform within their 10 label clusters,
    * so recall ≈ budget is the honest ceiling here — real clustered
    * embeddings are where IVF's budget advantage appears. A codebook or
    * probe-count regression now shifts a NUMBER under the correctness gate
    * instead of silently degrading search quality. Deterministic end to
    * end (DECIMAL-summed codebook, rounded-cosine ranking) →
    * golden-parquet oracle.
    */
  val e09_ivf_recall = q("e09_ivf_recall", GoldenOracles.sqlFor("e09_ivf_recall")) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = emb.select(col("vec_id").as("nid"), col("embedding").as("cv"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("c", graft.plans.CosineSimilarityExpr.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    val brute = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).select("qid", "nid")
    val cb = graft.ext.IvfAnn.codebook(emb, "vec_id", "embedding", k = 10, iterations = 1)
    val ivf = graft.ext.IvfAnn.searchTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", cb, nprobe = 6, topK = 5)
      .select("qid", "nid")
    brute.join(ivf.withColumn("__hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("int").as("hits"))
      .withColumn("recall", round(col("hits") / 5.0, 6))
  }

  // ---------------------------------------------------------------- e10
  /** MEASURED recall of the OTHER approximate ANN path: per-query recall@5
    * of MULTI-PROBE hyperplane LSH against the exact brute-force top-5,
    * at a candidate budget matched to e09's IVF measurement (~60 % of the
    * corpus). Single-bucket probing (e04's demo shape) examines only 1/64
    * of the corpus and measures ≈ 0.05 recall here — the standard fix is
    * multi-probe: also search every bucket within Hamming radius 3 of the
    * query's 6-bit signature (1+6+15+20 = 42 of 64 buckets ≈ 66 % of the
    * corpus). The round-8 sweep (curve in README) put
    * this point at 0.900 mean recall@5; radius 2 measured 0.525 at 33 %
    * and finer signatures (8/10 planes) were strictly worse at equal
    * budget — on these near-uniform synthetic embeddings recall ≈ budget
    * is the ceiling. Probing is pure column algebra: the 42 flip-masks XOR
    * onto the query signature and explode into an equi-join on the bucket
    * key; each candidate has ONE signature so no pair duplicates arise.
    * e09 + e10 together make the accuracy/cost choice between the ANN
    * paths explicit and regression-gated. Deterministic → golden-parquet
    * oracle.
    */
  val e10_lsh_recall = q("e10_lsh_recall", GoldenOracles.sqlFor("e10_lsh_recall")) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val planes = 6
    val radius = 3
    val emb = Tables.embeddings(s, dir)
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = emb.select(col("vec_id").as("nid"), col("embedding").as("cv"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("c", graft.plans.CosineSimilarityExpr.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    val brute = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).select("qid", "nid")
    val lsh = graft.ext.LshAnn.searchTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", dim = 64, planes = planes, radius = radius,
        topK = 5)
      .select("qid", "nid")
    brute.join(lsh.withColumn("__hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("int").as("hits"))
      .withColumn("recall", round(col("hits") / 5.0, 6))
  }

  // ---------------------------------------------------------------- e11
  /** MEASURED recall in the regime IVF exists for: CLUSTERED embeddings.
    * e09/e10 measure on the near-uniform testdata vectors, where recall ≈
    * candidate budget is the information-theoretic ceiling (documented
    * there); real text embeddings cluster by topic, and THERE the index
    * earns its keep — high recall at a small fraction of the corpus
    * scored. The clustered fixture is derived deterministically from
    * `vec_id` by pure column arithmetic (20 axis-aligned centers in 32
    * dims, integer-hash jitter — the same construction
    * IvfClusteredRecallSpec pins, committed here as arithmetic instead of
    * a binary blob so it is diffable and scale-independent): within a
    * cluster cosine ~1, across ~0. Configuration k=20 cells, nprobe=2 —
    * a 10 % candidate budget — must reach recall@5 ≥ 0.9 per query
    * (brute-force top-5 as truth). e09 + e10 + e11 together put numbers on
    * the whole accuracy/cost surface: uniform-data ceiling AND
    * clustered-data advantage, both regression-gated. Deterministic end to
    * end (DECIMAL-summed codebook, rounded-cosine ranking, integer
    * jitter) → golden-parquet oracle.
    */
  val e11_clustered_recall = q("e11_clustered_recall",
      GoldenOracles.sqlFor("e11_clustered_recall")) { (s, dir) =>
    val dim = 32
    val kCells = 20
    val nprobe = 2
    // materialize the derived fixture ONCE: the codebook training and
    // search jobs otherwise re-evaluate the arithmetic construction per
    // pass (released by the harness's per-query clearCache)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        graft.ext.ClusteredFixture.vec(col("vec_id"), kCells, dim).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brute = graft.ext.ClusteredFixture.bruteTopK(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
    val cb = graft.ext.IvfAnn.codebook(emb, "vec_id", "embedding",
      k = kCells, iterations = 2)
    val ivf = graft.ext.IvfAnn.searchTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", cb, nprobe = nprobe, topK = 5)
      .select("qid", "nid")
    brute.join(ivf.withColumn("__hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("int").as("hits"))
      .withColumn("recall", round(col("hits") / 5.0, 6))
      .withColumn("budget", lit(nprobe.toDouble / kCells))
  }

  // ---------------------------------------------------------------- e12
  /** PRODUCT-QUANTIZATION recall — the compressed-codes search path
    * ([[graft.ext.PqAnn]]): vectors stored as 8 sub-centroid codes (8
    * bytes) instead of 32 floats (128 bytes), scanned via per-query lookup
    * tables, top-25 PQ candidates re-ranked with exact cosine. Same
    * clustered arithmetic fixture as e11, L2-normalized so PQ's dot
    * approximation ranks like cosine. Gates recall@5 of the FULL
    * quantize → LUT-scan → re-rank pipeline; a codebook, encoding, or
    * LUT regression shifts a number under the correctness gate.
    * Deterministic end to end (DECIMAL-summed sub-codebooks, codegen
    * argmin encoding, fixed-order LUT folds) → golden-parquet oracle.
    */
  val e12_pq_recall = q("e12_pq_recall",
      GoldenOracles.sqlFor("e12_pq_recall")) { (s, dir) =>
    val dim = 32
    val kCells = 20
    // materialize the derived fixture ONCE (see e11's note; released by
    // the harness's per-query clearCache)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        graft.ext.ClusteredFixture.normalizedVec(col("vec_id"), kCells, dim)
          .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brute = graft.ext.ClusteredFixture.bruteTopK(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
    val cb = graft.ext.PqAnn.codebook(emb, "vec_id", "embedding", dim,
      m = 8, k = 16, iterations = 2)
    val pq = graft.ext.PqAnn.searchTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", cb, topR = 25, topK = 5)
      .select("qid", "nid")
    brute.join(pq.withColumn("__hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("int").as("hits"))
      .withColumn("recall", round(col("hits") / 5.0, 6))
      .withColumn("bytes_per_vector", lit(8))
  }

  // ---------------------------------------------------------------- e13
  /** IVFADC recall — the full production ANN composition
    * ([[graft.ext.PqAnn.searchTopKIvf]]): IVF cells bound the CANDIDATE
    * BUDGET (nprobe=2 of 20 cells = 10 % of the corpus per query), PQ
    * codes bound the SCAN BANDWIDTH (8 bytes per candidate, no float
    * vector touched until re-rank), and the exact cosine re-rank of the
    * top-25 restores true ranking. Same clustered fixture as e11/e12, so
    * the three queries together price the full accuracy/cost surface:
    * routing only (e11), compression only (e12), both (e13).
    * Deterministic end to end → golden-parquet oracle.
    */
  val e13_ivfadc_recall = q("e13_ivfadc_recall",
      GoldenOracles.sqlFor("e13_ivfadc_recall")) { (s, dir) =>
    val dim = 32
    val kCells = 20
    val nprobe = 2
    // materialize the derived fixture ONCE (see e11's note; released by
    // the harness's per-query clearCache)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        graft.ext.ClusteredFixture.normalizedVec(col("vec_id"), kCells, dim)
          .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brute = graft.ext.ClusteredFixture.bruteTopK(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
    // the two codebook trainings are independent chains of driver-collected
    // Lloyd passes over the same persisted fixture — run them from two
    // threads so their (sequential-within-a-chain) small jobs interleave
    // (guide §2.6); arithmetic and results are untouched
    val (cb, ivf) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val cbF = Future(graft.ext.PqAnn.codebook(emb, "vec_id", "embedding",
        dim, m = 8, k = 16, iterations = 2))
      val ivfF = Future(graft.ext.IvfAnn.codebook(emb, "vec_id", "embedding",
        k = kCells, iterations = 2))
      (Await.result(cbF, Duration.Inf), Await.result(ivfF, Duration.Inf))
    }
    val codes = graft.ext.PqAnn.encodeWithCells(emb, "embedding", cb, ivf)
    val adc = graft.ext.PqAnn.searchTopKIvf(codes, emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", "codes",
        cb, ivf, nprobe = nprobe, topR = 25, topK = 5)
      .select("qid", "nid")
    brute.join(adc.withColumn("__hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("int").as("hits"))
      .withColumn("recall", round(col("hits") / 5.0, 6))
      .withColumn("budget", lit(nprobe.toDouble / kCells))
      .withColumn("bytes_per_vector", lit(8))
  }

  /** Load a stored ANN index while warming the persisted fixture cache
    * from the calling thread (guide §2.6 overlap): the probe's routing
    * collect that follows then reads a warm cache instead of paying the
    * fixture materialization serially after the load's codebook collect.
    */
  private def loadWarm(s: SparkSession, path: String,
                       emb: org.apache.spark.sql.DataFrame): graft.ext.AnnIndex.Loaded = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val f = Future(graft.ext.AnnIndex.load(s, path))
    emb.count() // materializes the persist; result unused
    Await.result(f, Duration.Inf)
  }

  // ---------------------------------------------------------------- e14
  /** PERSISTED-index probe after an INCREMENTAL append
    * ([[graft.ext.AnnIndex.append]]) — the ANN twin of d12's index
    * evolution: day 0 trains and bulk-builds the stored index over 80 %
    * of the corpus, day 1's batch (the remaining 20 %) is encoded with
    * the STORED codebooks — O(batch), no retraining, no re-encode of the
    * base — and lands as an idempotent code fragment under the
    * generation-CAS protocol. The probe then searches base+appended
    * through the partition-pruned stored-codes path. AnnIndexSpec pins
    * the semantic identity (base+appended ≡ one-shot encode of the union
    * under the same codebooks) and the replay/race behavior; this query
    * puts the full composition under the hash gate. Deterministic end to
    * end (DECIMAL-summed codebooks, codegen argmin encoding, fixed-order
    * LUT folds, id tie-breaks) → golden-parquet oracle.
    */
  val e14_ann_index_append = q("e14_ann_index_append",
      GoldenOracles.sqlFor("e14_ann_index_append")) { (s, dir) =>
    val dim = 32
    val kCells = 20
    val nprobe = 2
    // materialize the derived fixture ONCE (see e11's note; released by
    // the harness's per-query clearCache)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        graft.ext.ClusteredFixture.normalizedVec(col("vec_id"), kCells, dim)
          .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // staged once per JVM: the day-0 build and day-1 append are the
    // INDEX'S lifecycle, not the probe under measurement
    val root = DedupQueries.DedupStaging.ensure("e14", dir) { r =>
      graft.ext.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$r/ann_index", dim,
        m = 8, pqK = 16, ivfK = kCells, iterations = 2)
      graft.ext.AnnIndex.append(emb.filter(col("vec_id") % 5 === 0),
        s"$r/ann_index", "embedding", batchId = 1L)
    }
    val idx = loadWarm(s, s"$root/ann_index", emb)
    graft.ext.AnnIndex.searchTopK(idx, emb, emb.filter(col("vec_id") < 8),
        "embedding", nprobe = nprobe, topR = 25, topK = 5)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e15
  /** MEASURED recall under CODEBOOK DRIFT — the persisted ANN index's
    * append contract quantified under the correctness gate. Codebooks
    * train on the BASE half of the corpus only (even vec_ids, clusters on
    * axes 0..9); the appended half (odd vec_ids) lives in SHIFTED clusters
    * (axes 10..19) the codebooks never saw — the worst-case drift model
    * ([[graft.ext.ClusteredFixture]]'s axisShift). The two arms are the
    * PERSISTED index's own lifecycle states, staged once per JVM like
    * e14's fixture (the index lifecycle is not the probe under
    * measurement): stale = `build(base)` + `append(drifted)` — exactly
    * what [[graft.ext.AnnIndex.append]] serves before maintenance — and
    * retrained = `build(union)` with cells sized to the grown cluster
    * count — what `annIngestStream`'s rebuildEvery restores. Per drifted
    * query both stored probes score against one exact brute-force truth
    * over the union. AnnIndexSpec sweeps the 10/50/100% appended ratios
    * (0.175/0.375/0.450 stale, 1.000 rebuilt); this query pins the
    * 100%-appended end state as a golden so quantization-quality
    * regressions fail the driver gate. Deterministic end to end (integer
    * fixture, DECIMAL-summed centroids, rounded-cosine rank) →
    * golden-parquet oracle.
    */
  val e15_codebook_drift = q("e15_codebook_drift",
      GoldenOracles.sqlFor("e15_codebook_drift")) { (s, dir) =>
    val dim = 32
    val kCells = 10
    val nprobe = 2
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        when(col("vec_id") % 2 === 0,
          graft.ext.ClusteredFixture.normalizedVec(col("vec_id"), kCells, dim))
        .otherwise(graft.ext.ClusteredFixture.normalizedVec(
          col("vec_id"), kCells, dim, axisShift = kCells))
        .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val root = DedupQueries.DedupStaging.ensure("e15", dir) { r =>
      graft.ext.AnnIndex.build(base, "vec_id", "embedding", s"$r/stale",
        dim, m = 8, pqK = 16, ivfK = kCells, iterations = 2)
      graft.ext.AnnIndex.append(emb.filter(col("vec_id") % 2 =!= 0),
        s"$r/stale", "embedding", batchId = 1L)
      graft.ext.AnnIndex.build(emb, "vec_id", "embedding", s"$r/retrained",
        dim, m = 8, pqK = 16, ivfK = 2 * kCells, iterations = 2)
    }
    val queries = emb.filter(col("vec_id") % 2 =!= 0 && col("vec_id") < 16)
    val brute = graft.ext.ClusteredFixture.bruteTopK(
      emb, queries, "vec_id", "embedding", 5)
    def hitsOf(arm: String, name: String) = {
      val idx = graft.ext.AnnIndex.load(s, s"$root/$arm")
      val approx = graft.ext.AnnIndex.searchTopK(idx, emb, queries,
          "embedding", nprobe = nprobe, topR = 25, topK = 5)
        .select("qid", "nid")
      brute.join(approx.withColumn("__hit", lit(1)), Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("int").as(name))
    }
    // the two arm constructions each pay a stored-index load collect and a
    // probe-routing collect — independent, so overlap them (guide §2.6)
    val (stale, retrained) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val stF = Future(hitsOf("stale", "hits_stale"))
      val reF = Future(hitsOf("retrained", "hits_retrained"))
      (Await.result(stF, Duration.Inf), Await.result(reF, Duration.Inf))
    }
    stale.join(retrained, Seq("qid"))
      .withColumn("recall_stale", round(col("hits_stale") / 5.0, 6))
      .withColumn("recall_retrained", round(col("hits_retrained") / 5.0, 6))
  }

  // ---------------------------------------------------------------- e16
  /** SemDeDup ([[graft.ext.EmbeddingDedup.semanticDedup]], Abbas et al.
    * 2023): the kept corpus after dropping every vector whose cosine to an
    * EARLIER same-block vector reaches 0.42 — e05's pair relation turned
    * into the paper's prune rule. Blocks here are the label clusters (the
    * corpus's natural k-means structure) so the oracle is fully
    * relational: `NOT EXISTS (earlier similar neighbor)`. The cell-blocked
    * scale form (`semanticDedupByCell` — one shuffle on the IVF cell, pair
    * cost bounded by cell size) is differential-tested in
    * EmbeddingDedupSpec and skew-gated in the smoke tier.
    */
  val e16_semantic_dedup = q("e16_semantic_dedup", Some(
    s"""SELECT a.vec_id, a.label FROM embeddings a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM embeddings b
       |  WHERE b.label = a.label AND b.vec_id < a.vec_id
       |    AND ${cosSql("a.embedding", "b.embedding")} >= 0.42)""".stripMargin)) { (s, dir) =>
    graft.ext.EmbeddingDedup.semanticDedup(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        blockCol = "label", threshold = 0.42)
      .select("vec_id", "label")
  }

  // ---------------------------------------------------------------- e17
  /** ANN index VACUUM under the probe gate — the full maintenance
    * lifecycle in one staged fixture: day-0 [[graft.ext.AnnIndex.build]],
    * day-1 append fragment, then a curation deletion (every 7th vector)
    * applied by [[graft.ext.AnnIndex.compact]] — fragments folded to one
    * file per cell, codebooks carried, crash-safe epoch swap. The timed
    * probe runs against the COMPACTED index; golden-gated (AnnIndexSpec
    * additionally proves probe ≡ in-memory path over the kept vectors and
    * that no deleted id can surface).
    */
  val e17_ann_compaction = q("e17_ann_compaction",
      GoldenOracles.sqlFor("e17_ann_compaction")) { (s, dir) =>
    val dim = 32
    val kCells = 20
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        graft.ext.ClusteredFixture.normalizedVec(col("vec_id"), kCells, dim)
          .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = DedupQueries.DedupStaging.ensure("e17", dir) { r =>
      graft.ext.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$r/ann_index", dim,
        m = 8, pqK = 16, ivfK = kCells, iterations = 2)
      graft.ext.AnnIndex.append(emb.filter(col("vec_id") % 5 === 0),
        s"$r/ann_index", "embedding", batchId = 1L)
      graft.ext.AnnIndex.compact(s, s"$r/ann_index",
        emb.select(col("vec_id")).filter(col("vec_id") % 7 =!= 0))
    }
    val idx = loadWarm(s, s"$root/ann_index", emb)
    val kept = emb.filter(col("vec_id") % 7 =!= 0)
    graft.ext.AnnIndex.searchTopK(idx, kept, emb.filter(col("vec_id") < 8),
        "embedding", nprobe = 2, topR = 25, topK = 5)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e18
  /** FILTERED vector search — the metadata-predicate probe every vector
    * database serves ("nearest neighbors among documents WHERE …"): an
    * allow-list (here: even vec_ids) semi-joins the stored code relation
    * BEFORE PQ scoring, so the predicate prunes work instead of
    * post-filtering results (topK stays full-depth under selective
    * predicates). Golden-gated; AnnIndexSpec proves filtered stored
    * probe ≡ in-memory probe over the allowed subset and that no
    * disallowed id can surface.
    */
  val e18_filtered_ann = q("e18_filtered_ann",
      GoldenOracles.sqlFor("e18_filtered_ann")) { (s, dir) =>
    val dim = 32
    val kCells = 20
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        graft.ext.ClusteredFixture.normalizedVec(col("vec_id"), kCells, dim)
          .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = DedupQueries.DedupStaging.ensure("e18", dir) { r =>
      graft.ext.AnnIndex.build(emb, "vec_id", "embedding", s"$r/ann_index",
        dim, m = 8, pqK = 16, ivfK = kCells, iterations = 2)
    }
    val idx = loadWarm(s, s"$root/ann_index", emb)
    val allowed = emb.select(col("vec_id")).filter(col("vec_id") % 2 === 0)
    graft.ext.AnnIndex.searchTopK(idx, emb, emb.filter(col("vec_id") < 8),
        "embedding", nprobe = 2, topR = 25, topK = 5, allow = Some(allowed))
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- e19
  /** EMBEDDING-SPACE-BALANCED SAMPLING — the diversity-sampling curation
    * step (the prototype/SemDeDup-family complement to near-dup REMOVAL):
    * quantize the corpus with the learned IVF codebook and draw exactly
    * k per CELL by deterministic hash order, so every region of the
    * embedding space is represented regardless of how skewed the corpus
    * density is (a uniform draw over a 90%-one-cluster corpus is 90%
    * that cluster; this is 5 per cell, full stop). Codebook training is
    * not SQL-expressible → golden-gated; the draw itself is the
    * engine-replayable md5 order of q46/t10.
    */
  val e19_cell_balanced_sample = q("e19_cell_balanced_sample",
      GoldenOracles.sqlFor("e19_cell_balanced_sample")) { (s, dir) =>
    val dim = 32
    val kCells = 20
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        graft.ext.ClusteredFixture.vec(col("vec_id"), kCells, dim).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = graft.ext.IvfAnn.codebook(emb, "vec_id", "embedding",
      k = kCells, iterations = 2)
    graft.operators.Sampling.stratified(
      graft.ext.IvfAnn.assign(emb, "embedding", cb).select("vec_id", "cell"),
      strataCols = Seq("cell"), k = 5, keyCols = Seq("vec_id"),
      hash = Some(md5(col("vec_id").cast("string").cast("binary"))))
  }

  val all: Seq[GraftQuery] = Seq(
    e01_knn_bruteforce, e02_centroids, e03_label_block_nn, e04_lsh_ann,
    e05_cosine_neardup, e06_ivf_ann, e07_l2_normalize, e08_signature_neardup,
    e09_ivf_recall, e10_lsh_recall, e11_clustered_recall, e12_pq_recall,
    e13_ivfadc_recall, e14_ann_index_append, e15_codebook_drift,
    e16_semantic_dedup, e17_ann_compaction, e18_filtered_ann,
    e19_cell_balanced_sample)
}

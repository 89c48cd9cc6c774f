package graft.queries

import graft.Tables
import graft.functions.VectorOps
import graft.operators.{DedupClustering, IvfIndex, PqIndex, RelationalOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>` × 64).
  *
  * q26 is the exact baseline: brute-force cosine top-k for a small query
  * set (broadcast) — O(Q·N) but embarrassingly parallel, no shuffle until
  * the final per-query top-k. q27 is the scale path: multi-table sign-LSH
  * bucketing (4 tables × 8 fixed hyperplanes, seed 42) so each query only
  * scores bucket-mates — the candidate join keys on (table, bucket) and
  * survives 100× data.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame


  private val nQueries = 10
  private val topK     = 5

  // IVF family constants, shared by q39 (scale path) and q39b (bit-oracled
  // deterministic-training twin) so the two stay comparable.
  private val ivfK      = 16
  private val ivfIters  = 2
  private val ivfNprobe = 4

  // PQ family constants, shared the same way by q56/q57 (xxhash64-sampled
  // scale path) and q56b/q57b (md5-sampled bit-oracled twins).
  private val embDim     = 64
  private val pqM        = 8
  private val pqK        = 32
  private val pqIters    = 4
  private val pqDs       = embDim / pqM
  private val pqSample   = 2048
  private val ivfpqProbe = 8

  /** Deterministic hyperplanes for sign-LSH: `nTables` independent tables
    * of `nBits` planes each (multi-table LSH — one 2^nBits bucketing alone
    * has near-zero recall; OR-ing tables restores it). Fixed seed — same
    * planes every run.
    */
  private[queries] val nTables = 4
  private[queries] val nBits   = 8
  private[queries] val planes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nTables, nBits, 64)(rnd.nextGaussian())
  }

  /** Bucket id of one LSH table: sign pattern of `nBits` hyperplane dots. */
  private def bucketCol(emb: org.apache.spark.sql.Column, table: Int) = {
    val bits = planes(table).zipWithIndex.map { case (p, j) =>
      when(VectorOps.dot(emb, typedlit(p.toSeq)) > 0.0, lit(1L << j)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** (vec_id, table, bucket) home assignments — the spec's recount handle. */
  private[queries] def bucketsOf(df: DataFrame): DataFrame =
    withBuckets(df).select("vec_id", "table", "bucket")

  private def withBuckets(df: DataFrame): DataFrame =
    df.select(
      col("*"),
      posexplode(array((0 until nTables).map(t => bucketCol(col("embedding"), t)): _*))
        .as(Seq("table", "bucket")))

  /** All candidate pairs whose sign-LSH codes agree within Hamming
    * distance ≤ 1 in ≥1 table — the pair-level MULTIPROBE: a pair lands in
    * the candidate set when one member's home bucket is the other's home
    * bucket OR any of its `nBits` one-bit flips, which roughly quadruples
    * recall at moderate similarity over exact-bucket collision for a ×9
    * candidate budget. Never a self-join of the embedding table: the join
    * carries only (table, bucket, id) triples — home entries on one side,
    * home+flip probe entries on the other — and joins EQUI on (table,
    * bucket) (a direct `bit_count(xor) ≤ 1` predicate would plan as a
    * nested loop over all id pairs).
    *
    * The hot-bucket cap survives the multiprobe form: bucket sizes are a
    * tiny aggregate, and BOTH sides drop members of over-cap home buckets
    * before pairing (the stop-bucket rule — a zero-vector-padding bucket's
    * O(bucket²) pairs are noise). A pair is emitted iff both home buckets
    * are under the cap and the codes differ in ≤1 bit — exactly the rule
    * the DuckDB oracle replays.
    */
  private[queries] def lshCandidatePairs(emb: DataFrame): DataFrame = {
    val maxBucket = TextQueries.defaultMaxBucket
    val home = withBuckets(emb).select(col("table"), col("bucket"), col("vec_id"))
    val okBuckets = home.groupBy("table", "bucket")
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBucket)
      .select("table", "bucket")
    val homeOk = home.join(broadcast(okBuckets), Seq("table", "bucket"))
    val probeBuckets = col("bucket") +:
      (0 until nBits).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val probesOk = homeOk.select(col("table"),
        explode(array(probeBuckets: _*)).as("bucket"),
        col("vec_id").as("probe_id"))
    homeOk
      .join(probesOk, Seq("table", "bucket"))
      .filter(col("vec_id") < col("probe_id"))
      .select(col("vec_id").as("id_a"), col("probe_id").as("id_b"))
      .distinct()
  }

  /** Candidate-volume forecast for the embedding LSH family — the
    * [[graft.queries.TextQueries.lshBucketStats]] analogue for the
    * multiprobe path. Per table: the largest home bucket, the in-bucket
    * pair cost Σ sz·(sz−1)/2, the cross-bucket multiprobe pair cost
    * (Σ over Hamming-1 bucket neighbor pairs of sz_B·sz_B′ — each
    * unordered candidate survives the `vec_id < probe_id` filter exactly
    * once, so `candidate_pairs` IS the pre-`distinct` candidate row count
    * as long as no bucket exceeds the cap; over-cap buckets are dropped
    * from both sides by the expansion, so when `buckets_over_cap` > 0 the
    * true count is lower — this view reports the UNCAPPED worst case,
    * like its minhash sibling), and how
    * many buckets the hot-bucket cap would skip. Everything derives from
    * the (table, bucket, sz) aggregate — ≤ nTables·2^nBits rows — so an
    * operator prices the expansion's memory/spill BEFORE running it: the
    * 100× replication probe (ScaleProbe, SCALE.md §2b) measured the
    * candidate dedup spilling ~80 GB at a flood point this view predicts
    * from a seconds-cheap aggregate.
    */
  def embLshBucketStats(s: SparkSession, d: String): DataFrame =
    embLshBucketStatsOf(Tables.embeddings(s, d))

  private[queries] def embLshBucketStatsOf(emb: DataFrame): DataFrame = {
    val sizes = withBuckets(emb)
      .groupBy("table", "bucket").agg(count(lit(1)).as("sz"))
    // neighbor cost via a self-join of the SIZE table on the 1-bit flips
    // (tiny × tiny — never the embedding table); each unordered neighbor
    // pair (B, B′) appears in both probe directions, hence the /2
    val flips = sizes.select(col("table"),
      explode(array((0 until nBits).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"),
      col("sz").as("nsz"))
    val probeCost = sizes.join(flips, Seq("table", "bucket"))
      .groupBy("table")
      .agg((sum(col("sz") * col("nsz")) / 2).cast("long").as("probe_pairs"))
    sizes.groupBy("table")
      .agg(
        max(col("sz")).as("max_bucket"),
        sum(col("sz") * (col("sz") - 1) / 2).cast("long").as("home_pairs"),
        count(when(col("sz") > TextQueries.defaultMaxBucket, 1))
          .as("buckets_over_cap"))
      .join(probeCost, Seq("table"), "left")
      .withColumn("candidate_pairs",
        col("home_pairs") + coalesce(col("probe_pairs"), lit(0L)))
  }

  /** The q35 pair stage as a reusable frame: multiprobe sign-LSH candidate
    * pairs (never an all-pairs scan) verified by exact fused cosine >
    * `minCosine`. Shared by the q35 registry entry and [[embedPairsOf]]
    * so the pair semantics cannot diverge between the report and the
    * dedup apply.
    */
  private[graft] def embedNeardupPairs(
      emb: DataFrame, minCosine: Double = 0.4): DataFrame =
    lshCandidatePairs(emb)
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(col("ea"), col("eb")).as("cosine"))
      .filter(col("cosine") > minCosine)

  /** Semantic-dedup pairs: the q35 verified embedding near-dup pairs as
    * (doc_a, doc_b), the pair frame every text dedup family supplies too —
    * so SemDeDup-style embedding dedup composes into the identical
    * [[graft.operators.DedupClustering.losers]] apply shape. At scale the
    * CC input is the (small) verified pair set, never the corpus; the pair
    * stage itself is the near-linear bucketed multiprobe.
    * lshCandidatePairs filters vec_id < probe_id then distinct; the 1:1
    * verify joins keep the pair set a<b and duplicate-free.
    */
  private[graft] def embedPairsOf(emb: DataFrame): DataFrame =
    embedNeardupPairs(emb)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

  /** q85: EMBEDDING-SPACE decontamination — refuse train-slice vectors
    * whose embedding is near (cosine > `threshold`) ANY eval-slice vector.
    * The semantic complement of the q69/q83 13-gram decontamination: n-gram
    * overlap catches verbatim leakage, embedding proximity catches the
    * paraphrased benchmark questions that share no 13-gram with the eval
    * suite (the gap Yang et al. 2023's "rephrased samples" attack exploits).
    *
    * Same "verified LSH candidates" semantics as q35: a (train, eval) pair
    * is considered iff their sign-LSH codes agree within Hamming ≤ 1 in ≥1
    * table (multiprobe, expanded on the EVAL side — the benchmark suite is
    * the small fixed set in production) and both home buckets are under the
    * hot-bucket cap; candidates are then exactly cosine-verified. Recall is
    * ~1 in the true near-dup regime (cosine ≳ 0.9 — planted-copy spec) and
    * intentionally partial in the noise tail, like q35.
    *
    * Scale shape: bucket codes are one narrow pass; the cap table is ≤
    * nTables·2^nBits rows (broadcast); the candidates join carries
    * (table, bucket, id) triples — never embeddings — and is left UNHINTED
    * so AQE broadcasts the eval probe list when the eval suite is small
    * (the production case) and shuffle-joins when it is not; only
    * candidate pairs fetch vectors for the exact verify; the final
    * anti-join is id-only.
    */
  /** The refused (contaminated) non-eval vec_ids — the core of
    * [[embedDecontaminate]], factored so the pipeline's cross-table form
    * ([[embedContaminatedIdsAgainst]]) can reuse it.
    */
  private[graft] def embedContaminatedIds(
      emb: DataFrame, isEval: Column, threshold: Double): DataFrame = {
    val maxBucket = TextQueries.defaultMaxBucket
    val home = withBuckets(emb)
      .select(col("table"), col("bucket"), col("vec_id"), isEval.as("is_eval"))
    val okBuckets = home.groupBy("table", "bucket")
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBucket)
      .select("table", "bucket")
    val homeOk = home.join(broadcast(okBuckets), Seq("table", "bucket"))
    val probeBuckets = col("bucket") +:
      (0 until nBits).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val evalProbes = homeOk.filter(col("is_eval"))
      .select(col("table"), explode(array(probeBuckets: _*)).as("bucket"),
        col("vec_id").as("eval_id"))
    val candidates = homeOk.filter(!col("is_eval"))
      .join(evalProbes, Seq("table", "bucket"))
      .select(col("vec_id"), col("eval_id")).distinct()
    candidates
      .join(emb.select(col("vec_id"), col("embedding").as("te")), "vec_id")
      .join(emb.select(col("vec_id").as("eval_id"), col("embedding").as("ee")),
        "eval_id")
      .filter(VectorOps.cosine(col("te"), col("ee")) > threshold)
      .select("vec_id").distinct()
  }

  private[graft] def embedDecontaminate(
      emb: DataFrame, isEval: Column, threshold: Double = 0.4): DataFrame =
    emb.filter(!isEval).join(
      embedContaminatedIds(emb, isEval, threshold), Seq("vec_id"), "left_anti")

  /** Cross-table form for [[graft.pipeline.TrainingPipeline]]: corpus ids
    * contaminated by a SEPARATE eval embedding table. The eval side is
    * remapped into the negative id space (corpus vec_ids must be
    * non-negative) so the union keeps both sides' identities distinct
    * through the candidate and verify joins; the returned ids are corpus
    * vec_ids.
    */
  private[graft] def embedContaminatedIdsAgainst(
      corpus: DataFrame, evalEmb: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val both = corpus.select(col("vec_id"), col("embedding"))
      .unionByName(evalEmb.select(
        (-col("vec_id") - lit(1L)).as("vec_id"), col("embedding")))
    embedContaminatedIds(both, col("vec_id") < 0L, threshold)
  }

  /** Exact all-pairs cosine-threshold join — O(N²), verification scale
    * ONLY. Kept as the truth reference for EmbedNeardupSpec's recall
    * bounds; the registered q35 is the LSH-pruned composition.
    */
  private[graft] def neardupExact(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(col("ea"), col("eb")).as("cosine"))
      .filter(col("cosine") > threshold)
  }

  /** Approximate top-k cosine kNN: each query scores only the vectors that
    * share a sign-LSH bucket with it in ≥1 of the `nTables` tables — the
    * scale path next to IVF (`IvfIndex`); candidates ∝ N/2^nBits per
    * query, never the corpus. Queries are `emb.filter(queryPred)` (a small
    * set — their bucket list is broadcast). Multi-table collisions are
    * deduped on the (q_id, neighbor_id) ID pair BEFORE fetching vectors —
    * a distinct over the embedding arrays themselves would shuffle full
    * vectors instead of 16-byte pairs.
    *
    * Queries MULTIPROBE (Lv et al., VLDB'07): each probes its own bucket
    * plus the `nBits` buckets at Hamming distance 1 — the query-side probe
    * list grows ×(nBits+1) (it is tiny and broadcast; the corpus side is
    * untouched) for a ~4× recall gain on moderate-similarity neighbors,
    * whose single-bucket collision probability is low. Recall is bounded
    * in KnnLshRecallSpec: near-certain for genuinely-close neighbors
    * (cosine ≳ 0.9), modest on uniform-random corpora where no ANN
    * method separates "nearest" from the background.
    */
  private[graft] def knnLsh(embRaw: DataFrame, queryPred: Column): DataFrame = {
    val emb = withBuckets(embRaw)
    val qs = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("table"), col("bucket"))
    val probeBuckets = col("bucket") +:
      (0 until nBits).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val probes = qs.select(col("q_id"), col("table"),
      explode(array(probeBuckets: _*)).as("bucket"))
    val candidates = emb
      .join(broadcast(probes), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val scored = candidates
      .join(broadcast(qs.select(col("q_id"), col("qe")).distinct()), Seq("q_id"))
      .join(embRaw
        .select(col("vec_id").as("neighbor_id"), col("embedding")), Seq("neighbor_id"))
      .select(
        col("q_id"), col("neighbor_id"),
        VectorOps.cosine(col("qe"), col("embedding")).as("cosine"))
    RelationalOps.topKPerGroup(
        scored, Seq("q_id"), Seq(col("cosine").desc, col("neighbor_id").asc), topK,
        rankCol = "rnk")
  }

  /** (doc_id, codes_csv) projection of the int8 code family — THE
    * embedding-code artifact column, shared by the q61 export,
    * [[graft.pipeline.TrainingPipeline]], and the streaming export twin.
    */
  private[graft] def codesCsvByDocId(emb: DataFrame): DataFrame =
    withInt8Codes(emb).select(col("vec_id").as("doc_id"),
      concat_ws(",", transform(col("codes"), _.cast("string"))).as("codes_csv"))

  /** Shared int8-quantization stage (vec_id, v, vmin, vmax, scale, codes) —
    * THE definition of the code family, used by q55 and the q61 training
    * export so the two can never diverge. Fully narrow.
    */
  private[graft] def withInt8Codes(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("vmin"), array_max(col("v")).as("vmax"))
      .withColumn("scale", (col("vmax") - col("vmin")) / lit(255.0))
      .withColumn("codes", transform(col("v"), x =>
        when(col("scale") === 0.0, lit(0L)).otherwise(
          least(lit(255L),
            floor((x - col("vmin")) / col("scale") + lit(0.5)).cast("long")))))

  private def knnFrom(base: DataFrame, queries: DataFrame): DataFrame = {
    val scored = base
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("vec_id").as("neighbor_id"),
        VectorOps.cosine(col("qe"), col("embedding")).as("cosine"))
    RelationalOps.topKPerGroup(
        scored, Seq("q_id"), Seq(col("cosine").desc, col("neighbor_id").asc), topK,
        rankCol = "rnk")
  }

  val queries: Map[String, Q] = Map(
    // Exact brute-force cosine kNN (oracle-checked baseline).
    "q26_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs  = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      knnFrom(emb, qs)
    }),

    // Approximate kNN: score only candidates sharing an LSH bucket with the
    // query in ≥1 of the 4 tables (scale path — no all-pairs scan).
    "q27_knn_lsh" -> ((s, d) =>
      knnLsh(Tables.embeddings(s, d), col("vec_id") < nQueries)),

    // Embedding-cosine near-duplicate pairs, composed exactly like the
    // q22 → q23 text pipeline: multiprobe sign-LSH candidates (Hamming ≤ 1
    // bucket agreement in ≥1 table — near-linear), then exact fused-cosine
    // verification of ONLY those candidates — never an all-pairs scan.
    // Semantics are "verified LSH candidates": recall is ~1 in the true
    // near-dup regime (cosine ≳ 0.9, where bucket collision is
    // near-certain — EmbedNeardupSpec plants such pairs and bounds recall
    // ≥ 0.95) and intentionally partial for the sub-0.7 noise tail, where
    // NO sub-quadratic exact method exists (even with multiprobe, ≥0.95
    // recall at cosine 0.4 needs a near-all-pairs candidate budget). The
    // DuckDB oracle replays the same hyperplanes, multiprobe rule, and
    // hot-bucket cap bit-exactly, so the full candidate+verify pipeline
    // is hash-checked.
    "q35_embed_neardup" -> ((s, d) =>
      embedNeardupPairs(Tables.embeddings(s, d))),

    // Semantic dedup APPLY (SemDeDup, Abbas et al. 2023, re-expressed on
    // the oracled LSH-candidate path instead of k-means clusters): the q35
    // verified embedding near-dup pairs feed the SAME connected-components
    // + min-id-canonical semantics as every text dedup family — so
    // embedding-space dedup is a complete METHOD (pairs → clusters →
    // apply), not just a pair report. Output is the kept embedding rows;
    // with the corpus convention vec_id = doc_id this IS the semantic
    // dedup of the document set (TrainingPipeline.EmbedDedup wires it).
    "q90_embed_dedup_apply" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // output columns projected BEFORE the anti-join (round 16, §2.3):
      // the join side sheds the 64-dim embedding payload — it carries
      // (vec_id, label) only; projection and the vec_id equi-anti-join
      // commute row for row
      emb.select(col("vec_id"), col("label").cast("int").as("label"))
        .join(
          DedupClustering.losers(embedPairsOf(emb))
            .withColumnRenamed("doc_id", "vec_id"),
          Seq("vec_id"), "left_anti")
    }),

    // IVF approximate kNN: k-means coarse quantizer, nprobe cluster probes.
    // Centroid averages are float-sum order dependent → rows-only check;
    // IvfIndexSpec bounds recall against the exact q26 answers.
    "q39_knn_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = IvfIndex.train(emb, k = ivfK, iters = ivfIters)
      val qs = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      IvfIndex.knn(emb, centroids, qs, topK, nprobe = ivfNprobe)
    }),

    // q39's bit-oracled verification twin (the q60-vs-q29 relationship,
    // applied to TRAINING): identical IVF search, but Lloyd runs with
    // md5-salted seeding and q60-style sorted-fold centroid updates, so
    // every float in the codebook — and therefore the entire approximate
    // ANN answer, probes included — replays bit-exactly in DuckDB. This
    // refutes "k-means isn't SQL-replayable" for the IVF family: only the
    // PARTITION-ORDERED Summarizer mean isn't; the algorithm is. q39 stays
    // registered as the scale path (one shuffle of whole-vector partial
    // sums per iteration vs this twin's dim× explode).
    "q39b_knn_ivf_det" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = IvfIndex.trainDet(emb, k = ivfK, iters = ivfIters)
      val qs = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      IvfIndex.knn(emb, centroids, qs, topK, nprobe = ivfNprobe)
    }),

    // Product-quantized kNN (Jégou TPAMI'11): 8 sub-codebooks × 32 codes
    // trained driver-side on a hash sample, corpus encoded to 8 codes per
    // vector in one narrow pass, search via ADC lookup tables — 8 adds per
    // candidate instead of 64 multiplies, and the index is 32× smaller
    // than the float64 vectors. Approximate by construction → rows-only;
    // PqIndexSpec bounds recall vs the exact L2 brute force and pins
    // planted-duplicate retrieval.
    "q56_knn_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val books = PqIndex.train(emb, m = pqM, k = pqK, iters = pqIters)
      val qs = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      PqIndex.knn(PqIndex.encode(emb, books), qs, books, topK)
    }),

    // q56's bit-oracled verification twin (the q39b relationship, applied
    // to PQ): identical encode + ADC search, but the codebooks come from
    // PqIndex.trainDet — the SAME local Lloyd loop over a salted-md5-keyed
    // sample instead of xxhash64, so the sample order (the only
    // non-SQL-replayable ingredient; the loop's float sums accumulate in
    // sample order, init is first-k-distinct) replays in DuckDB and the
    // whole quantized ANN answer hash-checks end to end. q56 stays
    // registered as the production twin on the standard hash key.
    "q56b_knn_pq_det" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val books = PqIndex.trainDet(emb, m = pqM, k = pqK, iters = pqIters)
      val qs = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      PqIndex.knn(PqIndex.encode(emb, books), qs, books, topK)
    }),

    // IVF-PQ: the coarse quantizer restricts WHICH vectors each query
    // scores (nprobe of 16 clusters), the product quantizer makes each
    // score m adds — the canonical billion-scale ANN composition, both
    // halves reused from q39/q56. Approximate → rows-only; PqIndexSpec
    // bounds recall.
    "q57_knn_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = IvfIndex.train(emb, k = ivfK, iters = ivfIters)
      val books = PqIndex.train(emb, m = pqM, k = pqK, iters = pqIters)
      val qs = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      PqIndex.knnIvfPq(emb, centroids, qs, books, topK, nprobe = ivfpqProbe)
    }),

    // q57's bit-oracled twin: BOTH trainings deterministic (IvfIndex
    // .trainDet coarse quantizer + PqIndex.trainDet codebooks), search
    // machinery (knnIvfPq — one-pass encode+assign, probe join, ADC)
    // shared verbatim. With q39b/q56b/q57b, every codebook-based ANN
    // family carries a DuckDB hash check; only the xxhash64-sampled scale
    // paths and the sketch query remain rows-only, each with a spec.
    "q57b_knn_ivfpq_det" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = IvfIndex.trainDet(emb, k = ivfK, iters = ivfIters)
      val books = PqIndex.trainDet(emb, m = pqM, k = pqK, iters = pqIters)
      val qs = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      PqIndex.knnIvfPq(emb, centroids, qs, books, topK, nprobe = ivfpqProbe)
    }),

    // Int8 scalar quantization — the standard embedding-compression step
    // before an ANN index (4× smaller than float32, 8× than float64): per
    // vector, min/max range → 8-bit codes → reconstruction error. One
    // narrow pass, no shuffle; every value is min/max (exact), a single
    // division, or a floor — bit-reproducible in DuckDB (NOTES float-parity
    // rules), so the full codes string is hash-checked.
    "q55_quantize_int8" -> ((s, d) => {
      withInt8Codes(Tables.embeddings(s, d))
        .select(col("vec_id"), col("vmin"), col("vmax"),
          concat_ws(",", transform(col("codes"), _.cast("string"))).as("codes_csv"),
          aggregate(
            zip_with(col("v"), col("codes"), (x, c) => {
              val deq = col("vmin") + c.cast("double") * col("scale")
              (x - deq) * (x - deq)
            }),
            lit(0.0), (acc, e) => acc + e).as("sq_err"))
    }),

    // Embedding-space decontamination: the vec_id % 25 = 0 slice plays the
    // eval benchmark suite (the q69 doc-slice convention); train vectors
    // within cosine 0.4 of any eval vector — through the verified-LSH
    // candidate pipeline — are refused (see embedDecontaminate).
    "q85_embed_decontam" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val isEval = col("vec_id") % TextQueries.evalSliceMod === 0
      // output columns projected BEFORE the anti-join (round 16, §2.3):
      // the join side sheds the 64-dim embedding payload
      emb.filter(!isEval)
        .select(col("vec_id"), col("label").cast("int").as("label"))
        .join(embedContaminatedIds(emb, isEval, threshold = 0.4),
          Seq("vec_id"), "left_anti")
    }),

    // Per-row vector stats (array access + deterministic norm).
    "q28_embed_stats" -> ((s, d) => {
      Tables.embeddings(s, d).select(
        col("vec_id"), col("label").cast("int").as("label"),
        element_at(col("embedding"), 1).cast("double").as("dim0"),
        VectorOps.l2Norm(col("embedding")).as("l2_norm"))
    }),

    // Per-label centroid on the SCALE path: one shuffle of whole-vector
    // partial sums ([[VectorOps.meanVectors]], mllib Summarizer — map-side
    // combine of 64-double sums per label), then a post-agg explode of the
    // ≤|labels| result rows into flat (label, dim, centroid) for the
    // driver's compare. No per-group materialization, no dim× row blowup —
    // this is the plan that survives 100 TB, and the one that gets benched.
    // Float-sum order is partition-dependent → rows+schema check only; the
    // bit-exact sorted-fold twin (q60) carries the DuckDB hash check, and
    // CentroidDriftSpec bounds the two against each other at ≤1e-9.
    "q29_centroid" -> ((s, d) => {
      VectorOps.meanVectors(
          Tables.embeddings(s, d)
            .select(col("label").cast("int").as("label"), col("embedding")),
          "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "centroid")))
        .select(col("label"), col("dim").cast("int").as("dim"), col("centroid"))
    }),

    // Per-label, per-dimension centroid, bit-exact: each (label, dim)
    // group's values are summed left-to-right in vec_id order (sort_array
    // over collect_list'd (vec_id, v) structs → HOF fold), so the result
    // is deterministic and DuckDB-oracled — unlike a plain avg(), whose
    // float-add order is partition-dependent. This is the VERIFIABLE
    // oracle twin of q29's scale path (fine at verification scale, wrong
    // shape at 100 TB: it shuffles dim× the rows and materializes per-group
    // arrays). Flat (label, dim, centroid) output — no array columns,
    // which the driver's compare cannot sort.
    "q60_centroid_fold" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label").cast("int").as("label"), col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(
          aggregate(
            transform(
              array_sort(collect_list(struct(col("vec_id"), col("v")))),
              x => x.getField("v")),
            lit(0.0), (acc, x) => acc + x).as("ssum"),
          count(lit(1)).as("n"))
        .select(col("label"), col("dim").cast("int").as("dim"),
          (col("ssum") / col("n")).as("centroid"), col("n"))
    }),
  )

  private val dotSql =
    "list_sum(list_transform(list_zip(CAST(qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), p -> p[1] * p[2]))"
  private def normSql(c: String) =
    s"sqrt(list_sum(list_transform(CAST($c AS DOUBLE[]), x -> x * x)))"

  // ---- q35 oracle: replay the sign-LSH bucketing in DuckDB -------------
  // The hyperplanes are embedded as double literals (Double.toString is the
  // shortest round-trip form; DuckDB's parser is correctly rounded, so the
  // parsed values are bit-identical). list_sum(list_transform(list_zip(...)))
  // accumulates left-to-right in double like the native DotProduct kernel
  // (established bit-exact by the q26 oracle), hence every bucket sign —
  // and so the whole candidate set — matches the Spark side exactly.
  private def planeSql(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")
  private def bucketSql(table: Int): String =
    planes(table).zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_sum(list_transform(list_zip(v, ${planeSql(p)}), p -> p[1] * p[2])) > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
  private val pairDotSql =
    "list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1] * p[2]))"
  private def pairNormSql(c: String) =
    s"sqrt(list_sum(list_transform($c, x -> x * x)))"
  private lazy val bucketCteSql = {
    val bucketSelects = (0 until nTables).map { t =>
      s"SELECT vec_id, $t AS t, ${bucketSql(t)} AS bucket FROM e"
    }.mkString("\nUNION ALL ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS ($bucketSelects)""".stripMargin
  }

  /** q27 oracle: replay multiprobe sign-LSH candidate generation — a
    * corpus bucket collides with a query probe iff the codes differ in ≤1
    * bit (own bucket + the nBits Hamming-1 flips) — then exact cosine and
    * the same (cosine desc, id asc) top-k. Fully deterministic, so the
    * approximate ANN query is hash-checked end to end.
    */
  private lazy val knnLshSql =
    s"""WITH $bucketCteSql,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
       |  FROM b q JOIN b c ON q.t = c.t
       |    AND bit_count(xor(q.bucket, c.bucket)) <= 1
       |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       |s AS (
       |  SELECT q_id, neighbor_id,
       |    CASE WHEN ${pairNormSql("eq.v")} * ${pairNormSql("ec.v")} <> 0.0
       |      THEN list_sum(list_transform(list_zip(eq.v, ec.v), p -> p[1] * p[2]))
       |        / (${pairNormSql("eq.v")} * ${pairNormSql("ec.v")}) END AS cosine
       |  FROM cand
       |  JOIN e eq ON eq.vec_id = cand.q_id
       |  JOIN e ec ON ec.vec_id = cand.neighbor_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM s)
       |SELECT q_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= $topK""".stripMargin

  // The q35 pair replay as a CTE chain ending in p(id_a, id_b, cosine) —
  // shared by the q35 oracle and the q90 dedup-apply oracle (which runs
  // connected components over the same pairs).
  private lazy val neardupPairsCteSql = {
    s"""$bucketCteSql,
       |sz AS (SELECT t, bucket, count(*) AS n FROM b GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.t = y.t
       |    AND bit_count(xor(x.bucket, y.bucket)) <= 1
       |    AND x.vec_id < y.vec_id
       |  JOIN sz sx ON sx.t = x.t AND sx.bucket = x.bucket
       |    AND sx.n <= ${TextQueries.defaultMaxBucket}
       |  JOIN sz sy ON sy.t = y.t AND sy.bucket = y.bucket
       |    AND sy.n <= ${TextQueries.defaultMaxBucket}),
       |p AS (
       |  SELECT id_a, id_b, cosine FROM (
       |    SELECT id_a, id_b,
       |      CASE WHEN ${pairNormSql("ea.v")} * ${pairNormSql("eb.v")} <> 0.0
       |        THEN $pairDotSql / (${pairNormSql("ea.v")} * ${pairNormSql("eb.v")}) END AS cosine
       |    FROM cand
       |    JOIN e ea ON ea.vec_id = cand.id_a
       |    JOIN e eb ON eb.vec_id = cand.id_b)
       |  WHERE cosine > 0.4)""".stripMargin
  }

  private lazy val neardupSql =
    s"WITH $neardupPairsCteSql\nSELECT id_a, id_b, cosine FROM p"

  /** q90 oracle: the q35 pair replay, then the shared recursive-CTE
    * connected-components + min-id apply ([[TextQueries.ccOverPairsSql]])
    * anti-joined back onto the embedding table — the embedding-family
    * instance of the q58/q66/q67 apply oracle shape.
    */
  private lazy val embedDedupApplySql =
    s"""WITH RECURSIVE $neardupPairsCteSql,
       |pairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM p),
       |${TextQueries.ccOverPairsSql},
       |losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
       |SELECT em.vec_id, CAST(em.label AS INT) AS label
       |FROM embeddings em LEFT JOIN losers l ON em.vec_id = l.doc_id
       |WHERE l.doc_id IS NULL""".stripMargin

  /** q85 oracle: the q35 bucket/cap replay with slice predicates — a train
    * vec is refused iff some (train, eval) candidate pair (Hamming ≤ 1
    * bucket agreement, both home buckets under cap) exactly verifies above
    * the threshold; NULL cosine (zero norm) never verifies on either side.
    */
  private lazy val embedDecontamSql = {
    val m = TextQueries.evalSliceMod
    s"""WITH $bucketCteSql,
       |sz AS (SELECT t, bucket, count(*) AS n FROM b GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT tr.vec_id, ev.vec_id AS eval_id
       |  FROM b tr JOIN b ev ON tr.t = ev.t
       |    AND bit_count(xor(tr.bucket, ev.bucket)) <= 1
       |  JOIN sz sx ON sx.t = tr.t AND sx.bucket = tr.bucket
       |    AND sx.n <= ${TextQueries.defaultMaxBucket}
       |  JOIN sz sy ON sy.t = ev.t AND sy.bucket = ev.bucket
       |    AND sy.n <= ${TextQueries.defaultMaxBucket}
       |  WHERE tr.vec_id % $m <> 0 AND ev.vec_id % $m = 0),
       |hits AS (
       |  SELECT DISTINCT cand.vec_id FROM cand
       |  JOIN e ea ON ea.vec_id = cand.vec_id
       |  JOIN e eb ON eb.vec_id = cand.eval_id
       |  WHERE (CASE WHEN ${pairNormSql("ea.v")} * ${pairNormSql("eb.v")} <> 0.0
       |    THEN $pairDotSql / (${pairNormSql("ea.v")} * ${pairNormSql("eb.v")}) END) > 0.4)
       |SELECT em.vec_id, CAST(em.label AS INT) AS label
       |FROM embeddings em LEFT JOIN hits h ON em.vec_id = h.vec_id
       |WHERE em.vec_id % $m <> 0 AND h.vec_id IS NULL""".stripMargin
  }

  // ---- q39b oracle: replay deterministic-Lloyd IVF in DuckDB -----------
  // The whole training loop unrolls into CTEs: seeding is the salted-md5
  // order (DuckDB md5 ≡ Spark md5 on the same string), each assignment is
  // the same ‖c‖²−2a·c argmin with (score, cluster_id) tie order, and each
  // centroid update replays the q60 sorted fold (list(v ORDER BY vec_id) →
  // list_sum is the established left-to-right 0.0-start fold). Every float
  // both engines produce is therefore bit-identical, and the final ANN
  // answer — probes, candidates, cosines, ranks — hash-checks end to end.
  private def ivfScoreSql(v: String, c: String): String =
    s"(list_sum(list_transform($c, x -> x * x)) - " +
      s"2.0 * list_sum(list_transform(list_zip($v, $c), p -> p[1] * p[2])))"

  // PqIndex.localKmeans's assignment metric, replayed: plain squared L2,
  // (d·d) accumulated left-to-right over dims from 0.0 — unlike the encode
  // kernel's rank-equivalent ‖c‖²−2a·c (ivfScoreSql), which rounds
  // differently and could flip a near-tie, so each oracle stage must use
  // exactly the formula its Spark stage uses.
  private def l2ScoreSql(v: String, c: String): String =
    s"list_sum(list_transform(list_zip($v, $c), z -> (z[1] - z[2]) * (z[1] - z[2])))"

  /** The deterministic-Lloyd IVF codebook replay (IvfIndex.trainDet),
    * unrolled into CTEs: md5-salted seeding order, ‖c‖²−2a·c argmin with
    * (score, cluster_id) tie order, q60 sorted-fold centroid updates.
    * Requires `e(vec_id, v)` upstream; ends with `c{ivfIters}(cluster_id,
    * c)`. Shared by the q39b and q57b oracles.
    */
  private lazy val ivfCentroidCtesSql = {
    val seedKey = "md5(concat(CAST(vec_id AS VARCHAR), ':ivfseed'))"
    val iterCtes = (1 to ivfIters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, v, cluster_id FROM (
         |    SELECT e.vec_id, e.v, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${ivfScoreSql("e.v", "c.c")} ASC, c.cluster_id ASC) AS rn
         |    FROM e, c${i - 1} c) WHERE rn = 1),
         |c$i AS (
         |  SELECT cluster_id, list(cv ORDER BY dim) AS c FROM (
         |    SELECT cluster_id, dim,
         |      list_sum(list_transform(list(vv ORDER BY vec_id), x -> x)) / count(*) AS cv
         |    FROM (SELECT cluster_id, vec_id, generate_subscripts(v, 1) AS dim,
         |            unnest(v) AS vv FROM a$i)
         |    GROUP BY cluster_id, dim)
         |  GROUP BY cluster_id)""".stripMargin
    }.mkString(",\n")
    s"""samp AS (
       |  SELECT vec_id, v FROM (
       |    SELECT vec_id, v,
       |      row_number() OVER (ORDER BY $seedKey ASC, vec_id ASC) AS rn FROM e)
       |  WHERE rn <= ${ivfK * 8}),
       |sdd AS (SELECT min(vec_id) AS vec_id, v FROM samp GROUP BY v),
       |c0 AS (
       |  SELECT CAST(rn - 1 AS INT) AS cluster_id, v AS c FROM (
       |    SELECT vec_id, v,
       |      row_number() OVER (ORDER BY $seedKey ASC, vec_id ASC) AS rn FROM sdd)
       |  WHERE rn <= $ivfK),
       |$iterCtes""".stripMargin
  }

  /** The deterministic PQ replay (PqIndex.trainDet + encode), unrolled:
    * subspace j is a grouping column, so all m sub-codebooks train in ONE
    * CTE chain — md5-salted sample order (the driver loop's iteration
    * order), first-k-distinct init, l2-argmin assignment with first-min
    * ties, per-(j, ci, dim) sorted folds in sample order, empty clusters
    * keeping their previous centroid (the LEFT JOIN + COALESCE). Requires
    * `e(vec_id, v)` upstream; ends with `pc{pqIters}(j, ci, c)` — the
    * final codebooks — and `pcodes(vec_id, j, ci)` — the corpus encoded
    * with the kernel's ‖c‖²−2a·c argmin. Shared by q56b and q57b.
    */
  private lazy val pqCodesCtesSql = {
    val seedKey = "md5(concat(CAST(vec_id AS VARCHAR), ':pqseed'))"
    val jList = (0 until pqM).mkString("[", ", ", "]")
    val iterCtes = (1 to pqIters).map { i =>
      s"""pa$i AS (
         |  SELECT rn, j, sv, ci FROM (
         |    SELECT s.rn, s.j, s.sv, c.ci,
         |      row_number() OVER (PARTITION BY s.rn, s.j
         |        ORDER BY ${l2ScoreSql("s.sv", "c.c")} ASC, c.ci ASC) AS arn
         |    FROM psub s JOIN pc${i - 1} c ON c.j = s.j) WHERE arn = 1),
         |pm$i AS (
         |  SELECT j, ci, list(cv ORDER BY t) AS c FROM (
         |    SELECT j, ci, t,
         |      list_sum(list_transform(list(vv ORDER BY rn), x -> x)) / count(*) AS cv
         |    FROM (SELECT rn, j, ci, generate_subscripts(sv, 1) AS t,
         |            unnest(sv) AS vv FROM pa$i)
         |    GROUP BY j, ci, t)
         |  GROUP BY j, ci),
         |pc$i AS (
         |  SELECT p.j, p.ci, COALESCE(m.c, p.c) AS c
         |  FROM pc${i - 1} p LEFT JOIN pm$i m ON m.j = p.j AND m.ci = p.ci)""".stripMargin
    }.mkString(",\n")
    s"""js AS (SELECT unnest($jList) AS j),
       |psamp AS (
       |  SELECT v, rn FROM (
       |    SELECT v,
       |      row_number() OVER (ORDER BY $seedKey ASC, vec_id ASC) AS rn FROM e)
       |  WHERE rn <= $pqSample),
       |psub AS (
       |  SELECT p.rn, js.j,
       |    list_slice(p.v, js.j * $pqDs + 1, (js.j + 1) * $pqDs) AS sv
       |  FROM psamp p, js),
       |pc0 AS (
       |  SELECT j, CAST(rnn - 1 AS INT) AS ci, sv AS c FROM (
       |    SELECT j, sv, row_number() OVER (PARTITION BY j ORDER BY frn ASC) AS rnn
       |    FROM (SELECT j, sv, min(rn) AS frn FROM psub GROUP BY j, sv))
       |  WHERE rnn <= $pqK),
       |$iterCtes,
       |esub AS (
       |  SELECT e.vec_id, js.j,
       |    list_slice(e.v, js.j * $pqDs + 1, (js.j + 1) * $pqDs) AS sv
       |  FROM e, js),
       |pcodes AS (
       |  SELECT vec_id, j, ci FROM (
       |    SELECT s.vec_id, s.j, c.ci,
       |      row_number() OVER (PARTITION BY s.vec_id, s.j
       |        ORDER BY ${ivfScoreSql("s.sv", "c.c")} ASC, c.ci ASC) AS crn
       |    FROM esub s JOIN pc$pqIters c ON c.j = s.j) WHERE crn = 1)""".stripMargin
  }

  /** The ADC search replay shared by q56b/q57b: per-query LUT partials
    * (the kernel's ‖c‖²−2q_j·c per (j, ci)) from the final codebooks +
    * query subvectors, then — given a `pairs(q_id, vec_id)` CTE of
    * candidate pairs — the j-ordered fold to adc_dist and the (dist asc,
    * id asc) top-k.
    */
  private lazy val adcSearchSql =
    s"""qsub AS (
       |  SELECT q.q_id, js.j,
       |    list_slice(q.qe, js.j * $pqDs + 1, (js.j + 1) * $pqDs) AS sv
       |  FROM q, js),
       |plut AS (
       |  SELECT q.q_id, c.j, c.ci, ${ivfScoreSql("q.sv", "c.c")} AS part
       |  FROM qsub q JOIN pc$pqIters c ON c.j = q.j),
       |s AS (
       |  SELECT l.q_id, cd.vec_id AS neighbor_id,
       |    list_sum(list_transform(list(l.part ORDER BY l.j), x -> x)) AS adc_dist
       |  FROM pairs pr
       |  JOIN pcodes cd ON cd.vec_id = pr.vec_id
       |  JOIN plut l ON l.q_id = pr.q_id AND l.j = cd.j AND l.ci = cd.ci
       |  GROUP BY l.q_id, cd.vec_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rnk FROM s)
       |SELECT q_id, neighbor_id, adc_dist, rnk FROM r WHERE rnk <= $topK""".stripMargin

  // q56b: flat ADC — every (query, corpus) pair except self is a candidate.
  private lazy val knnPqDetSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$pqCodesCtesSql,
       |q AS (SELECT vec_id AS q_id, v AS qe FROM e WHERE vec_id < $nQueries),
       |pairs AS (
       |  SELECT q.q_id, e.vec_id FROM q, e WHERE e.vec_id <> q.q_id),
       |$adcSearchSql""".stripMargin

  // q57b: IVF-PQ — candidates restricted to each query's nprobe nearest
  // clusters (deterministic coarse quantizer from the shared ivf chain),
  // assignment and probe selection both the ‖c‖²−2a·c argmin/top-n with
  // (score, cluster_id) tie order, exactly PqIndex.knnIvfPq's plan.
  private lazy val knnIvfPqDetSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$ivfCentroidCtesSql,
       |$pqCodesCtesSql,
       |q AS (SELECT vec_id AS q_id, v AS qe FROM e WHERE vec_id < $nQueries),
       |aclu AS (
       |  SELECT vec_id, cluster_id FROM (
       |    SELECT e.vec_id, c.cluster_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${ivfScoreSql("e.v", "c.c")} ASC, c.cluster_id ASC) AS rn
       |    FROM e, c$ivfIters c) WHERE rn = 1),
       |qprobes AS (
       |  SELECT q_id, cluster_id FROM (
       |    SELECT q.q_id, c.cluster_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${ivfScoreSql("q.qe", "c.c")} ASC, c.cluster_id ASC) AS rn
       |    FROM q, c$ivfIters c) WHERE rn <= $ivfpqProbe),
       |pairs AS (
       |  SELECT p.q_id, a.vec_id
       |  FROM qprobes p JOIN aclu a ON a.cluster_id = p.cluster_id
       |  WHERE a.vec_id <> p.q_id),
       |$adcSearchSql""".stripMargin

  private lazy val knnIvfDetSql = {
    val cFinal = s"c$ivfIters"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$ivfCentroidCtesSql,
       |q AS (SELECT vec_id AS q_id, v AS qe FROM e WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT q_id, qe, cluster_id FROM (
       |    SELECT q.q_id, q.qe, c.cluster_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${ivfScoreSql("q.qe", "c.c")} ASC, c.cluster_id ASC) AS rn
       |    FROM q, $cFinal c) WHERE rn <= $ivfNprobe),
       |af AS (
       |  SELECT vec_id, v, cluster_id FROM (
       |    SELECT e.vec_id, e.v, c.cluster_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${ivfScoreSql("e.v", "c.c")} ASC, c.cluster_id ASC) AS rn
       |    FROM e, $cFinal c) WHERE rn = 1),
       |s AS (
       |  SELECT p.q_id, a.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_sum(list_transform(p.qe, x -> x * x)))
       |           * sqrt(list_sum(list_transform(a.v, x -> x * x))) <> 0.0
       |      THEN list_sum(list_transform(list_zip(p.qe, a.v), z -> z[1] * z[2]))
       |           / (sqrt(list_sum(list_transform(p.qe, x -> x * x)))
       |              * sqrt(list_sum(list_transform(a.v, x -> x * x))))
       |    END AS cosine
       |  FROM probes p JOIN af a USING (cluster_id)
       |  WHERE a.vec_id <> p.q_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM s)
       |SELECT q_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= $topK""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q39b_knn_ivf_det" -> knnIvfDetSql,
    "q56b_knn_pq_det" -> knnPqDetSql,
    "q57b_knn_ivfpq_det" -> knnIvfPqDetSql,
    "q85_embed_decontam" -> embedDecontamSql,
    "q90_embed_dedup_apply" -> embedDedupApplySql,
    "q26_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < $nQueries),
         |s AS (
         |  SELECT q_id, e.vec_id AS neighbor_id,
         |    CASE WHEN ${normSql("qe")} * ${normSql("e.embedding")} <> 0.0
         |      THEN $dotSql / (${normSql("qe")} * ${normSql("e.embedding")}) END AS cosine
         |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM s)
         |SELECT q_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= $topK""".stripMargin,
    "q35_embed_neardup" -> neardupSql,
    "q27_knn_lsh" -> knnLshSql,
    "q55_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v, vmin, vmax, (vmax - vmin) / 255.0 AS scale
        |  FROM (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e)),
        |c AS (
        |  SELECT vec_id, v, vmin, vmax, scale,
        |    list_transform(v, x -> CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
        |      ELSE least(CAST(255 AS BIGINT),
        |        CAST(floor((x - vmin) / scale + 0.5) AS BIGINT)) END) AS codes
        |  FROM s)
        |SELECT vec_id, vmin, vmax,
        |  array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',') AS codes_csv,
        |  list_sum(list_transform(list_zip(v, codes),
        |    p -> (p[1] - (vmin + p[2] * scale)) * (p[1] - (vmin + p[2] * scale)))) AS sq_err
        |FROM c""".stripMargin,
    "q28_embed_stats" ->
      s"""SELECT vec_id, label,
         |  CAST(embedding[1] AS DOUBLE) AS dim0,
         |  ${normSql("embedding")} AS l2_norm
         |FROM embeddings""".stripMargin,
    // list(v ORDER BY vec_id) + list_sum is a left-to-right fold in vec_id
    // order — same accumulation order as the Spark side, hence bit-exact.
    // (q29 itself is the Summarizer scale path — partition-order float sums,
    // rows-only check; this twin carries the hash check.)
    "q60_centroid_fold" ->
      """WITH e AS (
        |  SELECT CAST(label AS INT) AS label, vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings)
        |SELECT label, dim,
        |  list_sum(list_transform(list(v ORDER BY vec_id), x -> x))
        |    / count(*) AS centroid,
        |  count(*) AS n
        |FROM e GROUP BY 1, 2""".stripMargin,
  )
}

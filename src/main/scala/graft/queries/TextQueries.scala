package graft.queries

import graft.Tables
import graft.functions.{TextFingerprints, TextOps}
import graft.operators.{DedupClustering, RelationalOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication inventory over the `documents` table:
  * token/quality/language stats, exact dedup, MinHash+LSH near-dup with
  * Jaccard verification, SimHash and winnowing fingerprints.
  *
  * All oracle-checked queries use only per-row deterministic arithmetic
  * (integer counts, single divisions, lexicographic mins of md5 hex) so
  * DuckDB reproduces values bit-for-bit. SimHash/winnow derive their
  * 64-bit unit hashes from md5 (first 16 hex chars) for exactly this
  * reason — both fingerprints are bit-replayed by the DuckDB oracle
  * (hex-digit bit extraction for simhash, k-gram substr+md5+window-min
  * for winnow), with ScalaTest property coverage on top.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Documents scan with the scale-adaptive fan-out ([[graft.operators
    * .Fan.out]]): identity whenever the scan already yields ≥ core-count
    * partitions (any real corpus), one hash exchange on doc_id when the
    * table is a single row group and every narrow kernel stage would
    * otherwise run on ONE core (the driver corpus shape — measured 1
    * scan partition on 32 cores at every SF). Used by every registration
    * whose result is order-independent (per-row projections, integer /
    * min / count aggregations, deterministic windows) AND whose kernel
    * work is dense enough to amortize the exchange + 32-task stage
    * overhead (A/B at sf0.1: shingle+minhash 0.84 s → 0.28 s, lang-id
    * 0.44 s → 0.24 s; but md5-only q20 0.30 s → 0.49 s, so it stays raw,
    * as do q73/q86 — zero-exchange plan shape is their point — and the
    * cheap-kernel embeddings queries). Nothing with partition-order float
    * sums (q29-style) routes through here.
    */
  private def docsWide(s: SparkSession, d: String): DataFrame =
    graft.operators.Fan.out(Tables.documents(s, d), col("doc_id"))

  /** THE simhash-of-document definition (64-bit simhash over normalized
    * whitespace tokens of `text`) — single-sourced like [[sigCols]]/
    * [[bandsExploded]] so the batch q24/q64 family and the streaming
    * twins can never diverge on the fingerprint family.
    */
  private[graft] def simhashCol: org.apache.spark.sql.Column =
    TextFingerprints.simhash64(TextOps.tokens(TextOps.normalized(col("text"))))

  /** Exact-dedup losers: every doc whose md5-of-normalized-text
    * fingerprint has a smaller doc_id — the same canonical election the
    * q20 registry entry aggregates (groupBy fingerprint → min doc_id;
    * the oracle replays that form), factored so
    * [[graft.pipeline.TrainingPipeline]]'s ExactDedup mode and q20
    * cannot diverge. One shuffle on the fingerprint; no window.
    */
  private[graft] def exactLosersOf(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("__fp"))
    keyed
      .join(
        keyed.groupBy("__fp").agg(min(col("doc_id")).as("__canonical")),
        Seq("__fp"))
      .filter(col("doc_id") =!= col("__canonical"))
      .select("doc_id")
  }

  // ---- dedup pair families ----------------------------------------------
  //
  // Each family supplies only its canonical pair frame (doc_a < doc_b,
  // distinct, no self-pairs); DedupClustering.losers turns any of them
  // into the min-doc_id loser set, so the registry applies and
  // TrainingPipeline share one clustering and one election.

  /** MinHash+LSH near-dup candidate pairs (q22) — inBucketPairs emits
    * a<b, distinct.
    */
  private[graft] def neardupPairsOf(docs: DataFrame): DataFrame =
    candidatePairsFrom(sigsFrom(shingledDocs(docs)))

  /** (doc_id, cluster_id) near-dup clusters over [[neardupPairsOf]] — q43,
    * and the labels q76's priority election and q80's split key read.
    */
  private[graft] def neardupClustersOf(docs: DataFrame): DataFrame =
    DedupClustering.connectedComponents(
      neardupPairsOf(docs), pairsCanonical = true)

  /** Source priorities for q76: the first four sources stand in for a
    * curated slice (priority 0 — keep these when a cluster mixes
    * provenances); unmapped sources default to 1000 (lower wins).
    */
  private[graft] val sourcePriorities: Map[String, Int] =
    Map("src0" -> 0, "src1" -> 0, "src2" -> 0, "src3" -> 0)

  private def priorityCol(priorities: Map[String, Int], default: Int) =
    priorities.toSeq.sortBy(_._1).foldLeft(lit(default)) {
      case (acc, (s, p)) => when(col("source") === s, lit(p)).otherwise(acc)
    }

  /** Near-dup losers under SOURCE-PRIORITY canonical election: same
    * clusters as q43/q58, but each cluster's survivor is the member with
    * the best (lowest) source priority, doc_id as the deterministic
    * tie-break — the standard rule when deduplicating a mixed-provenance
    * corpus (keep the curated copy, drop the crawled ones). Min-label CC
    * stays untouched (labels are just cluster names); election is one
    * grouped `min(struct(priority, doc_id))` + join — two narrow shuffles
    * over cluster-member rows only, never the corpus.
    */
  private[graft] def priorityLosersOf(
      docs: DataFrame, priorities: Map[String, Int],
      defaultPriority: Int = 1000): DataFrame = {
    val withPrio = neardupClustersOf(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("__prio", priorityCol(priorities, defaultPriority))
    val canon = withPrio.groupBy("cluster_id")
      .agg(min(struct(col("__prio"), col("doc_id"))).as("__c"))
      .select(col("cluster_id"), col("__c.doc_id").as("__canonical"))
    withPrio.join(canon, "cluster_id")
      .filter(col("doc_id") =!= col("__canonical"))
      .select("doc_id")
  }

  /** Simhash-family pairs: the q64 banded Hamming ≤ 3 pairs — with the
    * shared clustering, SimHash is a full dedup METHOD (pairs → clusters →
    * apply), not just a fingerprint. Same scale shape as MinHash: one
    * fingerprint pass, one (band, key) shuffle, capped bucket expansion,
    * so CC's input is the (small) pair set rather than the corpus.
    * inBucketPairs sorts the (doc_id, simhash) structs — doc_ids are
    * unique within a bucket, so projected pairs stay a<b and distinct.
    */
  private[graft] def simhashPairsOf(docs: DataFrame): DataFrame =
    simhashPairsFrom(docs.select(col("doc_id"), simhashCol.as("simhash")))
      .select("doc_a", "doc_b")

  /** Winnow-family pairs: q65 overlap pairs (≥ 0.5 over df-capped rare
    * fingerprints), grouped by (doc_a, doc_b) over strictly increasing
    * posting-list positions — a<b, distinct.
    */
  private[graft] def winnowPairsOf(docs: DataFrame): DataFrame =
    winnowOverlapFrom(docs.select(col("doc_id"), winnowFps))
      .select("doc_a", "doc_b")

  /** THE winnow-fingerprint column of the overlap family (q65 and the q67
    * apply).
    */
  private[graft] def winnowFps: Column =
    TextFingerprints.winnowFingerprint(
      TextOps.normalized(col("text")), 8, 16).as("fps")

  /** GPT-3-style benchmark decontamination (Brown et al. 2020, Appendix C
    * — no reference analogue; a training-data-pipeline extension): a
    * training document is CONTAMINATED if it shares at least one word
    * `decontamGramN`-gram with any document of the eval/benchmark set.
    * 13 words is the published threshold: long enough that a shared gram
    * is evidence of copying, not coincidence (31^13 ≈ 2.4e19 possible
    * grams on this lexicon vs ~1e5 grams in the corpus — zero background
    * collisions; what it flags is the planted near-dups of eval docs).
    */
  private[graft] val decontamGramN = 13

  /** Deterministic eval-set stand-in for the registry queries: every 25th
    * doc_id acts as the held-out benchmark, the rest are the training
    * pool. (A real pipeline passes its benchmark table —
    * [[graft.pipeline.TrainingPipeline.export]] takes `evalDocs` directly;
    * the registry needs a reproducible slice of the one documents table.)
    */
  private[graft] val evalSliceMod = 25
  private[graft] def evalSlice(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % evalSliceMod === 0)
  private[graft] def trainSlice(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % evalSliceMod =!= 0)

  /** doc_id → exploded DISTINCT word n-grams, tokens staged as a real
    * projection (same HOF-CSE discipline as [[shingledDocs]]). Docs
    * shorter than n tokens degrade to one whole-doc gram (the
    * wordShingles convention), so short eval docs still catch their
    * exact copies.
    */
  private[graft] def docGrams(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.wordShinglesFromTokens(col("toks"), n)).as("gram"))

  /** Per-training-doc contamination evidence — distinct shared grams and
    * distinct eval docs hit; clean docs don't appear.
    *
    * Scale shape: an eval set is a benchmark — thousands of documents,
    * not billions — so its gram table is BROADCAST and the corpus side
    * joins without shuffling; the only shuffle is the per-doc aggregation
    * of the (rare) matching grams. The corpus-side gram explosion is
    * narrow and never materialized.
    */
  private[graft] def contaminationHits(
      train: DataFrame, evalDocs: DataFrame,
      n: Int = decontamGramN): DataFrame =
    docGrams(train, n)
      .join(broadcast(docGrams(evalDocs, n)
        .select(col("doc_id").as("eval_id"), col("gram"))), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("shared_grams"),
        countDistinct(col("eval_id")).as("eval_docs"))

  /** The training pool with contaminated docs REMOVED — the terminal
    * decontamination step a pipeline runs before tokenization. Left-anti
    * join against the hit set (same apply discipline as the dedup
    * families).
    */
  private[graft] def decontaminate(
      train: DataFrame, evalDocs: DataFrame,
      n: Int = decontamGramN): DataFrame =
    train.join(contaminationHits(train, evalDocs, n).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** [[decontaminate]] with a BLOOM PREFILTER on the corpus-side grams
    * (q83): the eval set's distinct grams are folded into a ~1.2-byte-per-
    * item bloom filter ([[graft.functions.SketchOps.buildStringBloom]])
    * and probed INSIDE the corpus scan's codegen'd filter, so the ~all
    * clean grams never reach the join at all. The exact join behind it
    * then confirms the survivors — bloom false positives are re-checked,
    * false negatives are impossible, so the RESULT is identical to
    * [[decontaminate]] by construction (DecontamBloomSpec asserts
    * equality; the oracle is literally q69's).
    *
    * Why it matters at 100 TB: the broadcast-hash-join variant ships the
    * full eval gram set (strings + hash map, easily hundreds of MB for a
    * large eval suite) to every executor and probes it per gram; the bloom
    * is ~100× smaller and its probe is a few cache-friendly word reads —
    * and when the eval side outgrows broadcast entirely (forcing a shuffle
    * join), the prefilter cuts the shuffled corpus-side volume to the
    * matching grams plus an fpp-sized trickle.
    */
  private[graft] def decontaminateBloom(
      train: DataFrame, evalDocs: DataFrame,
      n: Int = decontamGramN, fpp: Double = 0.01): DataFrame =
    train.join(bloomContaminationHits(train, evalDocs, n, fpp),
      Seq("doc_id"), "left_anti")

  /** The bloom-prefiltered hit set of [[decontaminateBloom]], factored so
    * the registry can anti-join it against a pre-projected output frame
    * (§2.3 — the anti-join then never carries text).
    */
  private[graft] def bloomContaminationHits(
      train: DataFrame, evalDocs: DataFrame,
      n: Int = decontamGramN, fpp: Double = 0.01): DataFrame = {
    val evGrams = docGrams(evalDocs, n).select("gram").distinct()
    val bloom = graft.functions.SketchOps.buildStringBloom(
      evGrams, "gram", expectedItems = evGrams.count(), fpp = fpp)
    docGrams(train, n)
      .filter(graft.functions.SketchOps.bloomMightContain(col("gram"), bloom))
      .join(broadcast(evGrams), "gram")
      .select("doc_id").distinct()
  }

  /** q72's passage length: word 10-grams with multiplicity — Lee et al.
    * 2021 use 50-BPE-token spans; 10 lexicon words is the same idea scaled
    * to this corpus' 47–560-char documents.
    */
  private[graft] val dupPassageGramN = 10

  /** Per-language sampling rates for q73 — en halved, fr quartered, es
    * trimmed, the rest kept (the corpus' en share is ~2.4× any other
    * language). Languages absent from the map are kept.
    */
  private[graft] val mixtureRates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.75, "fr" -> 0.25, "zh" -> 1.0)

  /** floor(rate·2^32) as fixed-width lowercase hex — the threshold a doc's
    * 8-hex salted sample key is compared against. Lexicographic order on
    * fixed-width lowercase hex IS unsigned numeric order, so `key < hex(r)`
    * keeps exactly the fraction r of the uniform md5 space.
    */
  private[graft] def sampleThresholdHex(rate: Double): String =
    // rate ≥ 1 must compare GREATER than every 8-hex key, but
    // floor(1.0·2^32) formats as the 9-char "100000000" and lexicographic
    // compare against 8-char keys is char-by-char ('f' > '1'), which sends
    // 15/16 of the key space the WRONG way. "g" sorts after every hex
    // string, i.e. "keep everything" — the boundary splitAssignOf hits
    // when trainFrac (or trainFrac+valFrac) reaches 1.0.
    if (rate >= 1.0) "g"
    else f"${math.floor(math.max(rate, 0.0) * 4294967296.0).toLong}%08x"

  /** Deterministic per-language Bernoulli sampler: keep a doc iff its
    * salted md5 key falls under its language's threshold. Pure narrow
    * predicate — no shuffle, no state, reproducible across runs/engines;
    * rates ≥ 1.0 (and unmapped languages) short-circuit to keep.
    */
  private[graft] def mixtureSample(
      docs: DataFrame, rates: Map[String, Double],
      langCol: String = "lang"): DataFrame = {
    val keyed = docs.withColumn("sample_key",
      substring(md5(concat(col("doc_id").cast("string"), lit(":mix"))), 1, 8))
    val keep = rates.filter(_._2 < 1.0).foldLeft(lit(true)) {
      case (acc, (lang, rate)) =>
        when(col(langCol) === lang,
          col("sample_key") < lit(sampleThresholdHex(rate))).otherwise(acc)
    }
    keyed.filter(keep)
  }

  /** Required-stopword gates for the Gopher quality filter: the table-A1
    * value (≥2 of the eight [[TextOps.gopherRequiredWords]] present) and
    * the relaxed gate the q75b apply-variant uses. The synthetic corpus
    * never contains two distinct required stopwords in one doc, so the
    * standard gate keeps ZERO docs here and the q75 oracle check passes
    * only trivially (0 == 0); q75b swaps in [[gopherRelaxedMinStops]] —
    * the only threshold that differs — so the full q70 ∧ q71 ∧ q74
    * composition is hash-verified end-to-end on a non-trivial proper
    * subset (every other gate stays active: ~45% of docs fail n_words ≥ 50
    * and ~24% fail the relaxed stopword gate). Single source of truth for
    * the Spark filters AND the generated oracle SQL.
    */
  private[graft] val gopherMinStops: Long = 2L
  private[graft] val gopherRelaxedMinStops: Long = 1L

  /** The q71 Gopher table-A1 quality signals + verdict (see the registry
    * comment). Factored so GopherQualitySpec can run planted corpora
    * through the exact registered computation. `minStops` parameterizes
    * the required-stopword gate (see [[gopherMinStops]]).
    */
  private[graft] def gopherQualityOf(
      docs: DataFrame, minStops: Long = gopherMinStops): DataFrame = {
    val staged = docs
      .select(col("doc_id"), col("text"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"),
        TextOps.lines(col("text")).as("ls"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        (aggregate(col("toks"), lit(0.0), (a, t) => a + length(t).cast("double"))
          / size(col("toks")).cast("double")).as("mean_word_len"),
        (TextOps.symbolCount(col("text")).cast("double")
          / greatest(size(col("toks")), lit(1)).cast("double")).as("symbol_ratio"),
        (TextOps.alphaWordCount(col("toks")).cast("double")
          / size(col("toks")).cast("double")).as("alpha_word_frac"),
        TextOps.gopherRequiredStopCount(col("toks")).as("n_required_stops"),
        (TextOps.bulletLineCount(col("ls")).cast("double")
          / size(col("ls")).cast("double")).as("bullet_line_frac"),
        (TextOps.ellipsisLineCount(col("ls")).cast("double")
          / size(col("ls")).cast("double")).as("ellipsis_line_frac"))
    staged.select(col("*"),
      (col("n_words") >= 50L && col("n_words") <= 100000L &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") <= 0.1 &&
        col("alpha_word_frac") >= 0.8 &&
        col("n_required_stops") >= minStops &&
        col("bullet_line_frac") <= 0.9 &&
        col("ellipsis_line_frac") <= 0.3).as("passes_gopher_quality"))
  }

  /** The rest of Gopher's repetition thresholds (Rae et al. 2021, table
    * A1): q70 carries the representative top-2-gram / dup-5-gram pair;
    * these complete the table. Fractions are occurrence-weighted like q70.
    */
  private[graft] val gopherTopGramThresholds: Seq[(Int, Double)] =
    Seq(3 -> 0.18, 4 -> 0.16)
  private[graft] val gopherDupGramThresholds: Seq[(Int, Double)] =
    Seq(6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** The q74 extended Gopher repetition profile: top-{3,4}-gram char
    * fractions, duplicated-{6..10}-gram char fractions, and the
    * duplicate-line / duplicate-paragraph rules (occurrence-weighted
    * fraction of units, and of unit chars, belonging to repeated units).
    * With q70's 2-gram/5-gram pair this is the COMPLETE table A1; the full
    * Gopher decision for a doc is q70 ∧ q71 ∧ q74.
    * Entirely narrow — seven sorted-runs gram folds + two unit folds per
    * row, zero shuffles; integer counts + single divisions → bit-exact
    * oracle (top-gram ties break to the lexicographically smallest gram on
    * both sides, see gramRunStats).
    */
  private[graft] def gopherRepetitionExtOf(docs: DataFrame): DataFrame = {
    val staged = docs
      .select(col("doc_id"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"),
        TextOps.lines(col("text")).as("ls"),
        TextOps.paragraphs(col("text")).as("ps"))
    val statCols =
      (gopherTopGramThresholds ++ gopherDupGramThresholds).map { case (n, _) =>
        TextFingerprints.gramRunStats(col("toks"), n).as(s"g$n")
      } ++ Seq(
        TextOps.unitRunStats(col("ls")).as("lstats"),
        size(col("ls")).cast("long").as("nl"),
        TextOps.unitRunStats(col("ps")).as("pstats"),
        size(col("ps")).cast("long").as("np"))
    val withStats = staged.select(col("doc_id") +: statCols: _*)
    val fracCols =
      gopherTopGramThresholds.map { case (n, _) =>
        ((col(s"g$n.top_count") * length(col(s"g$n.top_gram")).cast("long"))
          .cast("double")
          / greatest(col(s"g$n.total_chars"), lit(1L)).cast("double"))
          .as(s"top${n}_char_frac")
      } ++
      gopherDupGramThresholds.map { case (n, _) =>
        (col(s"g$n.dup_chars").cast("double")
          / greatest(col(s"g$n.total_chars"), lit(1L)).cast("double"))
          .as(s"dup${n}_char_frac")
      } ++ Seq(
        (col("lstats.dup_occ").cast("double") / col("nl").cast("double"))
          .as("dup_line_frac"),
        (col("lstats.dup_chars").cast("double")
          / greatest(col("lstats.total_chars"), lit(1L)).cast("double"))
          .as("dup_line_char_frac"),
        (col("pstats.dup_occ").cast("double") / col("np").cast("double"))
          .as("dup_para_frac"),
        (col("pstats.dup_chars").cast("double")
          / greatest(col("pstats.total_chars"), lit(1L)).cast("double"))
          .as("dup_para_char_frac"))
    val fracs = withStats.select(col("doc_id") +: fracCols: _*)
    val verdict =
      (gopherTopGramThresholds.map { case (n, t) => col(s"top${n}_char_frac") <= t } ++
        gopherDupGramThresholds.map { case (n, t) => col(s"dup${n}_char_frac") <= t } ++
        Seq(
          col("dup_line_frac") <= 0.30, col("dup_line_char_frac") <= 0.20,
          col("dup_para_frac") <= 0.30, col("dup_para_char_frac") <= 0.20))
        .reduce(_ && _)
    fracs.select(col("*"), verdict.as("passes_gopher_repetition_ext"))
  }

  /** The q78 quality-proportional sampler over a SCORED frame (needs a
    * `quality` column, the q19 expression): keep each row iff its salted
    * md5 key falls under floor(quality·2^32) rendered as fixed-width hex.
    * The ':qs' salt keeps this Bernoulli stream independent of the q73
    * language sampler's ':mix' stream, so composing both never correlates
    * their keep decisions. quality 1.0 clamps the threshold to ffffffff
    * (a 2^-32 under-keep — the 9-hex-char alternative would break the
    * fixed-width lexicographic=numeric invariant).
    */
  private[graft] def qualitySample(scored: DataFrame): DataFrame =
    // staged: __thr derives from the heavy quality column, computed once
    RelationalOps.stage(scored
      .withColumn("sample_key",
        substring(md5(concat(col("doc_id").cast("string"), lit(":qs"))), 1, 8))
      .withColumn("__thr",
        format_string("%08x",
          least(floor(col("quality") * lit(4294967296.0)).cast("long"),
            lit(4294967295L)))))
      .filter(col("sample_key") < col("__thr"))
      .drop("__thr")

  // ---- q86 deterministic corpus shuffle + shard assignment --------------

  /** q86 shard count. Production uses data-parallel-worker multiples;
    * the mechanism is count-agnostic.
    */
  private[graft] val shuffleShardCount = 8

  /** The q86 shuffle key: 8 hex chars of a salted md5 — a uniform,
    * engine-independent random order for the corpus (the shuffle every
    * training run needs must NOT be the engine's nondeterministic row
    * order: resuming, re-exporting, or re-sharding has to reproduce it).
    * ':shuf' keeps the stream independent of the ':mix'/':qs'/':split'
    * Bernoulli streams.
    */
  private[graft] def shuffleKeyCol: Column =
    substring(md5(concat(col("doc_id").cast("string"), lit(":shuf"))), 1, 8)

  /** Shard of a shuffle key: equal-width hex ranges via the
    * [[sampleThresholdHex]] boundaries — shard i is keys in
    * [thr(i/n), thr((i+1)/n)). Spark CASE chain and the oracle's SQL CASE
    * are generated from the SAME boundary loop (the [[graft.sources
    * .ZOrderLayout]] single-source convention), so the two engines cannot
    * disagree on a boundary key.
    */
  private[graft] def shardOfKey(key: Column, n: Int = shuffleShardCount): Column =
    (1 until n).foldRight(lit(n - 1): Column) { (i, rest) =>
      when(key < lit(sampleThresholdHex(i.toDouble / n)), lit(i - 1))
        .otherwise(rest)
    }.cast("int")

  private[graft] def shardOfKeySql(keyExpr: String, n: Int = shuffleShardCount): String =
    (1 until n).map { i =>
      s"WHEN $keyExpr < '${sampleThresholdHex(i.toDouble / n)}' THEN ${i - 1}"
    }.mkString("CAST(CASE ", " ", s" ELSE ${n - 1} END AS INT)")

  /** q86: the deterministic corpus shuffle + shard assignment — the step
    * between filtering and tokenization in every training-data pipeline
    * (data-parallel workers each read one shard, in shuffle-key order).
    * Pure narrow projection: the KEY defines the order and the shard;
    * no global sort runs here. The physical ordered layout is
    * [[graft.sources.ShuffledShards.writeShuffled]] — a range partition
    * on the key (scales: each of numFiles tasks sorts its slice), never a
    * per-shard window (8 shards = 8 giant single partitions at 100 TB).
    */
  private[graft] def shuffleShardsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shuffleKeyCol.as("shuffle_key"))
      .withColumn("shard", shardOfKey(col("shuffle_key")))

  // ---- q87 token-budget selection ---------------------------------------

  /** q87 quality-band resolution: quality ∈ [0,1] → floor(q·10000). */
  private[graft] val budgetBandScale = 10000

  /** q87: token-budget corpus selection — the "best B tokens" op
    * (SlimPajama/DCLM-style data curation): fill `budgetTokens` from the
    * highest-quality documents down. Done the way that survives 100 TB:
    * NEVER a global quality sort with a running sum (a single-partition
    * window over the corpus). Instead (1) one narrow pass bands each doc's
    * quality into ≤[[budgetBandScale]]+1 integer bands; (2) a tiny
    * aggregate (one shuffle, ≤10001 rows) computes per-band token totals
    * and a running total over the bands — the only unpartitioned window
    * runs over that band table, not the corpus; (3) full bands above the
    * cutoff keep everything, and the ONE partial boundary band is filled
    * by deterministic Bernoulli thinning at rate needed/band_tokens on the
    * ':tb' hex stream (expected tokens = needed; exact prefix selection
    * within the band would reintroduce the global sort). The band decision
    * table broadcasts back onto the corpus — the second corpus pass is a
    * narrow filter.
    */
  private[graft] def tokenBudgetSelect(
      docs: DataFrame, budgetTokens: Long): DataFrame = {
    // materialize the scored table: it feeds BOTH the band histogram and
    // the join-back — unmaterialized, the q19 quality expression and the
    // token count (the two heavy kernels here) evaluate over the corpus
    // TWICE (guide §1.2). One slim (doc_id, n_tokens, band, tb_key) row
    // per doc; integer/hash columns, value-exact.
    val scored = RelationalOps.materialize(scoreDocs(docs).select(
      col("doc_id"), col("n_tokens"),
      floor(col("quality") * budgetBandScale).cast("long").as("band"),
      substring(md5(concat(col("doc_id").cast("string"), lit(":tb"))), 1, 8)
        .as("tb_key")))
    val bands = scored.groupBy("band").agg(sum("n_tokens").as("band_tokens"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cut = bands
      .withColumn("cum_before", coalesce(sum("band_tokens").over(w), lit(0L)))
      .withColumn("needed", lit(budgetTokens) - col("cum_before"))
      .filter(col("needed") > 0L)
      .select(col("band"), col("band_tokens"), col("needed"))
    scored.join(broadcast(cut), Seq("band"))
      .filter(col("needed") >= col("band_tokens") ||
        // least-clamp at ffffffff: a rate that ROUNDS to 1.0 (needed just
        // under band_tokens at float resolution) would otherwise format as
        // the 9-char "100000000", and char-by-char compare against 8-hex
        // keys keeps only 1/16 of the boundary band — same hazard
        // sampleThresholdHex documents; 2^-32 under-keep accepted
        col("tb_key") < format_string("%08x",
          least(lit(4294967295L),
            floor(col("needed").cast("double") / col("band_tokens").cast("double")
              * lit(4294967296.0)).cast("long"))))
      .select("doc_id", "n_tokens", "band")
  }

  // ---- q84 incremental (batch-vs-corpus) dedup --------------------------

  /** q84: admission dedup for a NEW batch against the accumulated corpus —
    * the op an incremental-crawl pipeline runs per ingest: drop batch docs
    * that are exact copies of a base doc (md5-of-normalized fingerprint
    * present in the base) or near-dups of one (share an LSH band bucket
    * with a base doc — the q22 candidate definition, applied cross-table).
    * Surviving batch rows are returned unchanged; the batch is NOT deduped
    * against itself (that happened — or will — under the full-corpus
    * families; admission only answers "is this new vs what we have").
    *
    * Scale shape, per ingest of batch B against corpus C (|B| ≪ |C|):
    * the base fingerprint/band tables are computed once per ingest here,
    * but in production are INCREMENTALLY MAINTAINED (yesterday's table +
    * yesterday's admitted batch — each a cheap append); the joins shuffle
    * hash-sized keys, never text. The hot-bucket cap is applied on the
    * BASE side — the accumulated corpus is where boilerplate buckets grow
    * unbounded — and replayed by the oracle's HAVING.
    */
  /** The base side's (band, key) buckets surviving the hot-bucket cap —
    * the static lookup table of the admission check, shared by the batch
    * apply below and the stateless streaming twin
    * ([[graft.streaming.StreamingOps.admissionDedupStream]]).
    */
  private[graft] def keptBaseBuckets(
      base: DataFrame, maxBucket: Int = defaultMaxBucket): DataFrame =
    keptBucketsFromSigs(sigsFrom(shingledDocs(base)), maxBucket)

  /** The bucket-cap aggregation over an already-computed signature table —
    * factored (round 16) so the staged-proxy admission path below feeds it
    * without re-deriving the signatures from text.
    */
  private def keptBucketsFromSigs(
      sigsDf: DataFrame, maxBucket: Int): DataFrame =
    sigsDf
      .select(col("doc_id"), bandsExploded.as(Seq("band", "key")))
      .filter(col("key").isNotNull)
      .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBucket)
      .select("band", "key")

  /** Slim admission proxy (guide §8: decide on lightweight proxies, move
    * heavy rows once): ONE pass over `docs` computes BOTH admission keys —
    * the exact md5 fingerprint and the four MinHash signatures — as
    * hash-sized columns. Expressions are the exact single-source kernels
    * of q20 ([[graft.functions.TextOps.fingerprintMd5]]) and q21
    * ([[sigsFrom]]/[[shingledDocs]]), staged in one projection chain, so
    * the values are identical by construction.
    */
  private def fpSigsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("__toks"))
      .select(col("doc_id"), col("fp"),
        TextOps.wordShinglesFromTokens(col("__toks"), 3).as("__sh"))
      .select(col("doc_id"), col("fp"),
        transform(col("__sh"), s => md5(s)).as("__hs"))
      .select(Seq(col("doc_id"), col("fp")) ++ sigCols(col("__hs")): _*)

  /** Slice → (doc_id, band, key) admission-key stream in ONE text pass:
    * band −1 carries the exact md5 fingerprint, bands 0/1 the two LSH
    * band keys with exactly [[bandsExploded]]'s numbering and
    * concatenation — the exact and the near admission check ride the SAME
    * two join columns.
    */
  private def admissionKeysOf(docs: DataFrame): DataFrame =
    fpSigsOf(docs)
      .select(col("doc_id"), explode(array(
        struct(lit(-1).as("band"), col("fp").as("key")),
        struct(lit(0).as("band"),
          concat(col("sig0"), col("sig1")).as("key")),
        struct(lit(1).as("band"),
          concat(col("sig2"), col("sig3")).as("key")))).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.key").as("key"))
      .filter(col("key").isNotNull)

  private[graft] def incrementalDedup(
      base: DataFrame, batch: DataFrame,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    // Round 16 (guide §1.2/§2.4): the r15 shape scanned each slice TWICE
    // (fingerprint pass + signature pass — 4 corpus text passes per
    // ingest) and ran two admission joins. Both admission keys now ride
    // ONE key stream per slice — one text pass each — and ONE aggregate +
    // ONE join decide admission. The fp stream (band −1) bypasses the
    // hot-bucket cap: the cap is an LSH-boilerplate bound, exact
    // duplicates must always refuse, and the old fp side had no cap.
    // Null keys are filtered where the old shape dropped them via
    // join-on-null-never-matches / the explicit isNotNull. Same kernels,
    // same cap, same join keys ⇒ identical admitted set (oracle
    // re-proven at sf0.001/sf0.01).
    batch.join(admissionHits(base, batch, maxBucket),
      Seq("doc_id"), "left_anti")
  }

  /** The refused-batch-doc_id set of [[incrementalDedup]], factored so
    * the registry can anti-join it against a pre-projected output frame
    * (§2.3 — the anti-join then never carries text).
    */
  private[graft] def admissionHits(
      base: DataFrame, batch: DataFrame,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    val keptKeys = admissionKeysOf(base)
      .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      .filter(col("band") === -1 || col("sz") <= maxBucket)
      .select("band", "key")
    admissionKeysOf(batch)
      .join(keptKeys, Seq("band", "key"))
      .select("doc_id").distinct()
  }

  // ---- q81 unigram LM-proxy score ---------------------------------------

  /** q81 rare-token cutoff: a token is "rare" when its corpus-wide
    * frequency is at most this. Shared with the oracle.
    */
  private[graft] val rareFreqMax = 2L

  /** q81: unigram-LM quality proxy — the shape of the CCNet/RedPajama
    * perplexity filter with the float-fragile log-probabilities replaced
    * by exact integer statistics. Per doc: token count, summed corpus
    * frequency of its tokens, rare-token count (corpus freq ≤
    * [[rareFreqMax]]), and the two derived ratios (each a single division
    * of exact integers → bit-replayable). Low avg_freq / high rare_ratio
    * flags the same gibberish-and-boilerplate tail a unigram LM does.
    *
    * Scale shape: one corpus pass explodes tokens; the frequency table is
    * a groupBy on token (partial aggregation — the shuffle carries the
    * per-partition combined counts, not the token stream); the join back
    * is left UNHINTED so AQE broadcasts the frequency table when it is
    * small (a pruned LM vocab) and falls back to a shuffle join when it
    * is not — exactly the decision a 100 TB run needs made at runtime.
    * The per-doc aggregation map-side-combines on doc_id.
    */
  private[graft] def unigramScoreOf(docs: DataFrame): DataFrame = {
    // Round 15 (guide §2.3 shuffle fewer bytes): aggregate to per-doc term
    // counts BEFORE anything shuffles by term. tf is distinct (doc, term)
    // pairs with counts — the freq table is sum(cnt) per term over it, and
    // every per-doc aggregate linearizes over cnt:
    //   n_tokens = Σ cnt,  sum_freq = Σ freq·cnt,  n_rare = Σ cnt·[freq≤max]
    // — all integer arithmetic, so the values are exactly the round-14
    // form's (oracle hash re-proven this round). The term-keyed shuffle now
    // carries |distinct (doc,term)| rows instead of |tokens|. tf is NOT
    // materialized: the corpus-scale tf table is the wrong thing to pin
    // (guide §8 stages small proxies, not payloads), and the A/B showed
    // the checkpoint's job latency costing more at bench scale than the
    // second tokenize pass it saves — the fan-out already parallelizes
    // that pass.
    val tf = docs
      .select(col("doc_id"),
        explode(TextOps.tokens(TextOps.normalized(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val freqs = tf.groupBy("term").agg(sum(col("cnt")).as("freq"))
    tf.join(freqs, "term")
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(col("freq") * col("cnt")).as("sum_freq"),
        sum(when(col("freq") <= rareFreqMax, col("cnt")).otherwise(0L))
          .as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("sum_freq"), col("n_rare"),
        (col("sum_freq").cast("double") / col("n_tokens").cast("double"))
          .as("avg_freq"),
        (col("n_rare").cast("double") / col("n_tokens").cast("double"))
          .as("rare_ratio"))
  }

  // ---- q79 PII scrub ----------------------------------------------------

  /** PII patterns (q79), deliberately restricted to the syntax subset where
    * Java regex (Spark) and RE2 (DuckDB) agree exactly: character classes,
    * bounded counts, ASCII `\b`/`\d` — no lookaround, no backrefs. The
    * C4/FineWeb pipelines scrub exactly these three shapes (emails, IP
    * addresses, phone-format numbers) before training.
    */
  private[graft] val piiEmailRe = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
  private[graft] val piiIpv4Re  = raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
  private[graft] val piiPhoneRe = raw"\b\d{3}[- .]\d{3}[- .]\d{4}\b"

  /** q79: per-document PII detection + redaction. Redaction is SEQUENTIAL
    * (emails → IPv4 → phone-format) and each count is taken on the text as
    * it stands at that stage — so a dotted quad inside an email address
    * counts once as the email that swallowed it, never double. The order is
    * part of the contract (the oracle replays the same three-stage chain).
    * Pure narrow projection: three codegen'd regex passes, no shuffle, no
    * state — scales as a map-only stage whatever the corpus size. Staged as
    * real selects so each intermediate redaction is computed once
    * (projection-level CSE), not once per consumer.
    */
  private[graft] def piiScrubOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        regexp_count(col("text"), lit(piiEmailRe)).cast("long").as("n_emails"),
        regexp_replace(col("text"), piiEmailRe, "<EMAIL>").as("__r1"))
      .select(col("doc_id"), col("n_emails"),
        regexp_count(col("__r1"), lit(piiIpv4Re)).cast("long").as("n_ipv4"),
        regexp_replace(col("__r1"), piiIpv4Re, "<IP>").as("__r2"))
      .select(col("doc_id"), col("n_emails"), col("n_ipv4"),
        regexp_count(col("__r2"), lit(piiPhoneRe)).cast("long").as("n_phones"),
        regexp_replace(col("__r2"), piiPhoneRe, "<PHONE>").as("text_redacted"))

  /** In-place redaction form of q79 for pipeline composition: same
    * three-stage replace chain, `text` overwritten, every other column kept
    * — so downstream scoring/dedup/decontamination run on the scrubbed
    * text, which is the standard order (scrub before anything that
    * tokenizes or fingerprints).
    */
  private[graft] def piiRedactText(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        piiEmailRe, "<EMAIL>"), piiIpv4Re, "<IP>"), piiPhoneRe, "<PHONE>"))

  // ---- q80 leakage-safe split assignment --------------------------------

  /** q80 split fractions — shared by the registry query and its oracle so
    * the CASE thresholds are generated from one source of truth.
    */
  private[graft] val splitTrainFrac = 0.90
  private[graft] val splitValFrac   = 0.05

  /** q80: deterministic train/val/test assignment that can never leak a
    * near-duplicate across splits. The split key is hashed from the
    * document's near-dup CLUSTER id (the q43 connected components; docs in
    * no cluster use their own doc_id), so every member of a dup cluster
    * lands in the same split by construction — hashing doc_id instead
    * would put a train document's near-copy in the eval split, the classic
    * contamination bug deduplication exists to prevent. Thresholding is
    * the q73 fixed-width-hex trick on an independent ':split' stream.
    * Scale shape: cluster labels come from the pair-derived CC state
    * (small), joined back equi on doc_id; assignment itself is narrow.
    */
  private[graft] def splitAssignOf(
      docs: DataFrame,
      trainFrac: Double = splitTrainFrac,
      valFrac: Double = splitValFrac): DataFrame =
    docs.select(col("doc_id"))
      .join(neardupClustersOf(docs), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split_key",
        substring(md5(concat(col("group_id").cast("string"), lit(":split"))), 1, 8))
      .withColumn("split",
        when(col("split_key") < lit(sampleThresholdHex(trainFrac)), "train")
          .when(col("split_key") < lit(sampleThresholdHex(trainFrac + valFrac)), "val")
          .otherwise("test"))
      .select(col("doc_id"), col("group_id"), col("split_key"), col("split"))

  /** The q70 Gopher repetition signals + verdict (see the registry
    * comment). Factored like its q71/q74 siblings so specs and the
    * combined filter's equality test run planted corpora through the
    * exact registered computation.
    */
  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    val staged = docs
      .select(col("doc_id"), TextOps.normalized(col("text")).as("norm"))
      .select(col("doc_id"), TextOps.tokens(col("norm")).as("toks"))
      // native kernel (one static call per row); the HOF fold twin is
      // TextOps.gramRunStats, equivalence-spec'd in GramRunStatsKernelSpec
      .select(col("doc_id"),
        TextFingerprints.gramRunStats(col("toks"), 2).as("g2"),
        TextFingerprints.gramRunStats(col("toks"), 5).as("g5"))
      .select(col("doc_id"),
        col("g2.top_count").as("top2_count"),
        col("g2.top_gram").as("top2_gram"),
        ((col("g2.top_count") * length(col("g2.top_gram")).cast("long"))
          .cast("double")
          / greatest(col("g2.total_chars"), lit(1L)).cast("double"))
          .as("top2_char_frac"),
        (col("g5.dup_chars").cast("double")
          / greatest(col("g5.total_chars"), lit(1L)).cast("double"))
          .as("dup5_char_frac"))
    staged.select(col("*"),
      (col("top2_char_frac") <= 0.20 && col("dup5_char_frac") <= 0.15)
        .as("passes_repetition"))
  }

  /** One-pass combined Gopher filter: the q70 (repetition), q71 (quality)
    * and q74 (extended repetition) verdicts evaluated in a SINGLE narrow
    * stage, keeping every input column — the apply-form a pipeline
    * actually runs. Composing the three registry queries instead would
    * scan the corpus three times and join, for one boolean per doc.
    * The signal expressions are built from the same TextOps kernels and
    * threshold tables as the registry queries; keep-set equality with
    * q70 ∧ q71 ∧ q74 is spec-asserted (GopherFilterSpec).
    */
  private[graft] def gopherFilterAll(
      docs: DataFrame, minStops: Long = gopherMinStops): DataFrame = {
    val gramNs = Seq(2, 5) ++ gopherTopGramThresholds.map(_._1) ++
      gopherDupGramThresholds.map(_._1)
    val staged = docs
      .withColumn("__toks", TextOps.tokens(TextOps.normalized(col("text"))))
      .withColumn("__ls", TextOps.lines(col("text")))
      .withColumn("__ps", TextOps.paragraphs(col("text")))
    val withStats = gramNs.foldLeft(staged) { (df, n) =>
      df.withColumn(s"__g$n",
        TextFingerprints.gramRunStats(col("__toks"), n))
    }
      .withColumn("__lst", TextOps.unitRunStats(col("__ls")))
      .withColumn("__pst", TextOps.unitRunStats(col("__ps")))
    def topFrac(n: Int) =
      (col(s"__g$n.top_count") * length(col(s"__g$n.top_gram")).cast("long"))
        .cast("double") /
        greatest(col(s"__g$n.total_chars"), lit(1L)).cast("double")
    def dupFrac(n: Int) =
      col(s"__g$n.dup_chars").cast("double") /
        greatest(col(s"__g$n.total_chars"), lit(1L)).cast("double")
    val passQ70 = topFrac(2) <= 0.20 && dupFrac(5) <= 0.15
    val nWords = size(col("__toks")).cast("long")
    val passQ71 =
      nWords >= 50L && nWords <= 100000L &&
        (aggregate(col("__toks"), lit(0.0), (a, t) => a + length(t).cast("double"))
          / size(col("__toks")).cast("double")).between(3.0, 10.0) &&
        (TextOps.symbolCount(col("text")).cast("double")
          / greatest(size(col("__toks")), lit(1)).cast("double")) <= 0.1 &&
        (TextOps.alphaWordCount(col("__toks")).cast("double")
          / size(col("__toks")).cast("double")) >= 0.8 &&
        TextOps.gopherRequiredStopCount(col("__toks")) >= minStops &&
        (TextOps.bulletLineCount(col("__ls")).cast("double")
          / size(col("__ls")).cast("double")) <= 0.9 &&
        (TextOps.ellipsisLineCount(col("__ls")).cast("double")
          / size(col("__ls")).cast("double")) <= 0.3
    val passQ74 =
      (gopherTopGramThresholds.map { case (n, t) => topFrac(n) <= t } ++
        gopherDupGramThresholds.map { case (n, t) => dupFrac(n) <= t } ++
        Seq(
          (col("__lst.dup_occ").cast("double")
            / size(col("__ls")).cast("double")) <= 0.30,
          (col("__lst.dup_chars").cast("double")
            / greatest(col("__lst.total_chars"), lit(1L)).cast("double")) <= 0.20,
          (col("__pst.dup_occ").cast("double")
            / size(col("__ps")).cast("double")) <= 0.30,
          (col("__pst.dup_chars").cast("double")
            / greatest(col("__pst.total_chars"), lit(1L)).cast("double")) <= 0.20))
        .reduce(_ && _)
    // staged: the verdict reads the stats columns, computed once per row
    RelationalOps.stage(withStats)
      .filter(passQ70 && passQ71 && passQ74)
      .drop((Seq("__toks", "__ls", "__ps", "__lst", "__pst") ++
        gramNs.map(n => s"__g$n")): _*)
  }

  /** The q72 duplicated-passage profile (see the registry comment): word
    * [[dupPassageGramN]]-gram positions hashed and posting-list counted;
    * a position is duplicated iff its gram occurs in ≥2 DISTINCT documents
    * (within-doc repetition alone is q70's business, not this one's).
    */
  private[graft] def dupPassagesOf(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.wordGramsWithRepeats(col("toks"), dupPassageGramN))
          .as("gram"))
      .select(col("doc_id"), substring(md5(col("gram")), 1, 16).as("h"))
    // localCheckpoint, same reason as the q23/q65 posting tables: perDoc
    // feeds BOTH the document-frequency aggregate and the join-back, and
    // without materialization Catalyst plans the corpus scan + gram explode
    // + (doc_id, h) shuffle TWICE (column pruning specializes the df-side
    // aggregate, so ReuseExchange can never match the subtrees — verified
    // against the final adaptive plan). One pass over the dominant stage
    // instead of two.
    val perDoc = RelationalOps.materialize(
      occ.groupBy("doc_id", "h").agg(count(lit(1)).as("cnt")))
    // document frequency as a count window over the hash partition: ONE
    // exchange of perDoc by h instead of the aggregate-then-join shape
    // (which exchanged perDoc by h for the df aggregate AND again for the
    // join, then sort-merged the two sides — round 15). Same value: perDoc
    // is one row per (doc, h), so count(*) over the h partition IS the
    // distinct-document count. Partition sizes are posting-list sizes,
    // exactly what the join keyed on — no new skew exposure.
    perDoc
      .withColumn("docs",
        count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"),
        coalesce(sum(when(col("docs") >= 2, col("cnt"))), lit(0L))
          .as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        (col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
      .select(col("*"), (col("dup_frac") < 0.30).as("passes_dup_passages"))
  }

  /** Content-defined chunking of each document (see the q63 registry
    * comment): (doc_id, chunk_start, chunk_len, chunk_fp) with cuts where
    * the gram hash's last nibble is zero. Exposed for CdcChunksSpec's
    * edit-stability property.
    */
  private[graft] def cdcChunksOf(docs: DataFrame, keep: Seq[String] = Nil,
      withText: Boolean = false): DataFrame = {
    val k = 8
    val kc = keep.map(col)
    docs
      .select(Seq(col("doc_id"), TextOps.normalized(col("text")).as("norm")) ++ kc: _*)
      // native kernel, codegen'd: the equivalent HOF form
      // (filter(sequence(2, m), i => md5(norm.substr(i, k))...)) evaluates
      // its lambda interpreted, one digest + UTF8String allocation per
      // character — 1165 s vs 0.6 s at sf0.1 (measured round 6)
      .withColumn("cuts", TextFingerprints.cdcCuts(col("norm"), k))
      .withColumn("starts", concat(array(lit(1)), col("cuts")))
      .withColumn("chunks",
        transform(
          sequence(lit(1), size(col("starts"))),
          j => struct(
            element_at(col("starts"), j).as("chunk_start"),
            (coalesce(try_element_at(col("starts"), j + 1),
              length(col("norm")) + 1)
              - element_at(col("starts"), j)).as("chunk_len"))))
      // explode_OUTER on purpose: plain explode triggers
      // InferFiltersFromGenerate, which pushes `size(chunks) > 0 AND
      // isnotnull(chunks)` below the projections with the whole cuts
      // expression INLINED ~10× per row into a non-codegen Filter (19 s vs
      // 2 s at sf0.1). Outer explode infers nothing; the chunk_len > 0
      // filter below drops the NULL rows it would add, so the output is
      // identical (every non-NULL doc has ≥1 chunk — starts begins at 1).
      .select(Seq(col("doc_id"), col("norm"),
        explode_outer(col("chunks")).as("c")) ++ kc: _*)
      .select(Seq(col("doc_id"),
        col("c.chunk_start").cast("long").as("chunk_start"),
        col("c.chunk_len").cast("long").as("chunk_len"),
        md5(col("norm").substr(col("c.chunk_start"), col("c.chunk_len")))
          .as("chunk_fp")) ++
        // withText: the chunk's own substring rides along (q77's dedup
        // apply reassembles survivors from it instead of joining back to
        // the normalized corpus — round 16). Same substr args as the
        // fingerprint's, so txt is exactly the fingerprinted span.
        (if (withText)
          Seq(col("norm").substr(col("c.chunk_start"), col("c.chunk_len"))
            .as("chunk_txt")) else Nil) ++ kc: _*)
      .filter(col("chunk_len") > 0)
  }

  /** The q77 sub-document exact-substring dedup apply (Lee et al. 2021:
    * remove every duplicated span, keep ONE occurrence corpus-wide):
    * CDC chunks (q63 — edit-stable boundaries, so a shared passage chunks
    * identically in every document containing it) are posting-list
    * grouped by fingerprint; the canonical occurrence of each chunk is
    * its (doc_id, chunk_start) argmin, every other occurrence is dropped,
    * and each document's surviving chunks are reassembled in offset
    * order. A document made entirely of seen content collapses to ''.
    * Scale shape: chunk table localCheckpoint'd (three consumers —
    * election, join-back, per-doc totals — would otherwise re-run the
    * corpus chunking per consumer); election is one grouped min(struct);
    * reassembly is a per-doc collect bounded by document length (the q54
    * ids_csv discipline), never corpus-wide.
    */
  private[graft] def chunkDedupApplyOf(docs: DataFrame): DataFrame = {
    // chunk table carries its own spans (withText — round 16): reassembly
    // reads the elected chunk's text straight out of the aggregate instead
    // of joining back to a second normalized-corpus scan (the round-15
    // shape re-scanned the corpus for `norm`, shuffled it by doc_id, and
    // sort-merge-joined — one exchange and one corpus pass more). All
    // occurrences of a fingerprint carry the identical span, and the
    // (doc_id, chunk_start) prefix is unique per row, so the min(struct)
    // election picks the same row and the same text as the join-back did.
    val chunks = RelationalOps.materialize(cdcChunksOf(docs, withText = true))
    val kept = chunks.groupBy("chunk_fp")
      .agg(min(struct(col("doc_id"), col("chunk_start"), col("chunk_txt")))
        .as("__c"))
      .select(col("__c.doc_id").as("doc_id"),
        col("__c.chunk_start").as("chunk_start"),
        col("__c.chunk_txt").as("txt"))
    val reassembled = kept
      .groupBy("doc_id")
      .agg(
        concat_ws("",
          transform(
            array_sort(collect_list(struct(col("chunk_start"), col("txt")))),
            x => x.getField("txt"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_chunks"))
  }

  /** Per-document scoring projection (doc_id, n_tokens, quality,
    * lang_pred) — THE definition shared by q62, the q61 export (via
    * [[graft.pipeline.TrainingPipeline.export]]), and the streaming export
    * twin. Narrow; tokens staged once.
    */
  private[graft] def scoreDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.langIdFromTokens(col("toks"), col("text")).as("lang_pred"))

  /** MinHash signature: lexicographic min over the shingle set of one
    * quarter of each shingle's md5 hex (the 128 md5 bits are uniform —
    * each 8-hex-char quarter is an independent MinHash family member, so
    * one md5 yields 4 signatures). Built from codegen'd higher-order
    * functions — no explode, no shuffle; one narrow pass whatever the
    * corpus size.
    *
    * Word 3-grams (not char shingles): on natural text char-8 background
    * Jaccard between unrelated docs runs ~0.05-0.1, which floods r=1 LSH
    * banding with false candidates (measured 14% of ALL pairs on the test
    * corpus); word 3-grams sit at ≤0.03 and the r=2 bands below square it.
    */
  private def minhashSig(hashes: Column, quarter: Int): Column =
    array_min(transform(hashes, h => substring(h, quarter * 8 + 1, 8)))

  /** doc_id → distinct word-3-gram shingles, staged as real projections
    * (tokens, then shingles) so the tokenizing split runs once per row —
    * not once per lambda element (HOF lambdas are outside CSE).
    */
  private[graft] def shingledDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .select(col("doc_id"),
        TextOps.wordShinglesFromTokens(col("toks"), 3).as("sh"))

  private def shingled(s: SparkSession, d: String): DataFrame =
    shingledDocs(docsWide(s, d))

  /** The four signature projections over a staged shingle-hash column —
    * THE definition of the signature family, shared by the batch
    * (`sigsFrom`) and column-preserving (`withSignatures`) pipelines.
    */
  private def sigCols(hs: Column): Seq[Column] =
    (0 to 3).map(q => minhashSig(hs, q).as(s"sig$q"))

  /** The banding generator (b=2 bands × r=2 sig concatenation) — THE
    * definition of the band layout, shared by the batch pair expansion,
    * the bucket-stats view, and the streaming candidate generator
    * ([[graft.streaming.StreamingOps.neardupCandidates]]); alias with
    * `.as(Seq("band", "key"))`.
    */
  private[graft] def bandsExploded: Column =
    posexplode(array(
      concat(col("sig0"), col("sig1")),
      concat(col("sig2"), col("sig3"))))

  private[graft] def sigsFrom(shingledDf: DataFrame): DataFrame =
    shingledDf
      .select(col("doc_id"), transform(col("sh"), s => md5(s)).as("hs"))
      .select(col("doc_id") +: sigCols(col("hs")): _*)

  private def sigs(s: SparkSession, d: String): DataFrame =
    sigsFrom(shingled(s, d))

  /** Column-preserving variant of the signature pipeline: adds sig0–sig3
    * next to the input's own columns (the batch path uses staged SELECTs;
    * streaming consumers need the event-time column to ride along for
    * watermarking — see [[graft.streaming.StreamingOps.neardupCandidates]]).
    * Same staging discipline: tokens → shingles → hashes as real
    * projections, one evaluation per row.
    */
  def withSignatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("__toks", TextOps.tokens(TextOps.normalized(col("text"))))
      .withColumn("__sh", TextOps.wordShinglesFromTokens(col("__toks"), 3))
      .withColumn("__hs", transform(col("__sh"), s => md5(s)))
      .select(col("*") +: sigCols(col("__hs")): _*) // same family as sigsFrom
      .drop("__toks", "__sh", "__hs")

  /** LSH banding, b=2 bands × r=2 rows: a candidate pair must agree on BOTH
    * sigs of some band — collision probability j² per band (vs j for r=1),
    * which keeps the candidate set near-linear on corpora with nonzero
    * background similarity.
    *
    * Bucket-expansion form, not a self-join: group doc_ids per (band, key)
    * and emit in-bucket pairs with a nested HOF. ONE signature computation
    * and ONE shuffle — a self-join would compute the signature pipeline per
    * side and (at real scale, where broadcast is impossible) shuffle it
    * twice more for a sort-merge join.
    */
  /** Hot-bucket guard: in-bucket pair emit is O(bucket²), so one
    * adversarial bucket (a boilerplate shingle shared by millions of docs)
    * would emit ~bucket²/2 pairs and stall the stage. Buckets larger than
    * `maxBucket` are SKIPPED — the standard stop-bucket treatment: a
    * near-dup bucket that large is boilerplate, not duplication, and its
    * pairs are noise. Default is far above anything a real signature
    * produces (the corpus max here is 2); [[lshBucketStats]] is the
    * monitoring view that tells an operator the cap is in play.
    */
  private[queries] val defaultMaxBucket = 1000

  private[graft] def candidatePairsFrom(
      sigsDf: DataFrame, maxBucket: Int = defaultMaxBucket): DataFrame = {
    val bands = sigsDf.select(
      col("doc_id"), bandsExploded.as(Seq("band", "key")))
    RelationalOps.inBucketPairs(
      bands.filter(col("key").isNotNull), // NULL-text docs: groupBy would
        // treat NULL keys as equal and emit spurious pairs (`=` never does)
      Seq("band", "key"), "doc_id", "doc_a", "doc_b", maxBucket)
  }

  /** LSH bucket-size distribution — the operator's monitoring view for the
    * hot-bucket cap: per band, the largest bucket, the candidate-pair cost
    * (Σ size·(size−1)/2) and how many buckets the default cap would skip.
    */
  def lshBucketStats(s: SparkSession, d: String): DataFrame =
    sigs(s, d)
      .select(col("doc_id"), bandsExploded.as(Seq("band", "key")))
      .filter(col("key").isNotNull)
      .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      .groupBy("band").agg(
        max(col("sz")).as("max_bucket"),
        sum(col("sz") * (col("sz") - 1) / 2).cast("long").as("pair_cost"),
        count(when(col("sz") > defaultMaxBucket, 1)).as("buckets_over_cap"))

  /** SimHash near-dup pairs via 16-bit banding over the 64-bit fingerprint.
    * Pigeonhole guarantee: a pair within Hamming distance `maxHamming` ≤ 3
    * differs in at most 3 of the 4 bands, so at least one band matches
    * exactly and the pair IS generated — banding is candidate-complete, not
    * approximate (asserted against brute force in NearDupPairsSpec).
    *
    * Same bucket-expansion discipline as the MinHash path (q22): ONE
    * shuffle on (band, key), never a self-join, hot-bucket cap (a
    * degenerate fingerprint shared by millions of short docs would emit
    * O(bucket²) pairs). The fingerprint rides along in the bucket struct,
    * so the Hamming verify is a per-pair `bit_count(xor)` with NO join
    * back to the corpus — at 100 TB that join-back would re-shuffle the
    * whole fingerprint table twice.
    */
  private[graft] def simhashPairsFrom(
      sh: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    val banded = sh
      .filter(col("simhash").isNotNull)
      .select(
        posexplode(array((0 to 3).map(j =>
          shiftright(col("simhash"), 16 * j).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "key")),
        struct(col("doc_id"), col("simhash")).as("ds"))
    RelationalOps
      .inBucketPairs(banded, Seq("band", "key"), "ds", "a", "b", maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** MOSS-style winnowing-fingerprint overlap (Schleimer et al. §5, "local
    * fingerprinting in practice"): inverted index over each document's
    * winnow fingerprints, restricted to DISCRIMINATIVE fingerprints
    * (document frequency ≤ `maxDf` — the standard stop-list treatment: a
    * fingerprint shared by many documents is boilerplate, and its posting
    * list would emit O(df²) pairs of noise). Pairs sharing fingerprints
    * are scored `overlap = n_shared / min(|rare_a|, |rare_b|)` and kept at
    * `overlap ≥ minOverlap`.
    *
    * Scale shape: ONE corpus shuffle on the fingerprint key builds capped
    * posting lists that feed BOTH the per-doc denominator counts and the
    * pair expansion (localCheckpoint materializes the winnow computation
    * once); pair-generation cost is bounded by maxDf × |postings| — linear
    * in the corpus whatever the duplication structure. The integer-count /
    * single-division arithmetic is what lets DuckDB replay it bit-for-bit.
    */
  private[graft] def winnowOverlapFrom(
      fps: DataFrame, maxDf: Int = 16, minOverlap: Double = 0.5): DataFrame = {
    // staged: the size probe and explode guard read fps, computed once
    val buckets = RelationalOps.materialize(RelationalOps.stage(fps)
      .filter(size(col("fps")) > 0)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxDf))
    val nRare = buckets
      .select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    val ids = col("ids")
    val shared = buckets
      .filter(size(ids) > 1)
      .select(explode(
        flatten(transform(sequence(lit(1), size(ids) - 1), i =>
          transform(slice(ids, i + 1, size(ids)), b =>
            struct(element_at(ids, i).as("doc_a"), b.as("doc_b"))))))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(nRare.select(col("doc_id").as("doc_a"), col("n_rare").as("na")), "doc_a")
      .join(nRare.select(col("doc_id").as("doc_b"), col("n_rare").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("na"), col("nb")))
          .as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Fixed-size term vocabulary with dense ids — the vocab-building step of
    * a tokenization pipeline. Frequency counting is the only corpus-scale
    * shuffle; the top-`vocabSize` cut is a TakeOrderedAndProject over the
    * AGGREGATED counts (map-side top-k, no global sort), and the dense-id
    * window runs over ≤`vocabSize` rows — a vocabulary is bounded by
    * construction, so the single-partition window never sees corpus-sized
    * input. Ids are deterministic: (count desc, term asc).
    */
  private[graft] val vocabSize = 16 // the corpus lexicon is 31 words — a
  // 16-term vocab makes the OOV path in q54 real, like a real vocab cutoff

  /** Corpus-wide term counts — THE counting stage, shared by the batch
    * vocab cut below and the streaming twin
    * ([[graft.streaming.StreamingOps.termCounts]]) so the tokenizer can
    * never silently diverge between them.
    */
  private[graft] def termCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextOps.tokens(TextOps.normalized(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** Heavy-hitter threshold denominator for q88: report terms whose count
    * exceeds 1/32 of all tokens (the corpus' top terms sit at ~1/28, so
    * the set is small and non-empty at every SF).
    */
  private[graft] val heavyHittersK = 32

  /** EXACT corpus heavy hitters (terms with cnt·k > total tokens) via the
    * two-phase sketch-candidates + exact-recount pattern — the shape that
    * survives 100 TB, where a full `groupBy(term)` shuffles the entire
    * token stream (q52's counting stage) just to discard all but a handful
    * of rows:
    *
    *  1. Candidate generation: one NARROW pass running a Misra–Gries
    *     summary of `k` counters per partition (bounded memory, no
    *     shuffle). Mergeability (Agarwal et al., PODS'12) gives the
    *     union-superset guarantee: any term with global count f > N/k has
    *     Σ_p max(f_p − N_p/k, 0) ≥ f − N/k > 0, so it survives in at least
    *     one partition's summary — the union of per-partition summaries
    *     (≤ k·P tiny rows) contains every true heavy hitter.
    *  2. Exact verify: broadcast-semi-join the token stream down to
    *     candidate terms only, then count exactly and keep cnt·k > N. Only
    *     candidate occurrences ever shuffle.
    *
    * The output is therefore EXACT and deterministic — sketch internals
    * (partition order, eviction order) can change which extra candidates
    * are checked, never the result — so the query is DuckDB-oracled
    * against a plain count + HAVING replay.
    */
  private[graft] def heavyHitters(
      docs: DataFrame, k: Int = heavyHittersK): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(
      explode(TextOps.tokens(TextOps.normalized(col("text")))).as("term"))
    val cands = toks.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (m.contains(t)) m.update(t, m(t) + 1L)
        else if (m.size < k) m.update(t, 1L)
        else {
          // the MG step: decrement all k counters (and the arrival),
          // evicting those that reach zero
          val dead = m.iterator.filter(_._2 == 1L).map(_._1).toArray
          m.mapValuesInPlace((_, v) => v - 1L)
          dead.foreach(m.remove)
        }
      }
      m.keysIterator
    }.toDF("term").distinct()
    // Round 15 (guide §1.2): ONE exact-recount pass instead of two — the
    // old shape tokenized the corpus a 2nd time for `n_total` and a 3rd
    // for the candidate recount. Non-candidate tokens fold into a single
    // NULL bucket, so one aggregation yields both the per-candidate counts
    // (cterm != null rows) and, summed over ALL buckets, the exact total —
    // integer counts, value-identical to the two-pass form (oracle hash
    // re-proven this round). Partial aggregation reduces each task to
    // ≤ k+1 rows before the exchange, and the total is an unpartitioned
    // window SUM over that ≤ k+1-row aggregate (bounded by construction,
    // like the T2 rank window) — one linear plan, no second consumption,
    // no materialization point.
    val counts = toks
      .join(broadcast(cands.withColumn("__cand", lit(true))),
        Seq("term"), "left")
      .groupBy(when(col("__cand"), col("term")).as("cterm"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("n_total",
        sum("cnt").over(Window.partitionBy()))
      .filter(col("cterm").isNotNull &&
        col("cnt") * lit(k.toLong) > col("n_total"))
      .select(col("cterm").as("term"), col("cnt"), col("n_total"))
  }

  /** Hash buckets for the q89 importance features: the first two hex chars
    * of md5(term) — 256 buckets, replayable digit-by-digit in DuckDB (the
    * established md5 hash-family trick).
    */
  private def termBucketCol(term: Column): Column =
    conv(substring(md5(term), 1, 2), 16, 10).cast("long")

  /** DSIR-style importance scores (Xie et al. 2023: rank raw documents by
    * how target-like their hashed n-gram distribution is), linearized to
    * INTEGER arithmetic so the whole query is bit-oracled: per hashed
    * unigram bucket b, the weight is the cross-multiplied numerator
    *
    *   w(b) = c_T(b)·R − c_R(b)·T      (T, R = total target/raw tokens)
    *
    * — positive exactly when the bucket is over-represented in the target
    * distribution (same sign as DSIR's log p_T(b)/p_R(b)), and a doc's
    * score is Σ w(bucket(token)) over its tokens. The float form's
    * per-bucket log-ratio is not replayable across engines (libm log, the
    * q42 lesson); the cross-multiplied form trades the log's diminishing
    * returns for exact verifiability. At 100-TB scale the weights would
    * overflow int64 — there, divide both totals out (double weights) and
    * keep this integer form as the verification twin.
    *
    * Target set = docs with qualityScore ≥ `minQuality` (the pipeline's
    * own quality gate), so the scorer needs no external target corpus.
    * Plan shape: one narrow tokenize+bucket pass into a 256-row aggregate
    * carrying BOTH distributions (target counts filtered inside the same
    * groupBy — one pass, not two) plus a 1-row totals aggregate — that IS
    * the trained model, so it is collected (≤256 rows, the documented
    * codebook class) and scoring is a second, pure narrow projection per
    * doc ([[importanceScoreCol]]): no explode, no join, no per-doc
    * shuffle. This is also exactly the frozen-weights shape the streaming
    * twin deploys, so batch and stream share one scoring kernel.
    */
  private def tokenBuckets(docs: DataFrame, minQuality: Double): DataFrame =
    docs
      .select(
        col("doc_id"),
        (TextOps.qualityScore(col("text")) >= lit(minQuality)).as("is_target"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .select(col("doc_id"), col("is_target"), explode(col("toks")).as("term"))
      .withColumn("bucket", termBucketCol(col("term")))

  /** The (bucket, w) weight table of [[importanceScoresOf]] — ≤256 rows,
    * exposed so a stream can score against a FROZEN reference snapshot
    * ([[graft.streaming.StreamingOps.importanceScoreStream]]).
    */
  private[graft] def importanceWeightsOf(
      docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val perBucket = tokenBuckets(docs, minQuality).groupBy("bucket").agg(
      count(lit(1)).as("c_raw"),
      count(when(col("is_target"), lit(1))).as("c_tgt"))
    val totals = perBucket.agg(
      sum(col("c_raw")).as("t_raw"), sum(col("c_tgt")).as("t_tgt"))
    perBucket.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (col("c_tgt") * col("t_raw") - col("c_raw") * col("t_tgt")).as("w"))
  }

  private[graft] def importanceScoresOf(
      docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    // The weight table is the whole trained model; its 256-row + 1-row
    // aggregates (an Exchange SinglePartition on ≤256 pre-aggregated rows)
    // run HERE, at construction, not in the returned plan.
    val w = importanceWeightsOf(docs, minQuality)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        importanceScoreCol(col("text"), w).as("score"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
  }

  /** Per-row importance score against a FIXED weight map (bucket → w):
    * bucket each token, index the weight in a dense 256-slot array
    * literal (buckets are two md5 hex digits, so the domain is exactly
    * 0..255 — O(1) per token, vs a map literal's linear key scan), sum
    * left-to-right — a pure narrow projection, so it is streaming-safe
    * and costs zero shuffles. Buckets absent from the map score 0.
    */
  private[graft] def importanceScoreCol(
      text: Column, weights: Map[Long, Long]): Column = {
    require(weights.keys.forall(b => 0L <= b && b < 256L),
      s"importance buckets must be 0..255, got: ${weights.keys.filterNot(b => 0L <= b && b < 256L).take(3)}")
    val table = typedlit((0L until 256L).map(weights.getOrElse(_, 0L)))
    aggregate(
      transform(TextOps.tokens(TextOps.normalized(text)),
        t => element_at(table, (termBucketCol(t) + lit(1L)).cast("int"))),
      lit(0L), (acc, x) => acc + x)
  }

  private[graft] def vocab(docs: DataFrame): DataFrame =
    termCountsOf(docs)
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), col("cnt"),
        (row_number().over(Window.orderBy(col("cnt").desc, col("term").asc)) - 1)
          .cast("long").as("token_id"))

  /** BM25 document scoring (k1=1.2, b=0.75) for a fixed term set. The
    * corpus stats (N, avgdl) ride along as a broadcast 1-row aggregate so
    * the whole thing is ONE lazy plan — no driver-side `count()`/`head`
    * scalar jobs during query construction. Exposed (not inlined in the
    * registry) so Bm25Spec can score a hand-computed fixture.
    */
  /** Per-doc (doc_id, dl, one tf column per query term) in ONE narrow
    * tokenize pass — the shared front end of [[bm25]]/[[bm25Components]]
    * (round 16). Term counts come from codegen'd array built-ins
    * (`size(toks) − size(array_remove(toks, term))` — no lambda, no
    * explode), so the corpus is never exploded to token occurrences and
    * never shuffled: the old shape tokenized the corpus TWICE (stats pass
    * + term pass) and exchanged every matching token occurrence for the
    * (doc, term) count. tf values are identical by construction (exact
    * occurrence counts); NULL text degrades identically (NULL dl, NULL
    * tfs, no melt rows). `dlCast` keeps each twin's dl type ("double" for
    * the float scorer, "long" for the rational twin).
    */
  private def bm25DocProxy(
      docs: DataFrame, qTerms: Seq[String], dlCast: String): DataFrame =
    docs
      .select(col("doc_id"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast(dlCast).as("dl")) ++
        qTerms.zipWithIndex.map { case (t, i) =>
          (size(col("toks")) - size(array_remove(col("toks"), lit(t))))
            .cast("long").as(s"__tf$i")
        }: _*)

  /** The proxy melted back to (doc_id, dl, term, tf>0) rows — the same
    * row set the old explode+groupBy produced, from per-row columns.
    */
  private def bm25TfRows(proxy: DataFrame, qTerms: Seq[String]): DataFrame =
    proxy
      .select(col("doc_id"), col("dl"),
        explode(array(qTerms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("term"), col(s"__tf$i").as("tf"))
        }: _*)).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.term").as("term"), col("e.tf").as("tf"))
      .filter(col("tf") > 0L)

  private[graft] def bm25(docs: DataFrame, qTerms: Seq[String]): DataFrame = {
    // the slim proxy feeds the stats aggregate AND the tf rows. Left
    // UNmaterialized by round-16 A/B (0.83 s checkpointed vs 0.69 s
    // planned-twice at sf0.1): the stats branch prunes to tokenize+size
    // only, so the second planning of the proxy costs one cheap tokenize
    // pass — exactly what the old shape paid — while the old shape's real
    // scale cost (Generate over every token occurrence + the occurrence
    // exchange) is gone from BOTH branches. At corpus scale a persisted
    // proxy table would make it one pass (the proxy is factored so that
    // is a one-line change). avgdl over the proxy's dl is bit-equal to
    // the old toks-side avg: dl is an integer-valued double and Average's
    // double accumulation of integers is exact below 2^53 whatever the
    // partition order (Bm25TwinSpec asserts bitwise equality end to end).
    val proxy = bm25DocProxy(docs, qTerms, "double")
    val stats = proxy.agg(
      count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val tf = bm25TfRows(proxy, qTerms)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val k1 = 1.2
    val b  = 0.75
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + col("dl") * lit(b) / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("score").as("bm25"))
  }

  /** Round-15 two-pass form of [[bm25]], kept as the equivalence-spec'd
    * reference twin (Bm25TwinSpec): tokenizes the corpus once for the
    * stats aggregate and again for the exploded term pass, shuffling every
    * matching token occurrence. Values are identical to [[bm25]] — df by
    * count-of-distinct-rows vs countDistinct over one row per (doc,term),
    * avgdl exact either way (integer-valued doubles under 2^53).
    */
  private[graft] def bm25Reference(docs: DataFrame, qTerms: Seq[String]): DataFrame = {
    val toks = docs.select(col("doc_id"),
      TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val terms = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*))
    val tf = terms.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val k1 = 1.2
    val b  = 0.75
    tf.join(df, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + col("dl") * lit(b) / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("score").as("bm25"))
  }

  /** BM25 linearized to INTEGER arithmetic (the q89 cross-multiplication
    * trick) so the scoring is bit-oracled: per (doc, term) emit the exact
    * integer components that determine the BM25 score instead of its libm
    * `log`/division float value. With k1 = 1.2, b = 0.75:
    *
    *   tf-saturation = tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
    *                 = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)   (×10T/10T)
    *   idf argument  = (N − df + ½)/(df + ½) + 1 = 2(N+1) / (2·df + 1)
    *
    * where N = corpus doc count and T = total token count (avgdl = T/N).
    * Both are exact rationals of int64 components; `log` is monotone, so
    * (idf_num, idf_den) is rank-equivalent to the float idf. [[bm25]]
    * remains the float-scoring production variant; this is its
    * verification twin. At 100-TB scale 22·tf·T overflows int64 — there,
    * divide T out (double weights) and keep this integer form for
    * fixed-size verification samples, exactly as documented for q89.
    */
  private[graft] def bm25Components(docs: DataFrame, qTerms: Seq[String]): DataFrame = {
    // same slim proxy as [[bm25]] (round 16), same A/B-backed choice to
    // leave it unmaterialized (0.66 s checkpointed vs 0.59 s at sf0.1);
    // no corpus explode/shuffle in either branch; every component is an
    // exact int64, so the output is hash-identical to the two-pass form
    // (oracle re-proven)
    val proxy = bm25DocProxy(docs, qTerms, "long")
    val stats = proxy.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = bm25TfRows(proxy, qTerms)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
        col("n_docs"), col("total_dl"),
        (lit(22L) * col("tf") * col("total_dl")).as("sat_num"),
        (lit(10L) * col("tf") * col("total_dl") + lit(3L) * col("total_dl")
          + lit(9L) * col("dl") * col("n_docs")).as("sat_den"),
        (lit(2L) * (col("n_docs") + lit(1L))).as("idf_num"),
        (lit(2L) * col("df") + lit(1L)).as("idf_den"))
  }

  val queries: Map[String, Q] = Map(
    // Token counting + punctuation + stopword ratio (single divisions only).
    "q17_text_stats" -> ((s, d) => {
      docsWide(s, d).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        TextOps.punctCount(col("text")).cast("long").as("n_punct"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
        TextOps.avgWordLen(col("text")).as("avg_word_len"))
    }),

    // Stopword-vote language ID (deterministic tie order en>de>es>fr).
    // Tokens staged once; the four stopword probes scan the column.
    "q18_lang_id" -> ((s, d) => {
      docsWide(s, d)
        .select(col("doc_id"), col("text"),
          TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
        .select(col("doc_id"),
          TextOps.langIdFromTokens(col("toks"), col("text")).as("lang_pred"))
    }),

    // Heuristic quality score — arithmetic order mirrored in the oracle.
    "q19_quality" -> ((s, d) => {
      docsWide(s, d).select(
        col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    }),

    // Exact dedup: md5 fingerprint of normalized text → canonical doc + count.
    // Raw scan, no fan-out: one md5 per row is cheap enough that the extra
    // exchange + 32-task stages cost more than the kernel (A/B: 0.30 s raw
    // vs 0.49 s fanned at sf0.1).
    "q20_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(TextOps.fingerprintMd5(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("cnt"))
    }),

    // MinHash signatures (4 hashes over word 3-gram shingles).
    "q21_minhash_sig" -> ((s, d) => sigs(s, d)),

    // LSH candidate near-dup pairs.
    "q22_neardup_pairs" -> ((s, d) => neardupPairsOf(docsWide(s, d))),

    // Exact word-3-gram Jaccard over the LSH candidates (verification step).
    // array_intersect is hash-based (O(|a|+|b|) per pair, not O(|a|·|b|)).
    // The shingle table feeds three consumers (sigs→pairs, sh_a, sh_b) —
    // localCheckpoint materializes it once instead of three scan subtrees.
    "q23_jaccard" -> ((s, d) => {
      val sh = RelationalOps.materialize(shingled(s, d))
      candidatePairsFrom(sigsFrom(sh))
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .select(
          col("doc_a"), col("doc_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
          size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"))
        .select("doc_a", "doc_b", "jaccard")
    }),

    // SimHash64 via custom codegen'd Catalyst expression. The md5 hash
    // family makes this bit-replayable by the DuckDB oracle (per-token
    // hex-digit bit votes — see oracleSql below).
    "q24_simhash" -> ((s, d) => {
      docsWide(s, d).select(
        col("doc_id"), simhashCol.as("simhash"))
    }),

    // Winnowing fingerprint (SIGMOD'03) via custom expression, oracle-
    // replayed in DuckDB (char-based k-gram substr + md5 + window-min; the
    // hex strings make lexicographic min = unsigned numeric min). Emitted
    // as a comma-joined string, not a raw array: the driver's compare
    // hashes scalar cells, not array cells (round-1 q25 errored on that).
    "q25_winnow" -> ((s, d) => {
      docsWide(s, d).select(
        col("doc_id"),
        concat_ws(",",
          TextFingerprints.winnowFingerprint(TextOps.normalized(col("text")), 8, 16))
          .as("fingerprint"))
    }),

    // SimHash as an actual DEDUP METHOD, not just a fingerprint: banded
    // near-dup join at Hamming ≤ 3 (candidate-complete by pigeonhole over
    // 4×16-bit bands — see simhashPairsFrom). Completes the dedup family:
    // exact (q20), MinHash+LSH (q22), SimHash (here), winnow overlap
    // (q65), embedding-cosine (q35). Oracle replays bands, xor and
    // bit_count on the signed 64-bit fingerprint exactly.
    "q64_simhash_pairs" -> ((s, d) => {
      // raw scan — round-15 BenchOne A/B: the one-pass simhash kernel does
      // not amortize a full-text fan-out exchange (0.93 s raw vs 1.36 s
      // fanned), unlike the shingle+minhash family; the band self-join
      // exchanges by (band, key) either way
      simhashPairsFrom(Tables.documents(s, d).select(
        col("doc_id"), simhashCol.as("simhash")))
    }),

    // Winnowing fingerprints as a dedup method: MOSS-style shared-
    // fingerprint overlap over discriminative (df ≤ 16) fingerprints,
    // pairs kept at overlap ≥ 0.5 (thresholds probed on this corpus: all
    // 12 planted near-dup pairs kept at overlap 1.0; posting lists capped
    // so pair generation stays linear). Integer counts + one division —
    // bit-replayed by the oracle.
    "q65_winnow_overlap" -> ((s, d) => {
      winnowOverlapFrom(docsWide(s, d).select(col("doc_id"), winnowFps))
    }),

    // TF-IDF-style term scoring with a rational idf (tf · N / df — log-free
    // so every value is one integer product and one division, which DuckDB
    // reproduces bit-for-bit; libm log is not correctly-rounded across
    // engines). Top-3 terms per doc. Two shuffles: doc-term counts, df.
    // The corpus size N rides along as a broadcast 1-row frame — the whole
    // query stays ONE lazy plan / one job (a driver-side `docs.count()`
    // would cost an extra eager job per construction).
    "q40_tfidf" -> ((s, d) => {
      val docs = docsWide(s, d)
      // count over the RAW scan: the count is partitioning-independent and
      // a fan-out exchange under it is pure overhead (round 15)
      val n = Tables.documents(s, d)
        .agg(count(lit(1)).cast("double").as("n_docs"))
      val terms = docs
        .select(col("doc_id"),
          explode(TextOps.tokens(TextOps.normalized(col("text")))).as("term"))
      // materialize tf: it feeds BOTH the df aggregate and the score join —
      // unmaterialized, Catalyst plans the corpus scan + tokenize + explode
      // + agg TWICE (the q72 posting-table lesson, same shape; guide §1.2
      // "don't compute things twice"). tf is distinct (doc, term) pairs —
      // tiny next to the tokenize pass it saves. Integer counts: the
      // checkpoint is value-exact.
      val tf = RelationalOps.materialize(
        terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf") * col("n_docs") / col("df")).as("score"))
      RelationalOps.topKPerGroup(
          scored, Seq("doc_id"),
          Seq(col("score").desc, col("term").asc), 3, rankCol = "rnk")
    }),

    // Duplicate clusters: connected components over the LSH candidate
    // pairs — each near-dup group labeled by its minimum doc_id (the
    // canonical document to keep). Min-label propagation to fixpoint.
    // `spark.graft.checkpoint.dir` (session conf) switches the iteration
    // state from executor-local to reliable checkpointing for cluster runs.
    "q43_dedup_clusters" -> ((s, d) => neardupClustersOf(docsWide(s, d))),

    // MinHash Jaccard ESTIMATE for the candidate pairs: the fraction of
    // agreeing signatures (each an independent min-hash, so agreement
    // probability = true Jaccard). The sketch-side answer the verify stage
    // (q23) refines — at 100 TB the estimate costs a 4-string compare per
    // pair where the exact intersection rereads both shingle sets.
    "q59_minhash_est" -> ((s, d) => {
      // the signature table feeds three consumers (pair generation + both
      // join sides) — localCheckpoint materializes the corpus-scale
      // signature computation once, not three times (the q23 trade)
      val sg = RelationalOps.materialize(sigs(s, d))
      val agree = (a: String) =>
        when(col(s"a_$a") === col(s"b_$a"), 1).otherwise(0)
      candidatePairsFrom(sg)
        .join(sg.select(col("doc_id").as("doc_a"),
          col("sig0").as("a_sig0"), col("sig1").as("a_sig1"),
          col("sig2").as("a_sig2"), col("sig3").as("a_sig3")), "doc_a")
        .join(sg.select(col("doc_id").as("doc_b"),
          col("sig0").as("b_sig0"), col("sig1").as("b_sig1"),
          col("sig2").as("b_sig2"), col("sig3").as("b_sig3")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          ((agree("sig0") + agree("sig1") + agree("sig2") + agree("sig3"))
            .cast("double") / lit(4.0)).as("est_jaccard"))
    }),

    // Apply the dedup: the corpus with every non-canonical near-dup REMOVED
    // (each cluster keeps its minimum doc_id) — the terminal step a
    // training-data pipeline actually ships. Anti-join against the loser
    // set; singletons never appear in clusters, so they pass through free.
    "q58_dedup_apply" -> ((s, d) => {
      // output columns projected BEFORE the anti-join (round 16, §2.3):
      // the join exchange carries (doc_id, n_tokens) instead of full
      // text, and the token kernel runs on the fanned scan partitions
      // rather than the post-join (AQE-coalescible) stage. Projection
      // and the doc_id equi-anti-join commute row for row.
      docsWide(s, d)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(DedupClustering.losers(neardupPairsOf(docsWide(s, d))),
          Seq("doc_id"), "left_anti")
    }),

    // The q58 apply under SOURCE-PRIORITY canonical election: same
    // near-dup clusters, but a cluster mixing provenances keeps its best-
    // priority member (curated beats crawl), not its minimum doc_id — the
    // election rule real mixed-corpus dedup runs. Priorities are
    // `sourcePriorities` (src0–src3 = curated stand-ins).
    "q76_priority_dedup_apply" -> ((s, d) => {
      val docs = docsWide(s, d)
      // same §2.3 project-early as q58 — the anti-join never sees text
      docs
        .select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(priorityLosersOf(docs, sourcePriorities),
          Seq("doc_id"), "left_anti")
    }),

    // The q58 apply under the simhash pair family (q64 → CC → anti-join):
    // SimHash as a complete dedup method, oracled end to end against the
    // recursive-CTE replay of the same pipeline.
    "q66_simhash_dedup_apply" -> ((s, d) => {
      // raw scan — same A/B as q64 (1.00 s raw vs 1.37 s fanned)
      val docs = Tables.documents(s, d)
      // same §2.3 project-early as q58 — the anti-join never sees text
      docs
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(DedupClustering.losers(simhashPairsOf(docs)),
          Seq("doc_id"), "left_anti")
    }),

    // The q58 apply under the winnow-overlap pair family (q65 → CC →
    // anti-join), same end-to-end oracle discipline.
    "q67_winnow_dedup_apply" -> ((s, d) => {
      val docs = docsWide(s, d)
      // same §2.3 project-early as q58 — the anti-join never sees text
      docs
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(DedupClustering.losers(winnowPairsOf(docs)),
          Seq("doc_id"), "left_anti")
    }),

    // Benchmark decontamination, hit report: training docs (doc_id % 25
    // ≠ 0) sharing ≥1 word 13-gram with the eval slice (doc_id % 25 = 0),
    // with the evidence counts. Eval grams broadcast — the corpus side
    // never shuffles for the join. Integer counts → bit-exact oracle.
    "q68_decontam_hits" -> ((s, d) => {
      val docs = docsWide(s, d)
      contaminationHits(trainSlice(docs), evalSlice(docs))
    }),

    // Decontamination apply: the surviving training pool — what a real
    // pipeline ships to tokenization after removing benchmark overlap.
    "q69_decontam_apply" -> ((s, d) => {
      val docs  = docsWide(s, d)
      val train = trainSlice(docs)
      // same §2.3 project-early as q58 — the anti-join never sees text
      train
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(contaminationHits(train, evalSlice(docs)).select("doc_id"),
          Seq("doc_id"), "left_anti")
    }),

    // Gopher/MassiveText repetition filters (Rae et al. 2021, table A1):
    // per-document most-frequent-2-gram character fraction and
    // duplicated-5-gram character fraction, with the table's 0.20 / 0.15
    // pass thresholds. Fractions are over total gram characters
    // (occurrence-weighted), keeping them in [0,1] even for periodic
    // text where overlapping duplicated grams would overcount document
    // chars. Entirely narrow (sorted-runs fold per row — see
    // TextOps.gramRunStats), zero shuffles; integer counts + single
    // divisions → bit-exact oracle.
    "q70_repetition" -> ((s, d) => repetitionOf(docsWide(s, d))),

    // Gopher/MassiveText quality rules (Rae et al. 2021, table A1 — the
    // non-repetition half; q70 carries the repetition half): word-count
    // window [50, 100k], mean word length [3, 10], symbol-to-word ratio
    // ≤0.1 (#/ellipsis), bullet-start ≤90% and ellipsis-end ≤30% of lines,
    // ≥80% alpha-bearing words, and ≥2 of the eight required English words.
    // Entirely narrow (one map stage, zero shuffles); integer counts +
    // single per-row divisions → bit-exact oracle.
    "q71_gopher_quality" -> ((s, d) => gopherQualityOf(docsWide(s, d))),

    // Cross-document duplicated passages — the signal behind exact-substring
    // training-data dedup (Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better"): every word 10-gram position is hashed
    // (md5/16 hex) and posting-list counted; a position is duplicated when
    // its gram occurs in ≥2 distinct documents. Per-doc output: gram
    // positions, duplicated positions, their fraction, <0.30 verdict.
    // Shuffles carry only (hash, doc_id, count) rows — posting-list
    // discipline, never a pairwise expansion.
    "q72_dup_passages" -> ((s, d) => dupPassagesOf(docsWide(s, d))),

    // The rest of the Gopher repetition table (Rae et al. 2021, table A1):
    // top-{3,4}-gram and duplicated-{6..10}-gram char fractions plus the
    // duplicate-line/-paragraph rules — q70 carries the 2-gram/5-gram
    // representatives, so q70 ∧ q71 ∧ q74 is the complete Gopher filter.
    // Seven native gram kernels + two unit folds per row, all narrow,
    // zero shuffles — pure per-row CPU that parallelizes perfectly at
    // corpus scale. The gram statistics run as the codegen'd GramRunStats
    // expression (one static call per row): 4.1 s → 1.3 s at sf0.1 vs the
    // HOF fold whose lambda evaluates interpreted (the fold remains as
    // the equivalence-spec'd reference twin).
    "q74_gopher_repetition_ext" -> ((s, d) =>
      gopherRepetitionExtOf(docsWide(s, d))),

    // Quality-PROPORTIONAL deterministic sampling — the soft filter
    // (FineWeb-Edu / DCLM style): keep each doc with probability equal to
    // its quality score, reproducibly, instead of a hard threshold. Same
    // fixed-width-hex trick as q73 on an independent salted stream
    // (':qs'): keep iff key < floor(quality·2^32) as 8-hex (quality 1.0
    // clamps to ffffffff — a 2^-32 under-keep, documented). quality is
    // the bit-oracled q19 expression and the threshold is one multiply +
    // floor, so the filter replays bit-exactly. Pure narrow predicate.
    "q78_quality_sample" -> ((s, d) =>
      qualitySample(scoreDocs(docsWide(s, d)))
        .select(col("doc_id"), col("quality"), col("sample_key"))),

    // PII detection + redaction (the C4 / FineWeb scrub step): emails,
    // IPv4s, and phone-format numbers counted and replaced with typed
    // placeholders in one sequential three-pass chain (see piiScrubOf for
    // the ordering contract). The corpus itself is PII-free word-soup, so
    // the registry query SEEDS one deterministic item of each kind per doc
    // (digits derived from doc_id) before scrubbing — without that, the
    // oracle would only ever verify the no-op path; with it, DuckDB (RE2)
    // replays the Java-regex match/replace chain on every corpus row.
    // Planted-fixture semantics live in PiiScrubSpec.
    "q79_pii_scrub" -> ((s, d) =>
      piiScrubOf(docsWide(s, d).withColumn("text",
        concat(col("text"),
          lit(" u"), col("doc_id").cast("string"),
          lit("@ex"), (col("doc_id") % 7).cast("string"),
          lit(".com 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" 555-"), (lit(100) + col("doc_id") % 900).cast("string"),
          lit("-"), (lit(1000) + col("doc_id") % 9000).cast("string"))))),

    // Leakage-safe train/val/test split: 90/5/5 deterministic assignment
    // hashed from the near-dup CLUSTER id, so a document and its
    // near-copies always share a split (hashing doc_id would leak dups
    // across the train/eval boundary). Same CC clusters as q43; the oracle
    // replays them with the shared recursive CTE.
    "q80_split_assign" -> ((s, d) => splitAssignOf(docsWide(s, d))),

    // Unigram-LM quality proxy (the CCNet/RedPajama perplexity-filter
    // shape with exact integer statistics): per doc, summed corpus
    // frequency of its tokens, rare-token count, and the derived
    // avg-frequency / rare-ratio signals. See unigramScoreOf for the
    // AQE-decided join strategy at scale.
    "q81_unigram_score" -> ((s, d) =>
      unigramScoreOf(docsWide(s, d))),

    // Deterministic corpus shuffle + shard assignment (see shuffleShardsOf;
    // the ordered physical layout is ShuffledShards.writeShuffled).
    "q86_shuffle_shard" -> ((s, d) =>
      shuffleShardsOf(Tables.documents(s, d))),

    // Token-budget selection: the best ~10k tokens by quality band (see
    // tokenBudgetSelect — band histogram + broadcast cutoff, never a
    // global quality sort).
    "q87_token_budget" -> ((s, d) =>
      tokenBudgetSelect(docsWide(s, d), budgetTokens = 10000L)),

    // Exact heavy hitters via Misra–Gries candidates + exact recount (see
    // heavyHitters — the full-vocab shuffle never happens).
    "q88_heavy_hitters" -> ((s, d) => heavyHitters(docsWide(s, d))),

    // DSIR-style hashed-unigram importance scores, integer-exact
    // linearization (see importanceScoresOf).
    "q89_importance_weight" -> ((s, d) =>
      importanceScoresOf(docsWide(s, d))),

    // Incremental admission dedup: the doc_id % 10 = 0 slice plays the
    // incoming batch, the rest the accumulated corpus; batch docs exactly
    // or nearly duplicating a base doc are refused, novel docs admitted
    // (see incrementalDedup — within-batch duplicates are NOT each
    // other's problem here).
    "q84_incremental_dedup" -> ((s, d) => {
      val docs = docsWide(s, d)
      val base  = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // same §2.3 project-early as q58 — the anti-join never sees text
      batch
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(admissionHits(base, batch), Seq("doc_id"), "left_anti")
    }),

    // Bloom-prefiltered decontamination: q69's exact semantics with the
    // eval gram set compiled into a codegen'd bloom probe inside the
    // corpus scan (see decontaminateBloom for the scale rationale). Output
    // and oracle are identical to q69 — the check IS that the prefilter
    // changed nothing.
    "q83_decontam_bloom" -> ((s, d) => {
      // train side fanned (dense 13-gram explode); EVAL side raw — it is
      // 1/25 of the corpus and consumed through the materialized distinct
      // gram table, so a fan-out exchange under it is pure stage overhead
      // same §2.3 project-early as q58 — the anti-join never sees text
      trainSlice(docsWide(s, d))
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(bloomContaminationHits(trainSlice(docsWide(s, d)),
            evalSlice(Tables.documents(s, d))),
          Seq("doc_id"), "left_anti")
    }),

    // The combined Gopher filter, apply-form: training docs passing ALL of
    // q70 ∧ q71 ∧ q74, evaluated in ONE narrow corpus pass (see
    // gopherFilterAll — composing the registry queries would scan the
    // corpus three times for one boolean). The pre-tokenization quality
    // terminal; also wired into TrainingPipeline as Config.gopherFilter.
    "q75_gopher_apply" -> ((s, d) =>
      gopherFilterAll(docsWide(s, d))
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))),

    // The discriminating twin of q75: identical one-pass q70 ∧ q71 ∧ q74
    // composition with the required-stopword gate relaxed 2 → 1 (see
    // gopherMinStops). q75 keeps ZERO docs on this corpus (no doc carries
    // two required stopwords) so its 0 == 0 oracle match verifies the
    // composition only trivially; this variant keeps a non-trivial proper
    // subset (~40% at sf0.01), so every other gate — word count, word
    // length, symbol/alpha ratios, all nine repetition thresholds, the
    // line/paragraph duplicate rules — is hash-verified end-to-end.
    "q75b_gopher_apply_relaxed" -> ((s, d) =>
      gopherFilterAll(docsWide(s, d), gopherRelaxedMinStops)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))),

    // Deterministic mixture sampling: per-language Bernoulli keep/drop
    // decided by a salted-md5 threshold on the doc id (the salt keeps the
    // sampling stream independent of every other hash family here).
    // Fixed-width lowercase hex compares lexicographically == numerically,
    // so rate r becomes the 8-hex threshold floor(r·2^32) and the whole
    // sampler is one narrow predicate — the reproducible down-sampler for
    // corpus mixture weighting (this corpus' en share is ~2.4× any other
    // language; unknown langs default to keep).
    "q73_mixture_sample" -> ((s, d) =>
      mixtureSample(Tables.documents(s, d), mixtureRates)
        .select(col("doc_id"), col("lang"), col("sample_key"))),

    // BM25 document scoring for a fixed term set (k1=1.2, b=0.75).
    // Uses real log idf → not bit-reproducible across engines' libm
    // (SURVEY float-parity rules) → rows-only check; the rational-idf
    // q40 is the oracle-checked variant of the same shape.
    "q42_bm25" -> ((s, d) => bm25(docsWide(s, d),
      Seq("data", "spark", "query"))),

    // BM25 verification twin: the same scoring, linearized to integer
    // components (exact rational saturation + rank-equivalent idf) so the
    // whole query is hash-oracled — see [[bm25Components]].
    "q42b_bm25_rational" -> ((s, d) => bm25Components(docsWide(s, d),
      Seq("data", "spark", "query"))),

    // Vocabulary building: top-16 terms by frequency with dense token ids.
    // Raw scan, fan-out REVERTED by round-15 BenchOne A/B: the tokenize +
    // term-count kernel over this corpus is light enough that the full-text
    // fan-out exchange plus 32-task scheduling more than doubled the query
    // (0.22 s raw floor vs 0.57 s fanned) — the q20 lesson, same class.
    "q52_vocab" -> ((s, d) => vocab(Tables.documents(s, d))),

    // Sequence packing: assign docs to fixed-token-budget training bins
    // (256 tokens) by cumulative token count within a hash shard — the
    // standard approximate packing at scale (each shard packs its own
    // stream; the window partitions by shard, so no global single-partition
    // sort ever happens).
    "q53_pack_bins" -> ((s, d) => {
      // RAW scan, fan-out removed (round 16): tokenCount is a light kernel
      // — exactly the class the q20/q52/q64/q66 A/Bs keep off the fan-out
      // — and the window's shard exchange already parallelizes everything
      // downstream, so docsWide's extra exchange was pure overhead (driver
      // round 15: 0.16 → 0.35 s, and 8 cores BEAT 32 at ratio 0.57). One
      // exchange total: shard derives from doc_id at the scan, the rows
      // shuffle once for the window, and the cumulative sum + bin math run
      // fanned above it.
      val w = Window.partitionBy("shard").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("shard", pmod(col("doc_id"), lit(16L)))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("n_tokens"), col("shard"),
          floor((col("cum") - col("n_tokens")) / lit(256)).cast("long").as("bin"))
    }),

    // Dictionary encoding: map each doc's tokens to vocab ids (OOV → -1),
    // emit the first 64 ids in order plus OOV stats. The vocab is tiny by
    // construction → broadcast join; one shuffle for the per-doc reassembly.
    "q54_dict_encode" -> ((s, d) => {
      val docs = docsWide(s, d)
      // vocab side over the RAW scan (the q52 A/B: its term-count kernel
      // doesn't amortize a fan-out exchange); the positional encode side
      // keeps the fan-out
      val v = vocab(Tables.documents(s, d)).select(col("term"), col("token_id"))
      val toks = docs.select(col("doc_id"),
        posexplode(TextOps.tokens(TextOps.normalized(col("text"))))
          .as(Seq("pos", "term")))
      toks.join(broadcast(v), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          count(when(col("token_id").isNull, 1)).as("n_oov"),
          concat_ws(",",
            transform(
              slice(array_sort(collect_list(struct(col("pos"),
                coalesce(col("token_id"), lit(-1L)).as("id")))), 1, 64),
              x => x.getField("id").cast("string"))).as("ids_csv"))
    }),

    // Training-data EXPORT — the terminal artifact a pipeline actually
    // ships: documents that (a) survive near-dup dedup (cluster canonical,
    // q43/q58 semantics), (b) clear the quality threshold, joined with
    // their int8-quantized embedding codes (q55 family), carrying token
    // count and language tag. DEFINED AS the TrainingPipeline composition
    // (defaults: minQuality 0.5, neardup dedup) so the oracled registry
    // entry and the user-facing orchestrator are one definition — the
    // END-TO-END artifact is itself hash-checked. Scale shape: anti-join
    // against the loser set, narrow scoring/quantization, one equi-join on
    // doc_id. Bench cost is dominated by the embedded iterative
    // connected-components (same multi-job core as q43/q58) — the
    // scoring/join stages add one corpus scan and one shuffle on top.
    "q61_training_export" -> ((s, d) =>
      graft.pipeline.TrainingPipeline.export(
        docsWide(s, d), Some(Tables.embeddings(s, d)))),

    // Corpus composition report: per (predicted language, 50-token length
    // band), document count and token totals — the monitoring histogram a
    // multilingual training pipeline watches. Same stats definition as the
    // TrainingPipeline sidecar, over ALL scored docs (no dedup/filter).
    // Integer aggregates only (count/sum/min/max of longs are order-free
    // exact), so it stays bit-oracled.
    "q62_lang_stats" -> ((s, d) =>
      graft.pipeline.TrainingPipeline.stats(scoreDocs(docsWide(s, d)))),

    // Content-defined chunking (CDC, the FastCDC/rsync idea): split each
    // document where the rolling content hash qualifies — here, where the
    // md5-derived 64-bit hash of the 8-char gram STARTING at a position
    // ends in a zero nibble (P=1/16 → ~16-char average chunks on this
    // corpus). Unlike fixed chunking (q38), an insertion only reshuffles
    // chunk boundaries LOCALLY, so downstream exact-dedup of chunks
    // (md5 fingerprint emitted per chunk) still matches the unedited
    // remainder — the standard trick for sub-document dedup at scale.
    // Fully narrow (HOFs over each row); the oracle replays gram hashing,
    // cut selection, and span reassembly exactly.
    "q63_cdc_chunks" -> ((s, d) => cdcChunksOf(docsWide(s, d))),

    // Sub-document exact-substring dedup apply (Lee et al. 2021) over the
    // q63 CDC chunks: every duplicated chunk keeps exactly ONE occurrence
    // corpus-wide ((doc_id, chunk_start) argmin), each document's
    // survivors reassemble in offset order — the span-removal terminal
    // that document-level dedup (q58/q66/q67) can't express. See
    // chunkDedupApplyOf for the scale shape.
    "q77_chunk_dedup_apply" -> ((s, d) =>
      chunkDedupApplyOf(docsWide(s, d))),

    // Fixed-size token chunking with overlap (50-token chunks, stride 40):
    // the standard training-data windowing step. One narrow pass + explode.
    "q38_chunks" -> ((s, d) => {
      docsWide(s, d)
        .select(col("doc_id"),
          TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
        .withColumn("starts",
          sequence(lit(1), greatest(size(col("toks")), lit(1)), lit(40)))
        .select(col("doc_id"),
          explode(transform(col("starts"), st => struct(
            st.cast("long").as("chunk_start"),
            // NULL toks (NULL text) → NULL chunk: concat_ws would silently
            // fold the NULL array to '' where the oracle's array_to_string
            // propagates NULL — n_tokens then propagates via split(NULL)
            when(col("toks").isNotNull,
              concat_ws(" ", slice(col("toks"), st, lit(50)))).as("chunk"))))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_start"), col("c.chunk"))
        .withColumn("n_tokens", size(split(col("chunk"), " ")).cast("long"))
    }),
  )

  private val normSql =
    raw"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
  // Word 3-gram shingles of normalized text, distinct — mirrors
  // TextOps.wordShingles(text, 3) index-for-index.
  private val shinglesSql =
    raw"""list_distinct(list_transform(
         |    generate_series(1, greatest(len(string_split_regex(trim($normSql), '\s+')) - 2, 1)),
         |    i -> array_to_string(list_slice(string_split_regex(trim($normSql), '\s+'), i, i + 2), ' ')))""".stripMargin
  private def sigSql(quarter: Int): String =
    s"list_min(list_transform(hs, h -> substr(h, ${quarter * 8 + 1}, 8)))"
  private val sigsSql =
    s"""SELECT doc_id,
       |  ${sigSql(0)} AS sig0, ${sigSql(1)} AS sig1,
       |  ${sigSql(2)} AS sig2, ${sigSql(3)} AS sig3
       |FROM (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs
       |  FROM (SELECT doc_id, $shinglesSql AS sh FROM documents))""".stripMargin
  private val pairsSql =
    s"""WITH sigs AS ($sigsSql),
       |e AS (
       |  SELECT doc_id, 0 AS band, sig0 || sig1 AS key FROM sigs UNION ALL
       |  SELECT doc_id, 1, sig2 || sig3 FROM sigs)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM e a JOIN e b ON a.band = b.band AND a.key = b.key
       |  AND a.doc_id < b.doc_id""".stripMargin

  // Recursive-CTE connected components over ANY preceding `pairs(doc_a,
  // doc_b)` CTE — the oracle twin of DedupClustering, shared by every
  // dedup family's cluster/apply oracle (q43/q58 LSH, q66 simhash, q67
  // winnow) so the replayed clustering semantics are defined once.
  private[queries] lazy val ccOverPairsSql =
    s"""edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, r) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.src),
       |clusters AS (SELECT src AS doc_id, min(r) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  // The q63 CDC chunk table as a CTE chain ending in
  // ck(doc_id, chunk_start, chunk_len, chunk_fp) — shared by q63 and the
  // q77 chunk-level dedup apply.
  private lazy val cdcChunksCteSql =
    s"""n AS (SELECT doc_id, $normSql AS norm FROM documents),
       |c AS (
       |  SELECT doc_id, norm,
       |    CASE WHEN length(norm) - 7 >= 2 THEN
       |      list_filter(generate_series(2, length(norm) - 7),
       |        i -> substr(md5(substr(norm, i, 8)), 16, 1) = '0')
       |    ELSE [] END AS cuts
       |  FROM n),
       |st AS (SELECT doc_id, norm, list_concat([1], cuts) AS starts FROM c),
       |ch AS (
       |  SELECT doc_id, norm,
       |    unnest(list_transform(generate_series(1, len(starts)),
       |      j -> {'chunk_start': starts[j],
       |            'chunk_len': coalesce(starts[j + 1], length(norm) + 1)
       |              - starts[j]})) AS chunk
       |  FROM st),
       |ck AS (
       |  SELECT doc_id,
       |    CAST(chunk.chunk_start AS BIGINT) AS chunk_start,
       |    CAST(chunk.chunk_len AS BIGINT) AS chunk_len,
       |    md5(substr(norm, chunk.chunk_start, chunk.chunk_len)) AS chunk_fp
       |  FROM ch WHERE chunk.chunk_len > 0)""".stripMargin

  // CC over the MinHash+LSH pairs (q43 and the q58/q61 dedup applies).
  private lazy val clustersCteSql =
    s"pairs AS ($pairsSql),\n$ccOverPairsSql"

  // The q58 apply shape shared by every dedup family's apply oracle:
  // assumes preceding CTEs ending in `clusters(doc_id, cluster_id)`.
  private lazy val applyLosersSql =
    raw"""losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
         |SELECT d.doc_id,
         |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
         |WHERE l.doc_id IS NULL""".stripMargin

  // Shared bit-exact simhash replay CTE chain `toks → h → acc →
  // sh(doc_id, simhash)` (used by q24 and the q64 banded pairs): per token,
  // parse each of the 64 bits of the first-16-hex-chars-of-md5 hash out of
  // its hex digit (strpos gives the nibble value, shift+mask the bit), vote
  // ±1, then rebuild the signed BIGINT from the per-bit majorities (bit 63
  // contributes the sign term -2^63 — two's complement). Token arrays are
  // never empty on either side (Spark `split(trim(x))` and DuckDB
  // `string_split_regex` both yield [''] for empty text), so every non-NULL
  // text doc appears in `sh`; NULL-text docs fall out of `toks` and the
  // LEFT JOIN in q24 replays the kernel's null-intolerant NULL.
  private lazy val simhashCteSql =
    raw"""toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim($normSql), '\s+')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS h FROM toks),
         |acc AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN (((strpos('0123456789abcdef',
         |          substr(h, CAST(16 - j // 4 AS INT), 1)) - 1)
         |        >> CAST(j % 4 AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS acc
         |  FROM h CROSS JOIN range(0, 64) t(j)
         |  GROUP BY 1, 2),
         |sh AS (
         |  SELECT doc_id, CAST(sum(
         |    CASE WHEN acc <= 0 THEN 0
         |         WHEN j = 63 THEN -9223372036854775808
         |         ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END) AS BIGINT)
         |    AS simhash
         |  FROM acc GROUP BY doc_id)""".stripMargin

  // Banded simhash candidate pairs (the q64 shape), extending the simhash
  // CTE chain to end in `cand(doc_a, doc_b, sh_a, sh_b)`; the Spark side's
  // hot-bucket cap is replayed by `capped`'s HAVING. Shared by q64 and the
  // q66 dedup apply.
  private lazy val simhashBandPairsCteSql =
    s"$simhashCteSql,\n" +
      raw"""bands AS (
           |  SELECT doc_id, simhash, j AS band,
           |    (simhash >> CAST(16 * j AS INT)) & 65535 AS key
           |  FROM sh CROSS JOIN range(0, 4) t(j)),
           |capped AS (
           |  SELECT band, key FROM bands GROUP BY 1, 2
           |  HAVING count(*) <= $defaultMaxBucket),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    a.simhash AS sh_a, b.simhash AS sh_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  JOIN capped c ON c.band = a.band AND c.key = a.key)""".stripMargin

  // Winnow inverted-index CTE chain ending in per-doc rare counts
  // `nr(doc_id, n_rare)` and shared counts `pr(doc_a, doc_b, n_shared)` —
  // fingerprints (k=8, w=16) replayed from normalized text, df cap 16.
  // Shared by q65 and the q67 dedup apply.
  private lazy val winnowPostingsCteSql =
    s"""fp AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    generate_series(1, greatest(len(hs) - 15, 1)),
       |    i -> list_aggregate(list_slice(hs, i, i + 15), 'min')))) AS fps
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN norm IS NULL OR length(norm) < 8 THEN NULL
       |      ELSE list_transform(generate_series(1, length(norm) - 7),
       |        i -> substr(md5(substr(norm, i, 8)), 1, 16)) END AS hs
       |    FROM (SELECT doc_id, $normSql AS norm FROM documents))
       |  WHERE hs IS NOT NULL),
       |b AS (
       |  SELECT fp, list_sort(list(doc_id)) AS ids
       |  FROM (SELECT doc_id, unnest(fps) AS fp FROM fp)
       |  GROUP BY fp HAVING count(*) <= 16),
       |nr AS (
       |  SELECT doc_id, count(*) AS n_rare
       |  FROM (SELECT unnest(ids) AS doc_id FROM b) GROUP BY 1),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS n_shared
       |  FROM (SELECT fp, unnest(ids) AS doc_id FROM b WHERE len(ids) >= 2) a
       |  JOIN (SELECT fp, unnest(ids) AS doc_id FROM b WHERE len(ids) >= 2) b2
       |    ON a.fp = b2.fp AND a.doc_id < b2.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  // Word 13-gram decontamination CTE chain: distinct per-doc grams
  // (mirrors wordShinglesFromTokens index-for-index, including the
  // shorter-than-n whole-doc degenerate gram), split into the eval slice
  // `ev(eval_id, gram)` and the training pool `tr(doc_id, gram)`.
  // Shared by q68 and the q69 apply.
  private lazy val decontamCteSql =
    raw"""dt AS (
         |  SELECT doc_id, string_split_regex(trim($normSql), '\s+') AS t
         |  FROM documents),
         |dg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(t) - ${decontamGramN - 1}, 1)),
         |    i -> array_to_string(list_slice(t, i, i + ${decontamGramN - 1}), ' ')))) AS gram
         |  FROM dt),
         |ev AS (SELECT doc_id AS eval_id, gram FROM dg WHERE doc_id % $evalSliceMod = 0),
         |tr AS (SELECT doc_id, gram FROM dg WHERE doc_id % $evalSliceMod <> 0)""".stripMargin

  // The q69 decontamination-apply replay, shared verbatim by q83 (whose
  // bloom prefilter is result-invariant by construction).
  private lazy val decontamApplySql =
    raw"""WITH $decontamCteSql,
         |hits AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.gram = ev.gram)
         |SELECT d.doc_id,
         |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id % $evalSliceMod <> 0 AND h.doc_id IS NULL""".stripMargin

  private val stopEn = TextOps.stopwords("en").map(w => s"'$w'").mkString(", ")
  private def hitsSql(lang: String): String = {
    val words = TextOps.stopwords(lang).map(w => s"'$w'").mkString(", ")
    raw"len(list_filter(string_split_regex(trim($normSql), '\s+'), x -> x IN ($words)))"
  }

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q17_text_stats" ->
      raw"""SELECT doc_id,
           |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           |  len(regexp_extract_all($normSql, '[a-z0-9]+|[^a-z0-9\s]')) AS n_bpeish,
           |  len(regexp_extract_all($normSql, '[^a-z0-9\s]')) AS n_punct,
           |  CAST($stopwordCountSql AS DOUBLE)
           |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS stopword_ratio,
           |  list_sum(list_transform(string_split_regex(trim(text), '\s+'),
           |      x -> CAST(length(x) AS DOUBLE)))
           |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS avg_word_len
           |FROM documents""".stripMargin,
    "q18_lang_id" ->
      s"""SELECT doc_id, $langCaseSql AS lang_pred
         |FROM documents""".stripMargin,
    "q19_quality" ->
      s"""SELECT doc_id, $qualitySql AS quality
         |FROM documents""".stripMargin,
    // The export replays its three oracled ingredients — recursive-CTE
    // dedup clusters, the quality/lang expressions, the int8 code family —
    // and joins them exactly like the Spark plan.
    "q61_training_export" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    $qualitySql AS quality,
         |    $langCaseSql AS lang_pred
         |  FROM documents d
         |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)),
         |codes AS (
         |  SELECT vec_id AS doc_id,
         |    array_to_string(list_transform(
         |      list_transform(v, x -> CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
         |        ELSE least(CAST(255 AS BIGINT),
         |          CAST(floor((x - vmin) / scale + 0.5) AS BIGINT)) END),
         |      c -> CAST(c AS VARCHAR)), ',') AS codes_csv
         |  FROM (SELECT vec_id, v, vmin, vmax, (vmax - vmin) / 255.0 AS scale
         |    FROM (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax
         |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))))
         |SELECT scored.doc_id, n_tokens, quality, lang_pred, codes_csv
         |FROM scored JOIN codes USING (doc_id)
         |WHERE quality >= 0.5""".stripMargin,
    "q62_lang_stats" ->
      s"""SELECT lang_pred, CAST(floor(n_tokens / 50) AS BIGINT) AS len_band,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
         |FROM (SELECT $langCaseSql AS lang_pred,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |GROUP BY 1, 2""".stripMargin,
    "q20_dedup_exact" ->
      s"""SELECT md5($normSql) AS fingerprint, min(doc_id) AS canonical_id,
         |  count(*) AS cnt
         |FROM documents GROUP BY 1""".stripMargin,
    "q38_chunks" ->
      raw"""SELECT doc_id, chunk_start, chunk,
           |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
           |FROM (
           |  SELECT doc_id,
           |    CAST(unnest(starts) AS BIGINT) AS chunk_start,
           |    unnest(list_transform(starts,
           |      st -> array_to_string(list_slice(toks, st, st + 49), ' '))) AS chunk
           |  FROM (
           |    SELECT doc_id, toks,
           |      generate_series(1, greatest(len(toks), 1), 40) AS starts
           |    FROM (SELECT doc_id,
           |      string_split_regex(trim($normSql), '\s+') AS toks FROM documents)))""".stripMargin,
    "q40_tfidf" ->
      raw"""WITH terms AS (
           |  SELECT doc_id, unnest(string_split_regex(trim($normSql), '\s+')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |scored AS (
           |  SELECT doc_id, term, tf, df,
           |    tf * CAST((SELECT count(*) FROM documents) AS DOUBLE) / df AS score
           |  FROM tf JOIN df USING (term)),
           |r AS (SELECT *, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk FROM scored)
           |SELECT doc_id, term, tf, df, score, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "q42b_bm25_rational" ->
      raw"""WITH d AS (
           |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
           |  FROM (SELECT doc_id,
           |      string_split_regex(trim($normSql), '\s+') AS t FROM documents)),
           |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(dl) AS BIGINT) AS total_dl FROM d),
           |tf AS (
           |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
           |  WHERE term IN ('data', 'spark', 'query') GROUP BY 1, 2, 3),
           |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           |  FROM tf GROUP BY 1)
           |SELECT doc_id, term, tf, df, dl, n_docs, total_dl,
           |  CAST(22 * tf * total_dl AS BIGINT) AS sat_num,
           |  CAST(10 * tf * total_dl + 3 * total_dl + 9 * dl * n_docs AS BIGINT) AS sat_den,
           |  CAST(2 * (n_docs + 1) AS BIGINT) AS idf_num,
           |  CAST(2 * df + 1 AS BIGINT) AS idf_den
           |FROM tf JOIN df USING (term) CROSS JOIN stats""".stripMargin,
    "q52_vocab" -> vocabOracleSql,
    "q53_pack_bins" ->
      raw"""SELECT doc_id, n_tokens, shard,
           |  CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS bin
           |FROM (
           |  SELECT doc_id, n_tokens, doc_id % 16 AS shard,
           |    sum(n_tokens) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS cum
           |  FROM (
           |    SELECT doc_id,
           |      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
           |    FROM documents))""".stripMargin,
    "q54_dict_encode" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim($normSql), '\s+') AS t
           |  FROM documents),
           |terms AS (
           |  SELECT doc_id, unnest(t) AS term,
           |    generate_subscripts(t, 1) AS pos FROM toks),
           |v AS ($vocabOracleSql)
           |SELECT doc_id,
           |  count(*) AS n_tokens,
           |  count(*) FILTER (WHERE token_id IS NULL) AS n_oov,
           |  array_to_string(list_transform(
           |    list_slice(list(coalesce(token_id, -1) ORDER BY pos), 1, 64),
           |    x -> CAST(x AS VARCHAR)), ',') AS ids_csv
           |FROM terms LEFT JOIN v USING (term)
           |GROUP BY doc_id""".stripMargin,
    // Bit-exact simhash replay: per token, parse each of the 64 bits of the
    // first-16-hex-chars-of-md5 hash out of its hex digit (strpos gives the
    // nibble value, shift+mask the bit), vote ±1, then rebuild the signed
    // BIGINT from the per-bit majorities (bit 63 contributes the sign term
    // -2^63 — two's complement — so everything stays in BIGINT/HUGEINT).
    "q24_simhash" ->
      s"WITH $simhashCteSql\nSELECT d.doc_id, sh.simhash FROM documents d LEFT JOIN sh USING (doc_id)",
    // Banded simhash pair replay: 4×16-bit bands via arithmetic shift +
    // mask (the mask strips the sign-fill bits, so the signed BIGINT
    // yields the same band values as the kernel's unsigned shift), equal-
    // band self-join, Hamming via bit_count(xor) on two's-complement.
    // The Spark side's hot-bucket cap (1000 — buckets larger than that are
    // SKIPPED) is replayed by the `capped` CTE's HAVING, so the two sides
    // stay equivalent by construction, not by corpus statistics (the sf0.1
    // max band bucket is 291 — 2× headroom asserted in NearDupPairsSpec —
    // but a degenerate corpus of short docs could trip the cap).
    "q64_simhash_pairs" ->
      s"""WITH $simhashBandPairsCteSql
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin,
    // Simhash dedup APPLY: the q64 pair set fed through the shared
    // recursive-CTE connected components and the q58 apply shape.
    "q66_simhash_dedup_apply" ->
      s"""WITH RECURSIVE $simhashBandPairsCteSql,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cand
         |  WHERE bit_count(xor(sh_a, sh_b)) <= 3),
         |$ccOverPairsSql,
         |$applyLosersSql""".stripMargin,
    // Winnow dedup APPLY: the q65 overlap pairs (threshold 0.5) through
    // the same CC + apply shape.
    "q67_winnow_dedup_apply" ->
      s"""WITH RECURSIVE $winnowPostingsCteSql,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM pr
         |  JOIN nr na ON na.doc_id = pr.doc_a
         |  JOIN nr nb ON nb.doc_id = pr.doc_b
         |  WHERE CAST(n_shared AS DOUBLE) / least(na.n_rare, nb.n_rare) >= 0.5),
         |$ccOverPairsSql,
         |$applyLosersSql""".stripMargin,
    // Winnow-overlap replay: same fingerprint CTE family as q25, df-capped
    // (≤16) posting lists, shared-count pair join, integer-count overlap
    // fraction (one division — bit-exact across engines).
    "q65_winnow_overlap" ->
      s"""WITH $winnowPostingsCteSql
         |SELECT doc_a, doc_b, n_shared,
         |  CAST(n_shared AS DOUBLE) / least(na.n_rare, nb.n_rare) AS overlap
         |FROM pr
         |JOIN nr na ON na.doc_id = pr.doc_a
         |JOIN nr nb ON nb.doc_id = pr.doc_b
         |WHERE CAST(n_shared AS DOUBLE) / least(na.n_rare, nb.n_rare) >= 0.5""".stripMargin,
    // Winnow replay: char k-grams (k=8) of normalized text, md5 → first 16
    // hex chars, sliding window w=16 minima (lexicographic min on fixed-width
    // hex = unsigned numeric min), distinct + sort + comma-join. NULL/short
    // text → '' (Spark's concat_ws skips the NULL array).
    "q25_winnow" ->
      s"""SELECT doc_id,
         |  CASE WHEN hs IS NULL THEN ''
         |  ELSE array_to_string(list_sort(list_distinct(list_transform(
         |    generate_series(1, greatest(len(hs) - 15, 1)),
         |    i -> list_aggregate(list_slice(hs, i, i + 15), 'min')))), ',')
         |  END AS fingerprint
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN norm IS NULL OR length(norm) < 8 THEN NULL
         |    ELSE list_transform(generate_series(1, length(norm) - 7),
         |      i -> substr(md5(substr(norm, i, 8)), 1, 16)) END AS hs
         |  FROM (SELECT doc_id, $normSql AS norm FROM documents))""".stripMargin,
    // CDC replay: same gram family as q25 (char-based substr + md5), cut
    // where the 16th hex char (the 64-bit hash's last nibble) is '0',
    // spans reassembled from consecutive starts. NULL/empty docs emit no
    // rows on both sides (chunk_len NULL/0 is filtered).
    "q63_cdc_chunks" ->
      s"""WITH $cdcChunksCteSql
         |SELECT doc_id, chunk_start, chunk_len, chunk_fp FROM ck""".stripMargin,
    // q77 replay: same chunk CTEs, argmin canonical occurrence per
    // fingerprint via row_number, ordered string_agg reassembly.
    "q77_chunk_dedup_apply" ->
      s"""WITH $cdcChunksCteSql,
         |canon AS (
         |  SELECT chunk_fp, doc_id AS c_doc, chunk_start AS c_start FROM (
         |    SELECT chunk_fp, doc_id, chunk_start, row_number()
         |        OVER (PARTITION BY chunk_fp ORDER BY doc_id, chunk_start) AS rn
         |    FROM ck) WHERE rn = 1),
         |kept AS (
         |  SELECT ck.doc_id, ck.chunk_start, ck.chunk_len
         |  FROM ck JOIN canon ON ck.chunk_fp = canon.chunk_fp
         |  WHERE ck.doc_id = canon.c_doc AND ck.chunk_start = canon.c_start),
         |agg AS (
         |  SELECT k.doc_id,
         |    string_agg(substr(n.norm, CAST(k.chunk_start AS INT),
         |      CAST(k.chunk_len AS INT)), '' ORDER BY k.chunk_start) AS clean_text,
         |    count(*) AS n_kept
         |  FROM kept k JOIN n ON k.doc_id = n.doc_id GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ck GROUP BY 1)
         |SELECT t.doc_id,
         |  coalesce(a.clean_text, '') AS clean_text,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(t.n_chunks AS BIGINT) AS n_chunks
         |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id""".stripMargin,
    "q21_minhash_sig" -> sigsSql,
    "q22_neardup_pairs" -> pairsSql,
    "q59_minhash_est" ->
      s"""WITH sigs AS ($sigsSql), pairs AS ($pairsSql)
         |SELECT doc_a, doc_b,
         |  CAST((CASE WHEN a.sig0 = b.sig0 THEN 1 ELSE 0 END)
         |     + (CASE WHEN a.sig1 = b.sig1 THEN 1 ELSE 0 END)
         |     + (CASE WHEN a.sig2 = b.sig2 THEN 1 ELSE 0 END)
         |     + (CASE WHEN a.sig3 = b.sig3 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / 4.0 AS est_jaccard
         |FROM pairs
         |JOIN sigs a ON a.doc_id = pairs.doc_a
         |JOIN sigs b ON b.doc_id = pairs.doc_b""".stripMargin,
    // q76 replay: same recursive-CTE clusters, then the priority election
    // (row_number over (priority, doc_id)) — the CASE is generated from
    // the same priority map as the Spark side.
    "q76_priority_dedup_apply" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |prio AS (
         |  SELECT c.doc_id, c.cluster_id,
         |    CASE d.source ${sourcePriorities.toSeq.sorted
               .map { case (s, p) => s"WHEN '$s' THEN $p" }
               .mkString(" ")} ELSE 1000 END AS p
         |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id),
         |canon AS (
         |  SELECT cluster_id, doc_id AS canonical_id FROM (
         |    SELECT cluster_id, doc_id, row_number()
         |        OVER (PARTITION BY cluster_id ORDER BY p, doc_id) AS rn
         |    FROM prio) WHERE rn = 1),
         |losers AS (
         |  SELECT pr.doc_id FROM prio pr
         |  JOIN canon ON pr.cluster_id = canon.cluster_id
         |  WHERE pr.doc_id <> canon.canonical_id)
         |SELECT d.doc_id, d.source,
         |  CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
         |WHERE l.doc_id IS NULL""".stripMargin,
    "q43_dedup_clusters" ->
      s"""WITH RECURSIVE $clustersCteSql
         |SELECT doc_id, cluster_id FROM clusters""".stripMargin,
    "q58_dedup_apply" ->
      s"WITH RECURSIVE $clustersCteSql,\n$applyLosersSql",
    "q68_decontam_hits" ->
      s"""WITH $decontamCteSql
         |SELECT tr.doc_id,
         |  count(DISTINCT tr.gram) AS shared_grams,
         |  count(DISTINCT ev.eval_id) AS eval_docs
         |FROM tr JOIN ev ON tr.gram = ev.gram
         |GROUP BY tr.doc_id""".stripMargin,
    // The q70 repetition replay groups gram occurrences per doc instead of
    // walking sorted runs — same integer counts by construction; the
    // row_number tie-break (cnt DESC, gram ASC) mirrors the fold's
    // first-to-reach-the-count-in-ascending-order rule.
    "q70_repetition" ->
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim($normSql), '\s+') AS toks
           |  FROM documents),
           |g2 AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(1, greatest(len(toks) - 1, 1)),
           |    i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
           |  FROM t),
           |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
           |s2 AS (SELECT doc_id, sum(cnt * length(gram)) AS total_chars FROM c2 GROUP BY 1),
           |top2 AS (
           |  SELECT doc_id, cnt AS top2_count, gram AS top2_gram
           |  FROM (SELECT doc_id, cnt, gram, row_number()
           |      OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
           |    FROM c2) WHERE rn = 1),
           |g5 AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(1, greatest(len(toks) - 4, 1)),
           |    i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS gram
           |  FROM t),
           |c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2),
           |s5 AS (
           |  SELECT doc_id,
           |    coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) END), 0) AS dup_chars,
           |    sum(cnt * length(gram)) AS total_chars
           |  FROM c5 GROUP BY 1),
           |f AS (
           |  SELECT t.doc_id, top2.top2_count, top2.top2_gram,
           |    CAST(top2.top2_count * length(top2.top2_gram) AS DOUBLE)
           |      / CAST(greatest(s2.total_chars, 1) AS DOUBLE) AS top2_char_frac,
           |    CAST(s5.dup_chars AS DOUBLE)
           |      / CAST(greatest(s5.total_chars, 1) AS DOUBLE) AS dup5_char_frac
           |  FROM t
           |  JOIN top2 ON t.doc_id = top2.doc_id
           |  JOIN s2 ON t.doc_id = s2.doc_id
           |  JOIN s5 ON t.doc_id = s5.doc_id)
           |SELECT doc_id, top2_count, top2_gram, top2_char_frac, dup5_char_frac,
           |  (top2_char_frac <= 0.20 AND dup5_char_frac <= 0.15) AS passes_repetition
           |FROM f""".stripMargin,
    // Gopher table-A1 replay: every signal is an integer count over the
    // same normalized token / raw line arrays, so the single divisions and
    // the threshold booleans match bit-for-bit.
    "q71_gopher_quality" -> q71OracleSql(gopherMinStops),
    // q74 replay: per-n gram GROUP BYs (the q70 pattern, generated from
    // the same threshold tables as the Spark side) + line/paragraph unit
    // GROUP BYs; the top-gram tie (cnt DESC, gram ASC) mirrors the fold's
    // ascending-walk rule.
    "q74_gopher_repetition_ext" -> q74OracleSql,
    // q72 replay: identical gram hashing (md5/16 hex of the space-joined
    // 10-gram), per-(doc, hash) occurrence counts, document frequency over
    // the unique (doc, hash) rows, then the same duplicated-position sums.
    "q72_dup_passages" ->
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim($normSql), '\s+') AS toks
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(1, greatest(len(toks) - ${dupPassageGramN - 1}, 1)),
           |    i -> substr(md5(array_to_string(
           |      list_slice(toks, i, i + ${dupPassageGramN - 1}), ' ')), 1, 16))) AS h
           |  FROM t),
           |pg AS (SELECT doc_id, h, count(*) AS cnt FROM g GROUP BY 1, 2),
           |df AS (SELECT h, count(*) AS docs FROM pg GROUP BY 1),
           |agg AS (
           |  SELECT pg.doc_id,
           |    CAST(sum(pg.cnt) AS BIGINT) AS n_grams,
           |    CAST(coalesce(sum(CASE WHEN df.docs >= 2 THEN pg.cnt END), 0) AS BIGINT)
           |      AS n_dup_grams
           |  FROM pg JOIN df ON pg.h = df.h GROUP BY 1)
           |SELECT doc_id, n_grams, n_dup_grams,
           |  CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
           |  (CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) < 0.30)
           |    AS passes_dup_passages
           |FROM agg""".stripMargin,
    // q78 replay: the bit-oracled q19 quality expression feeds the same
    // multiply+floor threshold, rendered fixed-width hex by printf.
    "q78_quality_sample" ->
      s"""WITH k AS (
         |  SELECT doc_id, $qualitySql AS quality,
         |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':qs')), 1, 8) AS sample_key
         |  FROM documents)
         |SELECT doc_id, quality, sample_key FROM k
         |WHERE sample_key < printf('%08x',
         |  least(CAST(floor(quality * 4294967296.0) AS BIGINT), 4294967295))""".stripMargin,
    // q79 replay: the same doc_id-derived PII seeding (|| not concat — ||
    // NULL-propagates like Spark's concat, DuckDB's concat does not), then
    // the same three sequential scrub stages with the same patterns
    // (embedded from the shared Scala vals — Java regex and RE2 agree on
    // this syntax subset); counts taken at each stage, 'g' for replace-all
    // to match Spark's regexp_replace.
    "q79_pii_scrub" ->
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    text || ' u' || CAST(doc_id AS VARCHAR)
         |      || '@ex' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.com 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.0.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
         |      || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
         |  FROM documents),
         |t1 AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$piiEmailRe')) AS BIGINT) AS n_emails,
         |    regexp_replace(text, '$piiEmailRe', '<EMAIL>', 'g') AS r1
         |  FROM seeded),
         |t2 AS (
         |  SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(r1, '$piiIpv4Re')) AS BIGINT) AS n_ipv4,
         |    regexp_replace(r1, '$piiIpv4Re', '<IP>', 'g') AS r2
         |  FROM t1)
         |SELECT doc_id, n_emails, n_ipv4,
         |  CAST(len(regexp_extract_all(r2, '$piiPhoneRe')) AS BIGINT) AS n_phones,
         |  regexp_replace(r2, '$piiPhoneRe', '<PHONE>', 'g') AS text_redacted
         |FROM t2""".stripMargin,
    // q80 replay: q43's recursive-CTE clusters, singletons defaulting to
    // their own doc_id, then the same ':split' md5 key against CASE
    // thresholds generated from the shared split fractions.
    "q80_split_assign" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |g AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
         |k AS (
         |  SELECT doc_id, group_id,
         |    substr(md5(concat(CAST(group_id AS VARCHAR), ':split')), 1, 8)
         |      AS split_key
         |  FROM g)
         |SELECT doc_id, group_id, split_key,
         |  CASE WHEN split_key < '${sampleThresholdHex(splitTrainFrac)}' THEN 'train'
         |       WHEN split_key < '${sampleThresholdHex(splitTrainFrac + splitValFrac)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM k""".stripMargin,
    // q81 replay: same token explosion, same grouped frequency table, same
    // join-back and per-doc aggregation; integer counts and sums are
    // order-independent, the two ratios are single divisions of exact
    // integers (float-parity rules). DuckDB sums BIGINT into HUGEINT, so
    // every aggregate is cast back to BIGINT before comparison.
    "q81_unigram_score" ->
      raw"""WITH tk AS (
           |  SELECT doc_id, unnest(string_split_regex(trim($normSql), '\s+')) AS term
           |  FROM documents),
           |v AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tk GROUP BY term)
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(freq) AS BIGINT) AS sum_freq,
           |  CAST(count(*) FILTER (WHERE freq <= $rareFreqMax) AS BIGINT) AS n_rare,
           |  CAST(sum(freq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_freq,
           |  CAST(count(*) FILTER (WHERE freq <= $rareFreqMax) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS rare_ratio
           |FROM tk JOIN v USING (term)
           |GROUP BY doc_id""".stripMargin,
    // q87 replay: same bands (quality is the oracled q19 expression), same
    // tiny running-total-over-bands window, same needed/band_tokens double
    // division (exact BIGINTs → one IEEE division both engines round the
    // same way), same ':tb' Bernoulli boundary fill.
    "q87_token_budget" ->
      raw"""WITH s AS (
           |  SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           |    CAST(floor(($qualitySql) * $budgetBandScale) AS BIGINT) AS band,
           |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':tb')), 1, 8) AS tb_key
           |  FROM documents),
           |b AS (SELECT band, CAST(sum(n_tokens) AS BIGINT) AS band_tokens
           |  FROM s GROUP BY band),
           |c AS (SELECT band, band_tokens,
           |    CAST(coalesce(sum(band_tokens) OVER (ORDER BY band DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS cum_before
           |  FROM b),
           |k AS (SELECT band, band_tokens, 10000 - cum_before AS needed
           |  FROM c WHERE 10000 - cum_before > 0)
           |SELECT s.doc_id, s.n_tokens, s.band
           |FROM s JOIN k USING (band)
           |WHERE k.needed >= k.band_tokens
           |   OR s.tb_key < printf('%08x', least(4294967295, CAST(floor(
           |        CAST(k.needed AS DOUBLE) / CAST(k.band_tokens AS DOUBLE)
           |        * 4294967296.0) AS BIGINT)))""".stripMargin,

    // q88 replay: the sketch phase only proposes CANDIDATES (a guaranteed
    // superset — see heavyHitters); the exact recount makes the final
    // answer plain count + cross-multiplied HAVING, which is all the
    // oracle needs to replay.
    "q88_heavy_hitters" ->
      raw"""WITH t AS (
           |  SELECT unnest(string_split_regex(trim($normSql), '\s+')) AS term
           |  FROM documents),
           |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
           |SELECT term, cnt, n_total FROM c, n
           |WHERE cnt * $heavyHittersK > n_total""".stripMargin,
    // q89 replay: bucket = first-two-md5-hex-digits value (strpos gives
    // each nibble), then the same integer count/total/cross-multiply
    // chain — every intermediate is a BIGINT (DuckDB's sum() widens to
    // HUGEINT; the final CAST narrows back), so the scores are bit-exact.
    "q89_importance_weight" ->
      raw"""WITH base AS (
           |  SELECT doc_id, ($qualitySql) >= 0.5 AS is_target,
           |    string_split_regex(trim($normSql), '\s+') AS toks
           |  FROM documents),
           |tb AS (
           |  SELECT doc_id, is_target,
           |    CAST((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
           |      + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1)
           |      AS BIGINT) AS bucket
           |  FROM (SELECT doc_id, is_target, unnest(toks) AS term FROM base)),
           |pb AS (
           |  SELECT bucket, count(*) AS c_raw,
           |    count(*) FILTER (WHERE is_target) AS c_tgt
           |  FROM tb GROUP BY 1),
           |tot AS (
           |  SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
           |    CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM pb),
           |w AS (
           |  SELECT bucket, c_tgt * t_raw - c_raw * t_tgt AS w
           |  FROM pb, tot)
           |SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS score,
           |  count(*) AS n_tokens
           |FROM tb JOIN w USING (bucket)
           |GROUP BY doc_id""".stripMargin,
    // q86 replay: same salted key, and the shard CASE chain is generated
    // from the same Scala boundary loop as the Spark side.
    "q86_shuffle_shard" ->
      s"""SELECT doc_id,
         |  substr(md5(concat(CAST(doc_id AS VARCHAR), ':shuf')), 1, 8) AS shuffle_key,
         |  ${shardOfKeySql(s"substr(md5(concat(CAST(doc_id AS VARCHAR), ':shuf')), 1, 8)")} AS shard
         |FROM documents""".stripMargin,
    // q73 replay: same salted md5 key, same hex thresholds (generated from
    // the same Scala rate map — single source of truth).
    "q73_mixture_sample" ->
      s"""WITH k AS (
         |  SELECT doc_id, lang,
         |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':mix')), 1, 8) AS sample_key
         |  FROM documents)
         |SELECT doc_id, lang, sample_key FROM k
         |WHERE CASE
         |${mixtureRates.toSeq.sorted.collect { case (l, r) if r < 1.0 =>
             s"  WHEN lang = '$l' THEN sample_key < '${sampleThresholdHex(r)}'"
           }.mkString("\n")}
         |  ELSE true END""".stripMargin,
    "q69_decontam_apply" -> decontamApplySql,
    // q84 replay: per-doc signatures are slice-independent, so the shared
    // sigs CTE runs over ALL documents and the slice predicates carve out
    // the base/batch sides; the base-side hot-bucket cap is the HAVING.
    "q84_incremental_dedup" ->
      raw"""WITH sigs AS ($sigsSql),
           |e AS (
           |  SELECT doc_id, 0 AS band, sig0 || sig1 AS key FROM sigs UNION ALL
           |  SELECT doc_id, 1, sig2 || sig3 FROM sigs),
           |bb AS (SELECT band, key FROM e
           |  WHERE doc_id % 10 <> 0 AND key IS NOT NULL
           |  GROUP BY band, key HAVING count(*) <= $defaultMaxBucket),
           |near AS (
           |  SELECT DISTINCT e.doc_id FROM e JOIN bb USING (band, key)
           |  WHERE e.doc_id % 10 = 0 AND e.key IS NOT NULL),
           |fp AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
           |ex AS (
           |  SELECT DISTINCT b.doc_id FROM fp b JOIN fp o ON b.fp = o.fp
           |  WHERE b.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
           |hits AS (SELECT doc_id FROM near UNION SELECT doc_id FROM ex)
           |SELECT d.doc_id,
           |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_tokens
           |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
           |WHERE d.doc_id % 10 = 0 AND h.doc_id IS NULL""".stripMargin,
    // q83 is the SAME result as q69 by construction (the bloom only
    // prefilters; the exact join re-confirms every survivor), so it binds
    // the same replay — the oracle checks the prefilter changed nothing.
    "q83_decontam_bloom" -> decontamApplySql,
    "q23_jaccard" ->
      s"""WITH pairs AS ($pairsSql),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents)
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |  / CAST(len(a.sh) + len(b.sh)
         |      - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         |FROM pairs
         |JOIN sh a ON a.doc_id = pairs.doc_a
         |JOIN sh b ON b.doc_id = pairs.doc_b""".stripMargin,
  )

  // q75/q75b compose the three Gopher oracles as subqueries (DuckDB allows
  // a WITH inside a parenthesized subquery), so the combined filter can
  // never drift from the per-family replays it intersects; q75b swaps only
  // the q71 replay's stopword gate (the same single constant the Spark
  // side swaps — see gopherRelaxedMinStops).
  private def gopherApplySql(q71Sql: String): String =
    raw"""SELECT d.doc_id,
         |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_tokens
         |FROM documents d
         |JOIN (${oracleSqlBase("q70_repetition")}) a ON d.doc_id = a.doc_id
         |JOIN ($q71Sql) b ON d.doc_id = b.doc_id
         |JOIN (${oracleSqlBase("q74_gopher_repetition_ext")}) c ON d.doc_id = c.doc_id
         |WHERE a.passes_repetition AND b.passes_gopher_quality
         |  AND c.passes_gopher_repetition_ext""".stripMargin

  val oracleSql: Map[String, String] = oracleSqlBase +
    ("q75_gopher_apply" -> gopherApplySql(q71OracleSql(gopherMinStops))) +
    ("q75b_gopher_apply_relaxed" ->
      gopherApplySql(q71OracleSql(gopherRelaxedMinStops)))

  // The q71 replay, GENERATED as a function of the required-stopword gate
  // so the standard entry (gopherMinStops) and the q75b relaxed
  // composition (gopherRelaxedMinStops) can never drift from each other —
  // every other threshold is table-A1 and shared verbatim.
  private def q71OracleSql(minStops: Long): String =
    raw"""WITH t AS (
         |  SELECT doc_id, text,
         |    string_split_regex(trim($normSql), '\s+') AS toks,
         |    string_split(text, chr(10)) AS ls
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
         |      / CAST(len(toks) AS DOUBLE) AS mean_word_len,
         |    CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
         |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS symbol_ratio,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
         |    CAST(${TextOps.gopherRequiredWords.map(w =>
                s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)")
                .mkString("\n         |      + ")} AS BIGINT) AS n_required_stops,
         |    CAST(len(list_filter(ls, l ->
         |        regexp_matches(ltrim(l), '^(•|‣|▪|- |\* )'))) AS DOUBLE)
         |      / CAST(len(ls) AS DOUBLE) AS bullet_line_frac,
         |    CAST(len(list_filter(ls, l ->
         |        regexp_matches(l, '(\.\.\.|…)$$'))) AS DOUBLE)
         |      / CAST(len(ls) AS DOUBLE) AS ellipsis_line_frac
         |  FROM t)
         |SELECT f.*,
         |  (n_words >= 50 AND n_words <= 100000
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_ratio <= 0.1
         |    AND alpha_word_frac >= 0.8
         |    AND n_required_stops >= $minStops
         |    AND bullet_line_frac <= 0.9
         |    AND ellipsis_line_frac <= 0.3) AS passes_gopher_quality
         |FROM f""".stripMargin

  // q74's oracle is GENERATED from the same threshold tables as the Spark
  // side — per-n gram-count CTEs, top/dup aggregates, and line/paragraph
  // unit stats, joined per doc. Single source of truth for n values and
  // thresholds.
  private lazy val q74OracleSql: String = {
    def gramCtes(n: Int) =
      raw"""g$n AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(1, greatest(len(toks) - ${n - 1}, 1)),
           |    i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' '))) AS gram
           |  FROM t),
           |c$n AS (SELECT doc_id, gram, count(*) AS cnt FROM g$n GROUP BY 1, 2)""".stripMargin
    def topCtes(n: Int) =
      raw"""t$n AS (
           |  SELECT doc_id, cnt, length(gram) AS glen FROM (
           |    SELECT doc_id, cnt, gram, row_number()
           |        OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
           |    FROM c$n) WHERE rn = 1),
           |s$n AS (SELECT doc_id, sum(cnt * length(gram)) AS total FROM c$n GROUP BY 1)""".stripMargin
    def dupCtes(n: Int) =
      raw"""s$n AS (SELECT doc_id,
           |  coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) END), 0) AS dup,
           |  sum(cnt * length(gram)) AS total FROM c$n GROUP BY 1)""".stripMargin
    def unitCtes(p: String, sep: String) =
      raw"""${p}v AS (SELECT doc_id, unnest(string_split(text, $sep)) AS u FROM documents),
           |${p}c AS (SELECT doc_id, u, count(*) AS cnt FROM ${p}v GROUP BY 1, 2),
           |${p}stat AS (SELECT doc_id,
           |  coalesce(sum(CASE WHEN cnt >= 2 THEN cnt END), 0) AS dup_occ,
           |  coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * length(u) END), 0) AS dup_chars,
           |  sum(cnt * length(u)) AS total_chars, sum(cnt) AS n_units
           |  FROM ${p}c GROUP BY 1)""".stripMargin
    val tops = gopherTopGramThresholds.map(_._1)
    val dups = gopherDupGramThresholds.map(_._1)
    val ctes =
      Seq(raw"""t AS (
           |  SELECT doc_id, string_split_regex(trim($normSql), '\s+') AS toks
           |  FROM documents)""".stripMargin) ++
        (tops ++ dups).map(gramCtes) ++ tops.map(topCtes) ++ dups.map(dupCtes) ++
        Seq(unitCtes("l", "chr(10)"), unitCtes("p", "chr(10) || chr(10)"))
    val fracSelects =
      tops.map(n =>
        s"""    CAST(t$n.cnt * t$n.glen AS DOUBLE)
           |      / CAST(greatest(s$n.total, 1) AS DOUBLE) AS top${n}_char_frac""".stripMargin) ++
      dups.map(n =>
        s"""    CAST(s$n.dup AS DOUBLE)
           |      / CAST(greatest(s$n.total, 1) AS DOUBLE) AS dup${n}_char_frac""".stripMargin) ++
      Seq(
        "    CAST(lstat.dup_occ AS DOUBLE) / CAST(lstat.n_units AS DOUBLE) AS dup_line_frac",
        "    CAST(lstat.dup_chars AS DOUBLE) / CAST(greatest(lstat.total_chars, 1) AS DOUBLE) AS dup_line_char_frac",
        "    CAST(pstat.dup_occ AS DOUBLE) / CAST(pstat.n_units AS DOUBLE) AS dup_para_frac",
        "    CAST(pstat.dup_chars AS DOUBLE) / CAST(greatest(pstat.total_chars, 1) AS DOUBLE) AS dup_para_char_frac")
    val joins =
      tops.flatMap(n => Seq(
        s"JOIN t$n ON d.doc_id = t$n.doc_id",
        s"JOIN s$n ON d.doc_id = s$n.doc_id")) ++
      dups.map(n => s"JOIN s$n ON d.doc_id = s$n.doc_id") ++
      Seq("JOIN lstat ON d.doc_id = lstat.doc_id",
        "JOIN pstat ON d.doc_id = pstat.doc_id")
    val verdict =
      (gopherTopGramThresholds.map { case (n, t) => s"top${n}_char_frac <= $t" } ++
        gopherDupGramThresholds.map { case (n, t) => s"dup${n}_char_frac <= $t" } ++
        Seq("dup_line_frac <= 0.3", "dup_line_char_frac <= 0.2",
          "dup_para_frac <= 0.3", "dup_para_char_frac <= 0.2"))
        .mkString("\n    AND ")
    s"""WITH ${ctes.mkString(",\n")},
       |f AS (
       |  SELECT d.doc_id,
       |${fracSelects.mkString(",\n")}
       |  FROM documents d
       |  ${joins.mkString("\n  ")})
       |SELECT f.*, ($verdict) AS passes_gopher_repetition_ext
       |FROM f""".stripMargin
  }

  private lazy val stopwordCountSql =
    raw"len(list_filter(string_split_regex(trim($normSql), '\s+'), x -> x IN ($stopEn)))"

  // Factored oracle expressions for the q18 language vote and q19 quality
  // score — shared verbatim by the q61 export and q62 composition report,
  // so the composed oracles can never drift from the per-row ones.
  private lazy val langCaseSql =
    s"""CASE
       |    WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
       |    WHEN ${hitsSql("en")} >= ${hitsSql("de")}
       |     AND ${hitsSql("en")} >= ${hitsSql("es")}
       |     AND ${hitsSql("en")} >= ${hitsSql("fr")} THEN 'en'
       |    WHEN ${hitsSql("de")} >= ${hitsSql("es")}
       |     AND ${hitsSql("de")} >= ${hitsSql("fr")} THEN 'de'
       |    WHEN ${hitsSql("es")} >= ${hitsSql("fr")} THEN 'es'
       |    ELSE 'fr'
       |  END""".stripMargin

  private lazy val qualitySql =
    raw"""least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
         |  + least((CAST($stopwordCountSql AS DOUBLE)
         |      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) * 5.0, 1.0) * 0.3
         |  + greatest(1.0 - (CAST(len(regexp_extract_all($normSql, '[^a-z0-9\s]')) AS DOUBLE)
         |      / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0)) * 2.0,
         |      0.0) * 0.3""".stripMargin

  // row_number runs before LIMIT within the same SELECT, so ids are dense
  // over the same (cnt desc, term asc) total order as the Spark window.
  private lazy val vocabOracleSql =
    raw"""SELECT term, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, term ASC) - 1 AS token_id
         |FROM (
         |  SELECT term, count(*) AS cnt FROM (
         |    SELECT unnest(string_split_regex(trim($normSql), '\s+')) AS term
         |    FROM documents)
         |  GROUP BY 1)
         |ORDER BY cnt DESC, term ASC LIMIT 16""".stripMargin
}

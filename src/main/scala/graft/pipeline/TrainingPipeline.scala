package graft.pipeline

import graft.functions.TextOps
import graft.operators.{DedupClustering, RelationalOps}
import graft.queries.{TextQueries, VectorQueries}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** One-call training-data pipeline — the LLM-ops analogue of
  * [[graft.etl.Pipeline.runEtl]]: where runEtl orchestrates the reference's
  * extract → clean → aggregate → report, this orchestrates the extension
  * surface end to end: score → (optional) dedup → quality filter →
  * (optional) embedding-code join → partitioned artifact + composition
  * stats. The oracled registry entries are DEFINED in terms of this object
  * (q61 = `export` with defaults, q62 = `stats` over all scored docs), and
  * every stage is the single shared definition (`TextQueries.scoreDocs`,
  * `DedupClustering.losers`, `VectorQueries.codesCsvByDocId`) — so
  * the pipeline, the registry queries, and the streaming twin cannot
  * diverge by construction.
  */
object TrainingPipeline {

  sealed trait DedupMode
  /** A mode whose losers are connected components over a pair frame. */
  sealed trait PairDedup extends DedupMode
  /** Keep every document (still quality-filtered). */
  case object NoDedup extends DedupMode
  /** q20 semantics: one canonical doc (min doc_id) per exact normalized-
    * content fingerprint — one hash-partitioned window pass on the
    * fingerprint to tag canonicals, then the loser filter.
    */
  case object ExactDedup extends DedupMode
  /** q43/q58/q61 semantics: connected components over MinHash+LSH candidate
    * pairs; each near-dup cluster keeps its minimum doc_id.
    */
  case object NeardupDedup extends PairDedup
  /** q64/q66 semantics: connected components over banded simhash pairs at
    * Hamming ≤ 3; each cluster keeps its minimum doc_id.
    */
  case object SimhashDedup extends PairDedup
  /** q65/q67 semantics: connected components over winnow-fingerprint
    * overlap pairs at overlap ≥ 0.5; each cluster keeps its minimum doc_id.
    */
  case object WinnowDedup extends PairDedup
  /** q90 semantics (SemDeDup-style): connected components over verified
    * embedding-cosine near-dup pairs (the q35 multiprobe-LSH candidates at
    * cosine > 0.4); each semantic cluster keeps its minimum doc_id.
    * Requires the corpus `embeddings` table (doc_id = vec_id) — the only
    * dedup family that sees paraphrases sharing no n-gram.
    */
  case object EmbedDedup extends PairDedup

  /** @param minQuality  keep docs with qualityScore ≥ this (NULL text drops)
    * @param dedup       dedup mode (see the case objects). The CC modes
    *                    checkpoint per the `spark.graft.checkpoint.dir`
    *                    session conf, like the registry queries (see
    *                    DedupClustering.connectedComponents).
    * @param sampleRates per-language mixture down-sampling rates applied to
    *                    the PREDICTED language (lang_pred) after the quality
    *                    filter — deterministic salted-md5 thresholding, the
    *                    q73 sampler ([[graft.queries.TextQueries.mixtureSample]]).
    *                    Sampling runs LAST so dropping a doc can never
    *                    change which doc a dedup cluster elects as its
    *                    canonical. Empty map = keep everything.
    * @param gopherFilter apply the complete Gopher table-A1 filter
    *                    (q70 ∧ q71 ∧ q74, one narrow pass —
    *                    [[graft.queries.TextQueries.gopherFilterAll]])
    *                    after decontamination and BEFORE dedup, mirroring
    *                    the Gopher pipeline order (filter, then dedup).
    * @param sourcePriorities when non-empty (and dedup = NeardupDedup),
    *                    each near-dup cluster's canonical survivor is
    *                    elected by source priority (lowest wins, doc_id
    *                    tie-break) instead of minimum doc_id — keep the
    *                    curated copy, drop the crawled ones (the q76
    *                    rule, [[graft.queries.TextQueries.priorityLosersOf]]).
    *                    Docs must carry a `source` column.
    * @param qualitySample keep each quality-filtered doc with probability
    *                    equal to its quality score (the q78 soft filter,
    *                    FineWeb-Edu/DCLM style) — deterministic salted-md5
    *                    thresholding on a stream independent of
    *                    `sampleRates`' language sampler; set
    *                    minQuality = 0 to use it as the ONLY quality gate.
    * @param piiRedact   scrub PII (emails → IPv4 → phone-format, the q79
    *                    chain, [[graft.queries.TextQueries.piiRedactText]])
    *                    from `text` FIRST — before decontamination, filters,
    *                    dedup, and scoring — so every downstream tokenizer
    *                    and fingerprint sees the redacted text, the
    *                    standard scrub-then-process order.
    */
  case class Config(
      minQuality: Double = 0.5,
      dedup: DedupMode = NeardupDedup,
      sampleRates: Map[String, Double] = Map.empty,
      gopherFilter: Boolean = false,
      sourcePriorities: Map[String, Int] = Map.empty,
      qualitySample: Boolean = false,
      piiRedact: Boolean = false)

  /** Non-canonical doc_ids under the configured dedup mode. */
  private def losers(
      docs: DataFrame, emb: Option[DataFrame], cfg: Config): Option[DataFrame] =
    cfg.dedup match {
      case NoDedup => None
      case ExactDedup => Some(TextQueries.exactLosersOf(docs))
      case NeardupDedup if cfg.sourcePriorities.nonEmpty =>
        Some(TextQueries.priorityLosersOf(docs, cfg.sourcePriorities))
      case mode: PairDedup => Some(DedupClustering.losers(pairs(docs, emb, mode)))
    }

  /** The canonical (doc_a < doc_b) pair frame each CC mode clusters. */
  private def pairs(
      docs: DataFrame, emb: Option[DataFrame], mode: PairDedup): DataFrame =
    mode match {
      case NeardupDedup => TextQueries.neardupPairsOf(docs)
      case SimhashDedup => TextQueries.simhashPairsOf(docs)
      case WinnowDedup => TextQueries.winnowPairsOf(docs)
      case EmbedDedup =>
        val e = emb.getOrElse(throw new IllegalArgumentException(
          "EmbedDedup requires the corpus `embeddings` table"))
        // cluster only the SURVIVING corpus (`docs` here is the frame
        // after PII/decontamination/filters): clustering the raw table
        // could elect an already-removed doc (or one absent from this
        // corpus slice) as canonical, and the anti-join would then drop
        // the ENTIRE cluster instead of keeping the clean survivor — the
        // invariant every text mode gets by operating on the filtered
        // docs. vec_id = doc_id by the embeddings-table contract.
        VectorQueries.embedPairsOf(e.join(
          docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"))
    }

  /** The export frame: doc_id, n_tokens, quality, lang_pred
    * (+ codes_csv when `embeddings` is given — inner join on
    * doc_id = vec_id, so docs without an embedding drop).
    *
    * `evalDocs` (a benchmark table with doc_id + text) switches on
    * GPT-3-style decontamination — training docs sharing a word 13-gram
    * with the eval set are removed FIRST (q68/q69 semantics,
    * [[graft.queries.TextQueries.decontaminate]]), so dedup never elects
    * a contaminated doc as a cluster's canonical survivor.
    */
  def `export`( // backticked: `export` becomes a keyword in Scala 3
      docs: DataFrame,
      embeddings: Option[DataFrame] = None,
      cfg: Config = Config(),
      evalDocs: Option[DataFrame] = None,
      evalEmbeddings: Option[DataFrame] = None): DataFrame =
    stagedFrames(docs, embeddings, cfg, evalDocs, evalEmbeddings).last._2

  /** The export composition as an ordered (stage name, frame-after-stage)
    * list — ONE definition shared by [[export]] (which takes the last
    * frame) and [[stageWaterfall]] (which counts each), so observability
    * can never drift from the pipeline it observes. Only configured
    * stages appear.
    */
  private def stagedFrames(
      docs: DataFrame,
      embeddings: Option[DataFrame],
      cfg: Config,
      evalDocs: Option[DataFrame],
      evalEmbeddings: Option[DataFrame]): Seq[(String, DataFrame)] = {
    val b = Seq.newBuilder[(String, DataFrame)]
    b += ("input" -> docs)
    val scrubbed =
      if (cfg.piiRedact) TextQueries.piiRedactText(docs) else docs
    if (cfg.piiRedact) b += ("pii_redact" -> scrubbed)
    val ngramClean = evalDocs match {
      case Some(ev) => TextQueries.decontaminate(scrubbed, ev)
      case None     => scrubbed
    }
    if (evalDocs.nonEmpty) b += ("ngram_decontam" -> ngramClean)
    // embedding-space decontamination (the q85 semantics): catches the
    // paraphrased benchmark leakage the 13-gram pass can't see. Needs the
    // corpus embedding table (doc_id = vec_id); docs without an embedding
    // are not refusable on this signal and pass through. Runs with the
    // other decontamination, BEFORE filters and dedup, so a contaminated
    // doc can never be elected a cluster canonical.
    val decontaminated = (evalEmbeddings, embeddings) match {
      case (Some(evalEmb), Some(emb)) =>
        ngramClean.join(
          VectorQueries.embedContaminatedIdsAgainst(emb, evalEmb)
            .withColumnRenamed("vec_id", "doc_id"),
          Seq("doc_id"), "left_anti")
      case (Some(_), None) => throw new IllegalArgumentException(
        "evalEmbeddings requires the corpus `embeddings` table")
      case _ => ngramClean
    }
    if (evalEmbeddings.nonEmpty) b += ("embed_decontam" -> decontaminated)
    val clean =
      if (cfg.gopherFilter) TextQueries.gopherFilterAll(decontaminated)
      else decontaminated
    if (cfg.gopherFilter) b += ("gopher_filter" -> clean)
    val losersOpt = losers(clean, embeddings, cfg)
    // the dedup stage frame for the waterfall keeps its exact definition
    // (survivors with text); the EXPORT chain below anti-joins the narrow
    // scored frame instead — same doc_id set either way
    if (cfg.dedup != NoDedup) b += ("dedup" ->
      losersOpt.fold(clean)(l => clean.join(l, Seq("doc_id"), "left_anti")))
    // staged: the gate reads the quality column, computed once per row.
    // Round 16 (guide §2.3, project early): score and gate BEFORE the
    // dedup anti-join, not after — scoring is per-row and the anti-join
    // is an equi-join on doc_id, so gate∘antijoin ≡ antijoin∘gate row for
    // row, but scored-first keeps the heavy kernel on the scan's fanned
    // partitions and the join exchanges carry (doc_id + three scalars)
    // instead of full text. The round-15 shape evaluated the kernel in
    // the post-join stage, which AQE's small-partition coalescing had
    // legitimately shrunk to ONE task at bench scale — the whole corpus
    // scored on one core (0.7 s of the slowest key's wall).
    val scored = RelationalOps.stage(TextQueries.scoreDocs(clean))
      .filter(col("quality") >= cfg.minQuality)
    val kept = losersOpt.fold(scored)(l =>
      scored.join(l, Seq("doc_id"), "left_anti"))
    b += ("quality_gate" -> kept)
    // soft quality sampling composes with (or replaces, via minQuality=0)
    // the hard threshold; its ':qs' hash stream is independent of the
    // language sampler's ':mix' stream, so the two decisions never
    // correlate
    val soft =
      if (!cfg.qualitySample) kept
      else TextQueries.qualitySample(kept).drop("sample_key")
    if (cfg.qualitySample) b += ("quality_sample" -> soft)
    val sampled =
      if (cfg.sampleRates.isEmpty) soft
      else TextQueries.mixtureSample(soft, cfg.sampleRates, langCol = "lang_pred")
        .drop("sample_key")
    if (cfg.sampleRates.nonEmpty) b += ("mixture_sample" -> sampled)
    embeddings.foreach { emb =>
      b += ("codes_join" ->
        sampled.join(VectorQueries.codesCsvByDocId(emb), Seq("doc_id")))
    }
    b.result()
  }

  /** Stage-by-stage doc-count waterfall of the configured export: one row
    * per active stage, in pipeline order — where the corpus shrinks, and
    * by how much. An observability/audit helper: each stage's count
    * re-executes its prefix (cache `docs` for repeated audits); the
    * counts are actions, so this is NOT for the hot path — it answers
    * "why did my corpus halve" once, when curating.
    */
  def stageWaterfall(
      docs: DataFrame,
      embeddings: Option[DataFrame] = None,
      cfg: Config = Config(),
      evalDocs: Option[DataFrame] = None,
      evalEmbeddings: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val frames = stagedFrames(docs, embeddings, cfg, evalDocs, evalEmbeddings)
    frames.zipWithIndex
      .map { case ((stage, df), i) => (i.toLong, stage, df.count()) }
      .toDF("stage_idx", "stage", "n_docs")
  }

  /** Composition stats of a scored frame (needs lang_pred + n_tokens; the
    * q62 shape): per (lang, 50-token band) doc/token counts — integer
    * aggregates only.
    */
  def stats(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("lang_pred"),
        floor(col("n_tokens") / lit(50)).cast("long").as("len_band"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))

  /** Write the artifact + its stats sidecar. `partitionByLang` switches the
    * parquet layout to hive-partitioning on lang_pred — the layout a
    * per-language training consumer prunes on (mirrors runEtl's
    * partitionByWeek option). `exportFormat = "jsonl"` emits the artifact
    * as gzipped JSONL instead of parquet — the interchange format training
    * stacks ingest directly (stats sidecar stays parquet; the shuffled-
    * shard layout is parquet-only, its consumers are Spark-side).
    */
  def writeExport(
      docs: DataFrame,
      embeddings: Option[DataFrame],
      outDir: String,
      cfg: Config = Config(),
      partitionByLang: Boolean = false,
      shuffledShardFiles: Option[Int] = None,
      exportFormat: String = "parquet",
      evalDocs: Option[DataFrame] = None,
      evalEmbeddings: Option[DataFrame] = None): DataFrame = {
    require(!(partitionByLang && shuffledShardFiles.nonEmpty),
      "partitionByLang and shuffledShardFiles are alternative layouts")
    require(Set("parquet", "jsonl")(exportFormat),
      s"exportFormat must be parquet or jsonl, got $exportFormat")
    require(!(shuffledShardFiles.nonEmpty && exportFormat == "jsonl"),
      "the shuffled-shard layout is parquet-only")
    // same staged pipeline as export — the decontamination stages must be
    // reachable from the artifact-writing entry point too, or a caller
    // wanting a decontaminated on-disk corpus has to rebuild the
    // cache/dual-sink fan-out by hand
    val exported =
      export(docs, embeddings, cfg, evalDocs, evalEmbeddings)
        .cache() // fans out to 2 sinks
    try {
      shuffledShardFiles match {
        // the q86 layout: deterministic shuffle order + shard dirs — what a
        // data-parallel training run reads (shard=K/, key-sorted files)
        case Some(nf) =>
          graft.sources.ShuffledShards.writeShuffled(
            exported
              .withColumn("shuffle_key", TextQueries.shuffleKeyCol)
              .withColumn("shard", TextQueries.shardOfKey(col("shuffle_key"))),
            s"$outDir/export", numFiles = nf)
        case None =>
          val writer = exported.write.mode(SaveMode.Overwrite)
          val laidOut =
            if (partitionByLang) writer.partitionBy("lang_pred") else writer
          exportFormat match {
            case "jsonl" =>
              laidOut.option("compression", "gzip").json(s"$outDir/export")
            case _ => laidOut.parquet(s"$outDir/export")
          }
      }
      stats(exported).write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
    } finally exported.unpersist() // don't pin executor memory past the call;
    // a caller that reads the returned frame recomputes from the sinks' plan
    exported
  }

  /** Leakage-safe train/val/test assignment for a corpus (doc_id, group_id,
    * split_key, split — the q80 semantics,
    * [[graft.queries.TextQueries.splitAssignOf]]): split hashed from the
    * near-dup cluster id so no near-duplicate ever straddles the
    * train/eval boundary. Join the result on doc_id to route an export's
    * rows.
    */
  def assignSplits(
      docs: DataFrame,
      trainFrac: Double = TextQueries.splitTrainFrac,
      valFrac: Double = TextQueries.splitValFrac): DataFrame =
    TextQueries.splitAssignOf(docs, trainFrac, valFrac)
}

package graft

import graft.queries.TextQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-plan assertions: the plans we ship are the plans we designed —
  * filters reach the parquet scan, scans are column-pruned, small dims
  * broadcast, global top-k avoids a full sort, hot paths stay inside
  * WholeStageCodegen. These are the properties that decide whether a query
  * survives a 100×-1000× scale-up, checked at the plan level where they're
  * visible regardless of data size.
  */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String, mode: String = "formatted"): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString(mode))
  }

  test("q05: status filter is pushed to the parquet scan") {
    val p = plan("q05_filter_group")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"), p)
  }

  test("q02: scan is pruned to the two referenced columns") {
    val p = plan("q02_week_agg")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_shipdate:timestamp_ntz>"), p)
  }

  test("q04: both dimension joins broadcast (no shuffle on dims)") {
    val p = plan("q04_broadcast_join")
    assert(raw"\(\d+\) BroadcastHashJoin".r.findAllIn(p).size === 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q06: global top-k plans as TakeOrderedAndProject, not Sort+Limit") {
    val p = plan("q06_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    // a regressed Sort+Limit needs a range-partitioning exchange for the
    // global sort; TakeOrderedAndProject never does. (No plan node prints
    // as "GlobalSort" — the old assert could never fire.)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q10: fact-fact join has no cartesian product or nested loop") {
    val p = plan("q10_join_agg")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q01: aggregation runs inside WholeStageCodegen with partial agg") {
    val c = plan("q01_cond_agg", "codegen")
    assert(c.contains("WholeStageCodegen subtrees"), c.take(200))
    val p = plan("q01_cond_agg", "simple")
    // partial (map-side) + final aggregate around one exchange
    assert(p.contains("partial_sum"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q11/q12: semi and anti joins plan as real semi/anti joins") {
    assert(plan("q11_semi_join").contains("LeftSemi"), plan("q11_semi_join"))
    assert(plan("q12_anti_join").contains("LeftAnti"), plan("q12_anti_join"))
  }

  test("q35: LSH-composed near-dup has no cartesian/nested-loop stage") {
    val p = plan("q35_embed_neardup", "simple")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q68: eval-gram join broadcasts — the corpus side never shuffles for it") {
    val p = plan("q68_decontam_hits", "simple")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q52: vocab cut plans as TakeOrdered over the aggregated counts") {
    val p = plan("q52_vocab", "simple")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q53: packing window is shard-partitioned — no single-partition sort") {
    val p = plan("q53_pack_bins", "simple")
    assert(p.contains("hashpartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q54: dictionary join broadcasts the vocab side") {
    val p = plan("q54_dict_encode", "simple")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q55: int8 quantization is fully narrow — zero exchanges") {
    val p = plan("q55_quantize_int8", "simple")
    assert(!p.contains("Exchange"), p)
  }

  test("q29: centroid scale path — whole-vector partial agg, no collect_list") {
    val p = plan("q29_centroid", "simple")
    assert(!p.contains("collect_list"), p)
    // one shuffle: the per-label Summarizer aggregate (partial + final);
    // the posexplode runs over the ≤|labels| aggregated rows after it
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q58: dedup apply prunes with a real anti-join, no row duplication") {
    val p = plan("q58_dedup_apply", "simple")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q61: export composes anti-join dedup + equi-join, no cartesian") {
    val p = plan("q61_training_export", "simple")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q71/q73/q74: Gopher quality, mixture sampling, extended repetition stay narrow — only the adaptive scan fan-out exchanges") {
    // q71/q74 adopt Fan.out: at the test SF the scan is one row group, so
    // exactly ONE hashpartitioning(doc_id) exchange fans the kernel stage
    // out to the cores (identity at real scale); nothing else may shuffle
    for (q <- Seq("q71_gopher_quality", "q74_gopher_repetition_ext")) {
      val p = plan(q, "simple")
      assert("Exchange".r.findAllIn(p).size === 1, p)
      assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size === 1, p)
    }
    // q73 keeps the raw zero-exchange scan (sub-0.1 s narrow sampler)
    assert(!plan("q73_mixture_sample", "simple").contains("Exchange"))
  }

  test("q72: duplicated passages compute the gram table once — no double corpus scan") {
    val df: DataFrame = SparkEntry.queries("q72_dup_passages")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // perDoc is localCheckpoint-materialized: both its consumers (the
    // doc-frequency aggregate and the join-back) read the checkpoint, so
    // the corpus scan + gram explode + (doc_id, h) shuffle run exactly
    // once — the downstream plan must NOT re-scan parquet
    assert(!p.contains("FileScan parquet"), p)
    // remaining shuffles: h doc-frequency, join alignment, per-doc regroup
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("q77: chunk dedup reads the checkpointed chunk table — no re-chunking, no cartesian") {
    val df: DataFrame = SparkEntry.queries("q77_chunk_dedup_apply")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the chunk table is localCheckpoint-materialized; its three consumers
    // (election, join-back, totals) must not re-run the corpus chunking —
    // the only parquet scan left is the norm join for reassembly
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p)
  }

  test("q85: embedding decontamination — anti-join prune, no cartesian, cap table broadcasts") {
    val p = plan("q85_embed_decontam", "simple")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the ≤ nTables·2^nBits hot-bucket cap table rides a broadcast join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q86: shuffle-shard assignment is fully narrow — zero exchanges") {
    val p = plan("q86_shuffle_shard", "simple")
    assert(!p.contains("Exchange"), p)
  }

  test("q87: budget cutoff broadcasts; the only unpartitioned window is over the band table") {
    val p = plan("q87_token_budget", "simple")
    // the ≤10001-row band decision table rides a broadcast join back onto
    // the corpus — the corpus itself never sorts globally
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly one single-partition exchange: the band-table window's (the
    // corpus path is hash-partitioned aggregation + narrow filter)
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1, p)
  }

  test("q88: candidate marking is a broadcast join; recount folds to ≤k+1 buckets") {
    val p = plan("q88_heavy_hitters", "simple")
    // the token stream is broadcast-marked against the sketch candidates
    // and aggregated by the MARKED key (non-candidates fold into one NULL
    // bucket, which also yields n_total in the same pass — round 15) — the
    // full-vocab shuffle never happens, and no token row outlives the
    // partial aggregation
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the candidate-count branch: isnotnull(cterm) pushes through the
    // when(), turning ITS marker join inner (candidate rows only); the
    // total branch keeps the LeftOuter join so non-candidates fold into
    // the NULL bucket and the same pass yields n_total
    assert(p.contains("LeftOuter"), p)
  }

  test("q89: scoring against the collected weight table is one narrow projection") {
    // the ≤256-row weight model is trained at construction and embedded as
    // an array literal — the registered plan must be join-free, with the
    // null-text filter pushed THROUGH the adaptive fan-out exchange into
    // the parquet scan; the only exchange allowed is Fan.out's
    // hashpartitioning(doc_id) (identity at real scale)
    val p = plan("q89_importance_weight", "simple")
    assert(!p.contains("Join"), p)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    val f = plan("q89_importance_weight")
    assert(f.contains("PushedFilters: [IsNotNull(text)]"), f)
  }

  test("q91: funnel is ONE exchange end-to-end; step filter reaches the scan") {
    val p = plan("q91_funnel", "simple")
    // the per-user aggregate reuses the window's hash partitioning — the
    // cascade + final rollup share a single shuffle on user_id
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // the three-step isin prunes non-funnel events at the parquet scan
    val f = plan("q91_funnel")
    assert(f.contains("In(event_type"), f)
  }

  test("q92: cohort matrix — user window + small aggregate, two shuffles") {
    val p = plan("q92_cohort_retention", "simple")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q93: stratified-k thresholds and shortfall groups ride broadcasts, never a corpus sort") {
    val p = plan("q93_stratified_k", "simple")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** Copies of a kernel in a physical plan, subqueries included. */
  private def kernelCount(plan: SparkPlan)(kernel: PartialFunction[Expression, Unit]): Int =
    Walk.collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect(kernel).size).sum
    }.sum

  private def kernelCount(df: DataFrame)(kernel: PartialFunction[Expression, Unit]): Int =
    kernelCount(df.queryExecution.executedPlan)(kernel)

  private def fullLineage[T](body: => T): T = {
    spark.conf.set("spark.graft.materialize.skip", "true")
    try body finally spark.conf.unset("spark.graft.materialize.skip")
  }

  private val gramRunStats: PartialFunction[Expression, Unit] =
    { case _: graft.functions.GramRunStats => }
  private val winnow: PartialFunction[Expression, Unit] =
    { case _: graft.functions.WinnowFingerprint => }
  // the q19 quality chain's punctuation count (TextOps.punctCount), which
  // the optimizer rewrites to size(regexp_extract_all(..., pattern, 0))
  private val qualityChain: PartialFunction[Expression, Unit] = {
    case e if e.prettyName == "regexp_extract_all" &&
      e.children(1) == Literal("[^a-z0-9\\s]") =>
  }

  // Stage-barrier adopters: copies of each heavy kernel in the full-lineage
  // executed plan. A barrier that stops holding lets a filter re-derive the
  // kernel below the staging projection, which raises the count.
  test("q75: the Gopher verdict reads staged gram stats, above the fan-out exchange") {
    for (q <- Seq("q75_gopher_apply", "q75b_gopher_apply_relaxed")) {
      val plan = fullLineage(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      // 21 copies with the verdict substituted into one Filter; the staged
      // projection holds one per gram size (9)
      assert(kernelCount(plan)(gramRunStats) <= 21, q)
      // unbarred, the verdict sinks through the fan-out into the scan stage
      val belowExchange = Walk.collectWithSubqueries(plan) {
        case e: Exchange => kernelCount(e.child)(gramRunStats)
      }.sum
      assert(belowExchange === 0, s"$q\n$plan")
    }
  }

  test("q65/q67: the winnow kernel runs once per lineage copy of the posting table") {
    // three copies: the posting table feeds the pair counts and both
    // n_rare joins (materialize checkpoints it once outside this sweep)
    assert(fullLineage(kernelCount(
      SparkEntry.queries("q65_winnow_overlap")(spark, sf))(winnow)) === 3)
    // q67's CC runs at construction; its pair frame is the kernel's plan
    assert(fullLineage(kernelCount(TextQueries.winnowPairsOf(
      Tables.documents(spark, sf)))(winnow)) === 3)
  }

  test("q61/q78: the quality gate and the sample threshold score each doc once") {
    for (q <- Seq("q61_training_export", "q78_quality_sample"))
      assert(fullLineage(kernelCount(SparkEntry.queries(q)(spark, sf))(qualityChain)) === 1, q)
  }

  test("trades clean+agg: single shuffle for the 4-key aggregate") {
    val raw   = graft.etl.TradesEtl.extract(spark, "/root/reference/trades (1) (2) (1).csv")
    val clean = graft.etl.TradesEtl.clean(raw)
    val agg   = graft.etl.Transform.weeklyAgg(graft.etl.Transform.withDerived(clean))
    val p = agg.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }
}

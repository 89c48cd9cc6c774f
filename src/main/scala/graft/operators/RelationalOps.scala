package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators beyond plain groupBy/join — each a
  * composition of Spark built-ins that keeps one shuffle and stays inside
  * WholeStageCodegen (no UDFs, no collect).
  */
object RelationalOps {

  /** Plan-reuse materialization point: `localCheckpoint` a subtree that
    * feeds multiple consumers (Catalyst does not reuse shared subtrees —
    * the q72 lesson). Session conf `spark.graft.materialize.skip=true`
    * turns it into the identity so plan audits see the FULL lineage —
    * checkpointing truncates the plan, which both hid the pre-checkpoint
    * subplan from the hazard sweep and made explain-only sweeps eagerly
    * execute a job (advisor round-6 finding). Only plan-REUSE checkpoints
    * route through here; algorithmic iteration checkpoints
    * ([[DedupClustering]]) must stay unconditional.
    */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.materialize.skip")
        .contains("true")) df
    else df.localCheckpoint()

  /** `df` behind a [[Stage]] barrier: filters written on the result stay
    * above `df`'s projections instead of re-deriving their expressions.
    * Needs a session built with `graft.GraftExtensions`.
    */
  def stage(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.wrapPlan(df)(Stage(_))

  /** Latest row per key by event time, deterministic under ties via
    * `tieBreaker`. Planned as a single shuffle on `keys` + partition-local
    * sort (window), no join. For the 2-column case `max_by(value, ts)` is
    * equivalent; the window form returns the whole row.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], ts: Column, tieBreaker: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ts.desc, tieBreaker.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** True top-k per group: shuffle on the group keys, per-partition sort,
    * rank filter. (Global top-k should instead be `orderBy().limit(k)` →
    * TakeOrderedAndProject.) The rank column is emitted as BIGINT — SQL
    * `row_number()` is bigint in other engines, so oracles compare clean.
    */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
      rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Aggregation-based per-group top-k over (group, id, score) rows, built
    * on the bounded-buffer [[graft.functions.TopKByValue]] Aggregator: each
    * map task keeps at most k rows PER GROUP before the shuffle, so the
    * exchange moves ≤ k·groups rows however large the candidate fan-in —
    * where [[topKPerGroup]]'s window first shuffles EVERY candidate row to
    * sort it. The trade-off: typed aggregation leaves whole-stage codegen
    * (object hash aggregate), so prefer the window at moderate fan-in and
    * this form when candidates-per-group ≫ k (e.g. ANN scoring against a
    * large probed set). Ordering contract matches topKPerGroup — score
    * desc, ties to the smaller id, rank emitted as BIGINT — with two
    * DOCUMENTED differences: group/id must be integral columns (they ride
    * the typed encoder as longs; a non-integral key fails fast here rather
    * than null-collapsing at runtime), and rows with a NULL group/id/score
    * or NaN score are DROPPED — NULL keys cannot ride the primitive
    * encoder (they previously crashed mid-job with an opaque
    * "Null value appeared in non-nullable field"), and the window form
    * ranks NaN FIRST under desc (Spark orders NaN above every double) —
    * which is almost never the wanted top-k. The NULL-score filter runs
    * AFTER the double cast, so a non-castable string score drops the row
    * like a NULL instead of crashing the encoder. Equivalence with the
    * window form on integral-keyed, non-NULL, NaN-free data is
    * spec-asserted.
    */
  def topKPerGroupAgg(
      df: DataFrame, groupCol: String, idCol: String, scoreCol: String,
      k: Int, rankCol: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    def requireIntegral(c: String): Unit = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"topKPerGroupAgg: $c must be integral, got $other")
    }
    requireIntegral(groupCol)
    requireIntegral(idCol)
    df.select(col(groupCol).cast("long"), col(idCol).cast("long"),
        col(scoreCol).try_cast("double").as(scoreCol))
      // filter AFTER the cast (try_cast: a failed cast is a null — under
      // ANSI a plain cast would throw — and the null drops here);
      // NaN is dropped inside the buffer
      .filter(col(groupCol).isNotNull && col(idCol).isNotNull &&
        col(scoreCol).isNotNull)
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._3, r._2))
      .agg(new graft.functions.TopKByValue(k).toColumn)
      .toDF(groupCol, "__topk")
      .select(col(groupCol),
        posexplode(col("__topk")).as(Seq("__pos", "__entry")))
      .select(col(groupCol),
        col(s"__entry._2").as(idCol),
        col(s"__entry._1").as(scoreCol),
        (col("__pos") + 1).cast("long").as(rankCol))
  }

  /** LSH-style in-bucket pair expansion, shared by the MinHash text path
    * (q22) and the sign-LSH embedding path (q35): group ids per bucket and
    * emit ordered in-bucket pairs with a nested HOF — ONE shuffle of
    * (bucket, id) rows, never a self-join of the underlying table. Output
    * ids satisfy `outA < outB` (sorted in-bucket) and are deduped across
    * buckets (a pair may collide in several bands/tables).
    *
    * `maxBucket` is the hot-bucket guard: pair emit is O(bucket²), so a
    * bucket larger than the cap (boilerplate content, zero-vector padding)
    * is SKIPPED — the standard stop-bucket treatment; its pairs are noise
    * and its cost is quadratic.
    */
  def inBucketPairs(
      buckets: DataFrame, bucketCols: Seq[String], idCol: String,
      outA: String, outB: String, maxBucket: Int): DataFrame = {
    val ids = col("ids")
    buckets
      .groupBy(bucketCols.map(col): _*)
      // array_distinct BEFORE the pair expansion: duplicate (bucket, id)
      // input rows would otherwise emit a SELF-pair (outA == outB), which
      // a<b consumers interpret as "doc is a near-dup of itself" and
      // delete the only copy
      .agg(sort_array(array_distinct(collect_list(col(idCol)))).as("ids"))
      .filter(size(ids) > 1 && size(ids) <= maxBucket)
      .select(explode(
        flatten(transform(sequence(lit(1), size(ids) - 1), i =>
          transform(slice(ids, i + 1, size(ids)), b =>
            struct(element_at(ids, i).as(outA), b.as(outB))))))
        .as("p"))
      .select(col(s"p.$outA"), col(s"p.$outB"))
      .distinct()
  }

  /** Gap-based sessionization: one shuffle on `userCol`, two window passes
    * over the same (user, ts) sort order — Spark reuses the sort. Emits the
    * input plus a per-user `session_id` (0-based).
    */
  def sessionize(events: DataFrame, userCol: String, ts: Column, tieBreaker: Column,
      gap: java.time.Duration): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(ts, tieBreaker)
    val prev = lag(ts, 1).over(w)
    // micros with saturation (durationUsSaturating), NOT toMillis*1000:
    // that truncated sub-ms gap components (disagreeing with the streaming
    // twin's true gapMicros) and wrapped negative for ~292-year gaps
    val isNew = when(
      prev.isNull || (unix_micros(ts) - unix_micros(prev)) > durationUsSaturating(gap),
      1L).otherwise(0L)
    events
      .withColumn("__new_session", isNew)
      .withColumn("session_id",
        sum(col("__new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .drop("__new_session")
  }

  /** Salted equi-join for extreme single-key skew that AQE's skew-join
    * splitting can't fix (AQE is the first line of defense — reach for
    * this only when one key dominates a whole executor). The large side
    * is salted deterministically from `saltFrom` (any high-cardinality
    * column); the small side is replicated `buckets` times, so the hot
    * key spreads over `buckets` reducers.
    */
  def saltedEquiJoin(
      large: DataFrame, small: DataFrame, key: String,
      saltFrom: Column, buckets: Int): DataFrame = {
    val salted   = large.withColumn("__salt", pmod(hash(saltFrom), lit(buckets)))
    val expanded = small.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(expanded, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase (salted) sum/count aggregation for skewed group keys:
    * partial per (key, salt), then final per key. Map-side combine already
    * bounds traffic for algebraic aggregates; the extra phase spreads the
    * REDUCE of a hot key over `buckets` tasks.
    */
  def saltedSumAgg(
      df: DataFrame, keys: Seq[String], valueCol: String,
      saltFrom: Column, buckets: Int): DataFrame = {
    val kc = keys.map(col)
    df.withColumn("__salt", pmod(hash(saltFrom), lit(buckets)))
      .groupBy(kc :+ col("__salt"): _*)
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(kc: _*)
      .agg(sum("__psum").as(s"${valueCol}_sum"), sum("__pcnt").as("cnt"))
  }

  /** As-of join specialized to event streams: for every row of `ofType`,
    * the most recent STRICTLY-earlier timestamp among rows of `fromType`
    * with the same key (`allow_exact_matches=False` in pandas-merge_asof
    * terms — same strictness as [[funnelStages]]). Implemented as a RANGE
    * frame over the micros order key, `[unbounded, -1]`: the frame boundary
    * is by VALUE, so a fromType row sharing this row's timestamp is
    * excluded no matter how any tie-breaker orders it — a ROWS frame would
    * let the tie-break silently decide whether a tie counts. Still one
    * window pass (single shuffle on the key, no row explosion) instead of
    * a range join — the shape that survives 100× scale-up. `max` (not
    * `last`) makes the result order-independent within the frame.
    */
  def lastEventBefore(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, ofType: String, fromType: String, outCol: String): DataFrame = {
    val w = Window
      .partitionBy(keyCol)
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(Window.unboundedPreceding, -1)
    events
      .filter(col(typeCol).isin(ofType, fromType))
      .withColumn(outCol,
        max(when(col(typeCol) === fromType, col(tsCol))).over(w))
      .filter(col(typeCol) === ofType)
  }

  /** Ordered funnel: per key, the earliest timestamp of each step such that
    * step i happens STRICTLY after the chosen (earliest-qualifying) step
    * i−1 — the product-analytics "view → click → purchase" conversion
    * operator. Computed as a cascade of running conditional minima over ONE
    * (key, ts) sort: run_i at a row is the earliest step-i timestamp that
    * itself qualified, so a step-(i+1) row qualifies iff its ts is strictly
    * greater. No self-joins (the naive formulation joins the event table
    * once per step) and no per-key collect: a single shuffle on the key,
    * and the per-key aggregate on top reuses the window's hash
    * partitioning, so the whole funnel is one exchange end-to-end
    * (plan-asserted in FunnelSpec). Equal timestamps do NOT qualify
    * (strict ordering; the deterministic tie-break only orders the sort,
    * it never promotes a tie into a conversion).
    *
    * Returns one row per key: (key, <step>_ts ... ) with NULL from the
    * first unreached step onward.
    */
  def funnelStages(events: DataFrame, keyCol: String, ts: Column,
      tieBreaker: Column, typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelStages: steps must be non-empty")
    require(steps.distinct.size == steps.size,
      s"funnelStages: duplicate step names in $steps (output columns collide)")
    val w = Window.partitionBy(keyCol).orderBy(ts, tieBreaker)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // qualifies(i) — this row is a step-i event occurring strictly after
    // the running earliest qualifying step-(i-1) timestamp
    val base = events.filter(col(typeCol).isin(steps.map(s => s: Any): _*))
    val (withRuns, quals) =
      steps.zipWithIndex.foldLeft((base, Vector.empty[Column])) {
        case ((df, qs), (step, i)) =>
          val qual =
            if (i == 0) col(typeCol) === step
            else col(typeCol) === step &&
              col(s"__run_${i - 1}").isNotNull && ts > col(s"__run_${i - 1}")
          // the running min must be over the QUALIFYING rows of this step,
          // so later steps chain off a timestamp that itself converted
          (df.withColumn(s"__run_$i", min(when(qual, ts)).over(w)),
            qs :+ qual)
      }
    val aggCols = steps.indices.map(i =>
      min(when(quals(i), ts)).as(s"${steps(i)}_ts"))
    withRuns.groupBy(keyCol).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Windowed funnel (conversion-window semantics, the q91 cascade's
    * product-analytics sibling): step i qualifies iff it happens strictly
    * after AND within `window` of the MOST RECENT qualifying step-(i−1)
    * event — so a user who re-views later can still convert off the fresh
    * view even when the first view expired. Contrast [[funnelStages]],
    * which chains each step off the EARLIEST qualifying predecessor with
    * no horizon. Implemented as running conditional MAXIMA over the same
    * single (key, ts) sort — one shuffle, and the per-key rollup reuses
    * the window partitioning. Emits the earliest QUALIFYING timestamp per
    * step (NULL from the first unreached step onward).
    */
  /** Duration → whole microseconds. Micros, not `toMillis*1000`, so
    * sub-millisecond components survive (they must agree with the
    * micros-precision qualifying predicates and their oracle replays);
    * SATURATING at `Long.MaxValue` rather than `toNanos`'s
    * ArithmeticException, so an effectively-unbounded window (≥ ~292 years,
    * where nanos overflow Long) degrades to "no horizon" instead of
    * killing the query.
    */
  private[graft] def durationUsSaturating(d: java.time.Duration): Long =
    try Math.addExact(Math.multiplyExact(d.getSeconds, 1000000L),
      d.getNano / 1000L)
    catch { case _: ArithmeticException =>
      if (d.isNegative) Long.MinValue else Long.MaxValue }

  def funnelStagesWindowed(events: DataFrame, keyCol: String, ts: Column,
      tieBreaker: Column, typeCol: String, steps: Seq[String],
      window: java.time.Duration): DataFrame = {
    require(steps.nonEmpty, "funnelStagesWindowed: steps must be non-empty")
    require(steps.distinct.size == steps.size,
      s"funnelStagesWindowed: duplicate step names in $steps")
    val horizonUs = durationUsSaturating(window)
    val w = Window.partitionBy(keyCol).orderBy(ts, tieBreaker)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events.filter(col(typeCol).isin(steps.map(s => s: Any): _*))
    val (withRuns, quals) =
      steps.zipWithIndex.foldLeft((base, Vector.empty[Column])) {
        case ((df, qs), (step, i)) =>
          val qual =
            if (i == 0) col(typeCol) === step
            else col(typeCol) === step &&
              col(s"__last_${i - 1}").isNotNull &&
              ts > col(s"__last_${i - 1}") &&
              unix_micros(ts) - unix_micros(col(s"__last_${i - 1}")) <= horizonUs
          // running LAST qualifying occurrence of this step — later steps
          // chain off the freshest predecessor, not the earliest
          (df.withColumn(s"__last_$i", max(when(qual, ts)).over(w)),
            qs :+ qual)
      }
    val aggCols = steps.indices.map(i =>
      min(when(quals(i), ts)).as(s"${steps(i)}_ts"))
    withRuns.groupBy(keyCol).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Cohort retention: assign each key to the period of its first event
    * (cohort), then count distinct active keys per (cohort, period-offset).
    * One window shuffle on the key (min-over-partition, no sort needed) and
    * one small aggregate; at extreme scale swap the exact distinct for
    * `approx_count_distinct` — the shape is otherwise unchanged.
    * Periods are epoch-aligned (`periodSeconds`, e.g. 604800 = weeks),
    * floor-divided via the pmod subtract so pre-1970 rows land in the
    * right period (same rule as q16).
    */
  def cohortRetention(events: DataFrame, keyCol: String, tsCol: String,
      periodSeconds: Long): DataFrame = {
    val p = periodSeconds
    def periodNum(c: String) =
      expr(s"(unix_seconds($c) - pmod(unix_seconds($c), $p)) div $p")
    events
      .withColumn("__first_ts",
        min(col(tsCol)).over(Window.partitionBy(keyCol)))
      .select(col(keyCol),
        (periodNum("__first_ts") * p).as("cohort_start"),
        (periodNum(tsCol) - periodNum("__first_ts")).as("period_offset"))
      .groupBy("cohort_start", "period_offset")
      .agg(countDistinct(col(keyCol)).as("n_active"))
  }

  /** Retention-RATE matrix from a [[cohortRetention]]-shaped matrix
    * (cohort_start, period_offset, n_active): each cell normalized by its
    * cohort's size (the offset-0 count). The size table is one row per
    * cohort — broadcast; the division is a single IEEE operation,
    * deterministic across engines. Shared by the batch q98 and the
    * streaming twin so both normalize identically.
    */
  def retentionRateFrom(matrix: DataFrame): DataFrame = {
    // the size table is a SELF-join of `matrix`: alias every output
    // (fresh exprIds) so the join resolves whatever plan backs the input
    // — with shared attribute ids (e.g. a memory-sink view, or q98 with
    // materialization skipped) an un-aliased key is a conflicting
    // reference
    val sizes = matrix.filter(col("period_offset") === 0L)
      .select(col("cohort_start").as("__size_cohort"),
        col("n_active").as("cohort_size"))
    matrix.join(broadcast(sizes), col("cohort_start") === col("__size_cohort"))
      .select(col("cohort_start"), col("period_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention_rate"))
  }

  /** Temporal densification (gap-fill): per key, the COMPLETE epoch-aligned
    * period grid from its first to its last event, with explicit zero-count
    * rows for silent periods and a forward-filled last observed aggregate —
    * the resample/ffill every time-series consumer needs before charting
    * or feature-izing.
    *
    * Scale shape: the grid is exploded from the per-key (min, max) span
    * AGGREGATE — a tiny table — never from the raw events; the join back
    * onto per-period aggregates is (key, period)-partitioned; the
    * forward-fill window partitions by key (never global). Output size is
    * Σ per-key span periods — bounded by keys × horizon, the size any
    * dense time-series consumer pays by definition.
    */
  def gapFillPeriods(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, periodSeconds: Long): DataFrame = {
    val p = periodSeconds
    // materialize: BOTH consumers (the span aggregate feeding the grid
    // and the join back) would otherwise re-run the corpus scan + period
    // aggregate; the periods table (keys × periods) is tiny relative to
    // events, so checkpointing it makes the corpus pass run once
    val weekly = materialize(events
      .groupBy(col(keyCol),
        expr(s"(unix_seconds($tsCol) - pmod(unix_seconds($tsCol), $p)) div $p")
          .as("__w"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col(valueCol)), 2).as("value_sum")))
    val grid = weekly
      .groupBy(keyCol).agg(min("__w").as("__w0"), max("__w").as("__w1"))
      .select(col(keyCol), explode(sequence(col("__w0"), col("__w1"))).as("__w"))
    val ffill = Window.partitionBy(keyCol).orderBy(col("__w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(weekly, Seq(keyCol, "__w"), "left")
      .select(col(keyCol), (col("__w") * p).as("win_start"),
        coalesce(col("cnt"), lit(0L)).as("cnt"), col("value_sum"),
        last(col("value_sum"), ignoreNulls = true).over(ffill).as("filled_sum"))
  }

  /** One-pass per-column data-quality profile — the extraction-stage
    * monitoring summary the reference's own scaling notes ask for
    * (README.md §3: per-field types, null fractions, value ranges):
    * (col_name, n_rows, n_nulls, n_distinct, min_num, max_num), where
    * min/max are surfaced for numeric and timestamp columns (as unix
    * micros) and NULL otherwise.
    *
    * Scale shape (round 16): the null/min/max statistics are ONE aggregate
    * over the corpus; each exact distinct count is its own SINGLE-distinct
    * aggregate branch, crossed onto the stats row (every branch is one
    * row). The old single-aggregate form planned the multi-column exact
    * distinct as an Expand×(#cols+1) — every corpus row replicated once
    * per profiled column into a partial aggregate keyed on (gid, value) of
    * ALL columns. Split, each distinct branch scans exactly one column
    * (columnar pruning: #cols single-column scans read the same total
    * bytes as one full scan), plans the cheap two-phase single-distinct
    * shape with no Expand, and the independent branches schedule
    * concurrently. Session conf
    * `spark.graft.profile.approxDistinct=true` swaps `count_distinct` for
    * `approx_count_distinct` (HLL++, default 5% rsd): everything folds
    * back into the ONE stats aggregate — the right trade on very wide
    * tables. Exact stays the default — the registered q95 (and its
    * oracle) use it.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val approxDistinct = df.sparkSession.conf
      .getOption("spark.graft.profile.approxDistinct").contains("true")
    import org.apache.spark.sql.types._
    // fail fast with a readable message — an empty list dies on star-
    // expanding array<null>, a duplicate on an ambiguous __nulls_<c> ref
    require(cols.nonEmpty, "profileColumns: cols must be non-empty")
    require(cols.distinct.size == cols.size,
      s"profileColumns: duplicate column names in $cols")
    def numeric(c: String): Option[Column] = df.schema(c).dataType match {
      case _: NumericType => Some(col(c).cast("double"))
      case TimestampType | TimestampNTZType => Some(unix_micros(col(c)).cast("double"))
      case _ => None
    }
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
        (if (approxDistinct)
          Seq(approx_count_distinct(col(c)).as(s"__dist_$c")) else Nil) ++
        numeric(c).toSeq.flatMap(n =>
          Seq(min(n).as(s"__min_$c"), max(n).as(s"__max_$c")))
    }
    val base = df.agg(aggs.head, aggs.tail: _*)
    // exact path: one single-distinct aggregate per column (1-row each),
    // crossed onto the 1-row stats aggregate — same values as the old
    // fused form (countDistinct over the same column ignores NULLs either
    // way), without the Expand
    val one =
      if (approxDistinct) base
      else cols.foldLeft(base) { (acc, c) =>
        acc.crossJoin(df.agg(countDistinct(col(c)).as(s"__dist_$c")))
      }
    val perCol = cols.map { c =>
      val (mn, mx) = numeric(c) match {
        case Some(_) => (col(s"__min_$c"), col(s"__max_$c"))
        case None    => (lit(null).cast("double"), lit(null).cast("double"))
      }
      struct(lit(c).as("col_name"), col("n_rows"),
        col(s"__nulls_$c").as("n_nulls"), col(s"__dist_$c").as("n_distinct"),
        mn.as("min_num"), mx.as("max_num"))
    }
    one.select(explode(array(perCol: _*)).as("p")).select(col("p.*"))
  }

  /** Exact deterministic k-per-group sample — eval-set construction
    * ("exactly k docs per language, reproducibly"). The selection rule is
    * pure: rank rows by `md5(id || salt)` within each group and keep the k
    * smallest, so any engine replays it bit-for-bit.
    *
    * The naive implementation is one `row_number` window partitioned by
    * the group — but with few groups (5 languages over a 100 TB corpus)
    * that sorts ~n/5 rows per partition: the giant-partition anti-pattern.
    * Instead, two narrow passes (the q87 token-budget discipline):
    *   1. per-group counts (tiny aggregate), from which a per-group hash
    *      threshold `ceil(safety·k/n · 2^32)` is derived — broadcast back,
    *      so the corpus-side filter keeps ~safety·k rows per group;
    *   2. the window runs over that O(groups·k) survivor set only.
    * Exactness is BY CONSTRUCTION, not probability: groups whose survivor
    * count falls short of min(k, n) (Chernoff-tail rare at safety=4) are
    * re-selected through a full per-group window on just those groups,
    * and the union replaces their thresholded rows. With no shortfall the
    * fallback branch is empty and AQE's empty-relation propagation erases
    * its scan at runtime.
    *
    * Output: (group, id, rk) with rk ∈ [1, min(k, group size)].
    */
  def stratifiedExactK(df: DataFrame, groupCol: String, idCol: String,
      k: Int, salt: String, safety: Int = 4): DataFrame = {
    require(k > 0, "stratifiedExactK: k must be positive")
    val key = md5(concat(col(idCol).cast("string"), lit(salt)))
    val keyed = df.select(col(groupCol), col(idCol), key.as("__key"),
      // first 8 hex chars as an unsigned 32-bit value: the thresholdable
      // numeric twin of the lexicographic hex order
      conv(substring(key, 1, 8), 16, 10).cast("long").as("__k32"))
    // materialized: consumed by the survivor join AND the shortfall probe —
    // un-checkpointed, each consumer re-runs the corpus-side count
    val thresholds = materialize(
      keyed.groupBy(groupCol).agg(count(lit(1)).as("__n"))
        .select(col(groupCol), col("__n"),
          least(lit((1L << 32) - 1),
            ceil(lit(safety.toLong * k) * lit(4294967296.0) / col("__n"))
              .cast("long")).as("__thr")))
    val w = Window.partitionBy(groupCol).orderBy(col("__key"), col(idCol))
    // materialize: BOTH the ranked branch and the shortfall probe consume
    // the survivor set — without it Catalyst re-plans the corpus-side
    // projection + threshold join under each (the q72 lesson), turning the
    // advertised two corpus passes into three. Survivors are O(groups·k·
    // safety) rows — tiny relative to the corpus.
    val survivors = materialize(keyed
      .join(broadcast(thresholds.select(groupCol, "__thr")), Seq(groupCol))
      .filter(col("__k32") <= col("__thr")))
    val ranked = survivors
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
    // shortfall groups: fewer survivors than min(k, group size) — the
    // group sizes ride along on the (tiny) thresholds frame, no re-count.
    // Outer join FROM thresholds: a group with ZERO survivors is absent
    // from the survivor aggregate entirely, and must still be flagged
    // (caught by StratifiedExactKSpec's starved-threshold case).
    // explicit broadcast: both sides are per-group tiny, but they now read
    // from materialized LogicalRDDs whose unknown stats default to huge —
    // unhinted, Catalyst plans a SortMergeJoin here (PlanQualitySpec)
    val short = thresholds.select(groupCol, "__n")
      .join(broadcast(survivors.groupBy(groupCol).agg(count(lit(1)).as("__surv"))),
        Seq(groupCol), "left_outer")
      .filter(coalesce(col("__surv"), lit(0L)) < least(lit(k.toLong), col("__n")))
      .select(col(groupCol))
    val fallback = keyed
      .join(broadcast(short), Seq(groupCol), "left_semi")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
    ranked
      .join(broadcast(short), Seq(groupCol), "left_anti")
      .select(col(groupCol), col(idCol), col("rk"))
      .unionByName(fallback.select(col(groupCol), col(idCol), col("rk")))
  }
}

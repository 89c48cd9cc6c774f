package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup PAIRS (q22/q23) become duplicate
  * CLUSTERS via connected components, so each group keeps one canonical
  * document. Min-label propagation: every node's label is the smallest
  * doc_id reachable from it; iterate label = min(label, neighbors' labels)
  * to fixpoint. Iteration count is the graph diameter (tiny for dup
  * clusters, which are near-cliques — LSH emits most intra-cluster edges
  * directly).
  *
  * DELTA iteration: only a label that DECREASED last round can lower a
  * neighbor this round (an unchanged neighbor's value was already offered
  * the round it last changed, and at round 0 every node offers its label),
  * so each round joins the edge table against the CHANGED labels only —
  * not the full label table. Labels produced are identical round-for-round
  * to the dense recurrence, but the join's build side collapses
  * geometrically (measured on the 10× replication probe: changed counts
  * 67 → 166 → 11 → 0 over 270k pairs), and because the changed count is
  * known exactly when the round starts, the small side is broadcast
  * outright — the materialized edge blocks are SCANNED, never re-shuffled,
  * after round 0. At 100× (29.2M pairs, 58M mirrored edge rows) the dense
  * recurrence re-shuffled all 58M rows every round. Deltas wider than
  * `spark.graft.cc.broadcastRows` (default 1M — ~tens of MB hashed) fall
  * back to the dense shuffle join, so a billion-node round 0 on a real
  * cluster never tries to broadcast the world.
  *
  * SMALL-GRAPH FAST PATH: a graph whose exact (materialized) edge count
  * is under `spark.graft.cc.collectEdges` (default 2^20 canonical edges —
  * a ≤16 MB collect, the bounded-driver-state discipline of the codebook
  * collects) skips the loop entirely: union-find on the driver, labels
  * identical (union-by-min makes every root its component's minimum;
  * spec'd equal to the loop on random graphs). The per-round fixed cost
  * of the loop — join + aggregate + checkpoint + convergence count, ~3
  * jobs per diameter round — dwarfs the actual work at that size.
  */
object DedupClustering {

  private val BroadcastRowsConf = "spark.graft.cc.broadcastRows"
  private val DefaultBroadcastRows = 1L << 20
  private val CollectEdgesConf = "spark.graft.cc.collectEdges"
  private val DefaultCollectEdges = 1L << 20
  private val CheckpointDirConf = "spark.graft.checkpoint.dir"

  /** Driver-side union-find over the canonical (src<dst) edge list, used
    * by the small-graph fast path. Union attaches the larger root under
    * the smaller, so each tree's root is the minimum element of its set —
    * the same labels the distributed recurrence converges to (spec'd
    * equal on random graphs). Find is iterative (a pathological chain
    * must not overflow the stack before path compression kicks in).
    */
  private def driverUnionFind(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var x = x0
      while (parent.getOrElse(x, x) != x) { val nxt = parent(x); parent(x) = root; x = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => k -> find(k)).toArray
  }

  /** Non-canonical members of every duplicate cluster — THE loser set a
    * dedup apply anti-joins away: connected components over `pairs`, each
    * cluster keeping its minimum doc_id. Every dedup family (MinHash+LSH,
    * simhash, winnow, embedding) supplies only its pair frame and shares
    * this one clustering + election, so their apply semantics cannot
    * diverge.
    *
    * Contract on `pairs(doc_a, doc_b)`: `doc_a < doc_b` on every row, no
    * duplicate rows, no self-pairs — the canonical edge set, which lets
    * CC skip its re-canonicalization shuffle (see `pairsCanonical`). Every
    * in-repo pair family meets it by construction.
    */
  def losers(pairs: DataFrame): DataFrame =
    connectedComponents(pairs, pairsCanonical = true)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")

  /** pairs(doc_a, doc_b) → (doc_id, cluster_id) where cluster_id is the
    * minimum doc_id of the component. Only documents that appear in at
    * least one pair are returned (singletons are their own cluster by
    * definition and need no rows at scale).
    *
    * Iteration state MUST be checkpointed, not cached: iterative self-joins
    * grow the logical plan exponentially — caching keeps the lineage, and
    * analysis alone blows up after a few rounds. The session conf
    * `spark.graft.checkpoint.dir` picks the failure semantics, read here
    * and nowhere else, so every CC caller (registry queries, the training
    * pipeline) honors it and a cluster operator flips semantics without
    * code changes:
    *
    *   - unset (default): `localCheckpoint` — partitions pinned in
    *     executor-local storage. Fast (no FS round-trip), but a LOST
    *     EXECUTOR loses its blocks and fails the query, which must restart
    *     from scratch. Right for local mode and short interactive runs.
    *   - set to a dir: reliable `checkpoint()` to it (HDFS/S3 at cluster
    *     scale) — state survives executor loss; Spark recomputes downstream
    *     tasks from the checkpoint instead of failing the job. Right for
    *     long iterative runs on real clusters, at the cost of one
    *     write+read of the label table per iteration. Superseded iteration
    *     state is PRUNED as the loop advances (only the live label table,
    *     the edge table, and the in-flight iteration exist on the FS at any
    *     time — Spark itself only cleans checkpoints if
    *     `spark.cleaner.referenceTracking.cleanCheckpoints` is on, and then
    *     only at GC time); on return just the final label table's files
    *     remain. NOTE: sets the session's global checkpoint dir.
    *
    * @param pairsCanonical the caller GUARANTEES `pairs` is already the
    *   canonical edge set: `doc_a < doc_b` on every row, no duplicates, no
    *   self-pairs. Every in-repo pair family satisfies this by
    *   construction — [[RelationalOps.inBucketPairs]] emits sorted-struct
    *   `a < b` pairs deduped across buckets, the winnow overlap groups by
    *   (doc_a, doc_b) over strictly increasing posting-list positions, and
    *   the embedding candidates filter `vec_id < probe_id` then distinct —
    *   so the canonicalize-and-distinct pass here (a full shuffle of the
    *   pair set, round for round the same rows back out) is pure overhead:
    *   one whole exchange + dedup of the pair graph per CC query, at 100 TB
    *   the second-largest shuffle of the dedup pipeline. `false` (the safe
    *   default for arbitrary callers) keeps the normalization.
    */
  def connectedComponents(
      pairs: DataFrame, maxIters: Int = 20,
      pairsCanonical: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    val conf = spark.conf
    val checkpointDir = conf.getOption(CheckpointDirConf)
    val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    val fs = checkpointDir.map(dir =>
      new org.apache.hadoop.fs.Path(dir).getFileSystem(sc.hadoopConfiguration))

    // Reliable-mode checkpoint files live at <dir>/<app-uuid>/rdd-<id>;
    // snapshot-diff around each checkpoint() call attributes rdd dirs to
    // the DataFrame that created them so superseded state can be deleted.
    // The attribution assumes no OTHER thread checkpoints into the same
    // dir between the two snapshots — give concurrent CC runs distinct
    // checkpoint dirs (the session-global setCheckpointDir already makes
    // sharing one dir across concurrent jobs a bad idea).
    def rddDirs(): Set[org.apache.hadoop.fs.Path] =
      checkpointDir.zip(fs).map { case (dir, f) =>
        val base = new org.apache.hadoop.fs.Path(dir)
        if (!f.exists(base)) Set.empty[org.apache.hadoop.fs.Path]
        else f.listStatus(base).filter(_.isDirectory).flatMap(u =>
          f.listStatus(u.getPath)
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("rdd-"))
            .map(_.getPath)).toSet
      }.getOrElse(Set.empty)
    def delete(dirs: Set[org.apache.hadoop.fs.Path]): Unit =
      fs.foreach(f => dirs.foreach(p => f.delete(p, true)))

    // persist + the set of checkpoint dirs the call created (empty in
    // localCheckpoint mode, where executor block cleanup is reference-based)
    def persist(df: DataFrame): (DataFrame, Set[org.apache.hadoop.fs.Path]) =
      if (checkpointDir.isDefined) {
        val before = rddDirs()
        val out = df.checkpoint()
        (out, rddDirs() -- before)
      } else (df.localCheckpoint(), Set.empty)

    // Canonicalize (src<dst) and dedup BEFORE mirroring, not after: the
    // mirrored union is distinct by construction (the src<dst rows are
    // distinct and their swaps are all src>dst, so the two sides cannot
    // collide), which moves the dedup shuffle to HALF the row volume.
    // The pair graph is the scale bottleneck of LSH dedup — the 100×
    // replication probe (ScaleProbe) measured 29.2M verified pairs from
    // 500k docs, where the old post-union distinct() shuffled 58M rows to
    // dedup a set that was already unique. Self-pairs are dropped (a CC
    // self-edge is meaningless and would duplicate across the mirror).
    val canon =
      if (pairsCanonical)
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      else pairs.select(
          least(col("doc_a"), col("doc_b")).as("src"),
          greatest(col("doc_a"), col("doc_b")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    // Materialize the CANONICAL edges only (round 15): the loop derives
    // the mirrored table as a union over the materialized blocks (a narrow
    // re-read per round, no second checkpoint), and the fast path below
    // counts/collects canon directly — the round-14 shape checkpointed the
    // 2× mirrored union and then filtered it back down for the collect,
    // paying a double-size materialization job on every CC query.
    val (canonM, edgeDirs) = persist(canon)

    // Per-iteration observability, off by default: the iterative loop is
    // the cost center of every dedup-apply query, and "how many rounds,
    // how long each" is the first question at a new data scale. Gated on
    // session conf so production plans carry zero overhead.
    val debug = conf.getOption("spark.graft.cc.debug").contains("true")
    val broadcastRows = conf.getOption(BroadcastRowsConf)
      .map(_.toLong).getOrElse(DefaultBroadcastRows)
    // clamp below Int.MaxValue: a configured bound >= Int.MaxValue would
    // make limit() silently cap at Int.MaxValue rows and the truncated
    // probe could then PASS the <= collectEdges check — union-finding a
    // partial edge set as if complete (ADVICE round 15). Clamped, the probe
    // always fetches one row MORE than the bound it is compared against.
    val collectEdges = math.min(
      conf.getOption(CollectEdgesConf)
        .map(_.toLong).getOrElse(DefaultCollectEdges),
      Int.MaxValue.toLong - 1L)

    // SMALL-GRAPH FAST PATH: the canonical edge table is already
    // materialized, so its exact size is one cheap action away. A graph
    // under `spark.graft.cc.collectEdges` canonical edges (default 2^20 —
    // a ≤16 MB collect, the same bounded-driver-state discipline as the
    // codebook/centroid collects) is solved by union-find on the driver:
    // the iterative loop's per-round fixed cost (join + aggregate +
    // checkpoint + convergence count, ~3 jobs/round for diameter rounds)
    // dwarfs the actual work at this size. Labels are identical to the
    // distributed recurrence (union-by-min ⇒ every root is its component's
    // minimum; spec'd equal on random graphs and against the oracle).
    // Above the threshold the delta-iteration loop below is the path —
    // it is what the 100× replication probe exercises (29.2M pairs).
    // One bounded action instead of count() + collect() (round 15: every
    // CC query paid two driver jobs here where one suffices — the apply
    // family is job-latency-bound once the kernels are fanned out). The
    // limit caps the fetch at collectEdges+1 rows, so the driver holds at
    // most one row past the configured bound: a result LONGER than the cap
    // proves the graph is big (rows are discarded, the loop below runs);
    // within the cap it IS the edge set.
    val probe = canonM.limit(
      math.min(collectEdges + 1L, Int.MaxValue.toLong).toInt).collect()
    if (probe.length <= collectEdges) {
      val arr = driverUnionFind(
        probe.map(r => (r.getLong(0), r.getLong(1))))
      delete(edgeDirs)
      if (debug) System.err.println(
        s"[graft.cc] fast path: ${probe.length} edges, ${arr.length} nodes union-found on the driver")
      val rdd = spark.sparkContext
        .parallelize(arr.toSeq.map { case (d, c) =>
          org.apache.spark.sql.Row(d, c) },
          math.max(1, arr.length / (1 << 17)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(rdd, schema)
    }

    // mirrored edge view over the materialized canonical blocks — each
    // per-round scan re-reads the checkpoint, never the pair pipeline
    val edges = canonM.unionByName(
      canonM.select(col("dst").as("src"), col("src").as("dst")))

    var (labels, labelDirs) = persist(
      edges.groupBy(col("src").as("doc_id"))
        .agg(least(min(col("dst")), first(col("src"))).as("cluster_id")))

    // Round 0's delta is the whole label table: every node's initial label
    // is a fresh offer to its neighbors. The count is one cheap action over
    // the just-materialized partitions and buys the broadcast decision.
    var delta = labels
    var deltaRows = labels.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val t0 = if (debug) System.nanoTime() else 0L
      // smallest CHANGED neighbor label per node (unchanged neighbors were
      // incorporated the round they last changed — see scaladoc)
      val offers = delta.withColumnRenamed("doc_id", "dst")
      val viaNeighbors = edges
        .join(if (deltaRows <= broadcastRows) broadcast(offers) else offers, "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster_id")).as("n_label"))
      // carry old + new label through the checkpoint: the convergence probe
      // AND the next round's delta then filter the MATERIALIZED partitions
      // instead of re-joining (which would cost a shuffle join per round)
      val (next, nextDirs) = persist(
        labels.join(viaNeighbors, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster_id").as("old_id"),
            least(col("cluster_id"), coalesce(col("n_label"), col("cluster_id")))
              .as("cluster_id")))
      // labels only ever decrease, so "changed" is new < old
      delta = next.filter(col("cluster_id") < col("old_id"))
        .select("doc_id", "cluster_id")
      deltaRows = delta.count()
      delete(labelDirs) // next is materialized — the old labels are dead state
      labels = next.select("doc_id", "cluster_id")
      labelDirs = nextDirs
      converged = deltaRows == 0
      if (debug) System.err.println(
        f"[graft.cc] iter=$i changed=$deltaRows sec=${(System.nanoTime() - t0) / 1e9}%.3f")
      i += 1
    }
    if (converged) delete(edgeDirs) // the result references only labelDirs
    // returning unconverged labels would silently split one component into
    // several clusters — fail loudly instead (diameter exceeded maxIters)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters iterations — " +
        "increase maxIters (component diameter exceeds it)")
    labels
  }
}

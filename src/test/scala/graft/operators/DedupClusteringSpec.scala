package graft.operators

import graft.SparkSpec

class DedupClusteringSpec extends SparkSpec {

  /** Most tests here exist to exercise the DISTRIBUTED delta-iteration
    * loop, which the small-graph fast path (driver union-find under
    * `spark.graft.cc.collectEdges` canonical edges) would otherwise
    * absorb at these test sizes — so they run with the fast path off.
    * The fast-path tests at the bottom run with defaults and pin
    * equality between the two paths.
    */
  private def distributedOnly[A](f: => A): A = {
    spark.conf.set("spark.graft.cc.collectEdges", "0")
    try f finally spark.conf.unset("spark.graft.cc.collectEdges")
  }

  test("connected components merge transitively linked pairs") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L),
    ).toDF("doc_a", "doc_b")
    val cc = distributedOnly {
      DedupClustering.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
    }
    assert(cc === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("a long chain converges (diameter > 1 iteration)") {
    import spark.implicits._
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = distributedOnly {
      DedupClustering.connectedComponents(chain)
        .as[(Long, Long)].collect().toMap
    }
    assert(cc.values.toSet === Set(1L))
    assert(cc.size === 10)
  }

  // Adversarial topology: a 30-node path's diameter exceeds the default
  // iteration budget — the operator must FAIL LOUDLY, never return labels
  // that silently split one component into several clusters. (Forced onto
  // the distributed loop: the fast path has no iteration budget at all.)
  test("30-node chain: loud failure when maxIters < diameter, converges above") {
    import spark.implicits._
    val chain = (1L to 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    distributedOnly {
      val e = intercept[IllegalStateException] {
        DedupClustering.connectedComponents(chain, maxIters = 5)
      }
      assert(e.getMessage.contains("did not converge"))
      val cc = DedupClustering.connectedComponents(chain, maxIters = 40)
        .as[(Long, Long)].collect().toMap
      assert(cc.size === 30)
      assert(cc.values.toSet === Set(1L))
    }
  }

  // Star with the min label on a LEAF: the label must cross two hops
  // (leaf → hub → all other leaves), exercising propagation THROUGH a
  // high-degree node rather than from it.
  test("star graph with min label on a leaf labels every node via the hub") {
    import spark.implicits._
    val hub = 30L
    val star = (1L to 29L).map(leaf => (hub, leaf)).toDF("doc_a", "doc_b")
    val cc = distributedOnly {
      DedupClustering.connectedComponents(star)
        .as[(Long, Long)].collect().toMap
    }
    assert(cc.size === 30)
    assert(cc === (1L to 30L).map(_ -> 1L).toMap)
  }

  /** Reliable-checkpoint mode for the duration of `f`: CC reads the
    * `spark.graft.checkpoint.dir` session conf itself.
    */
  private def checkpointingTo[A](dir: String)(f: => A): A = {
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try f finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("reliable checkpointDir produces identical labels and writes state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = distributedOnly {
      checkpointingTo(dir) {
        DedupClustering.connectedComponents(pairs)
          .as[(Long, Long)].collect().toMap
      }
    }
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // reliable mode wrote RDD state, and superseded iteration state was
    // pruned: only the FINAL label table's checkpoint survives
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-"))
      .map[String](_.toString).toArray
    assert(rddDirs.length === 1, s"expected 1 surviving checkpoint, got: ${rddDirs.toSeq}")
  }

  // The fast path must also clean up after itself in reliable mode: the
  // edge table is checkpointed before the size gate, and the returned
  // labels reference none of it.
  test("fast path deletes the reliable edge checkpoint it no longer needs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-fast-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = checkpointingTo(dir) {
      DedupClustering.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
    }
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-"))
      .map[String](_.toString).toArray
    assert(rddDirs.isEmpty, s"expected no surviving checkpoints, got: ${rddDirs.toSeq}")
  }

  /** Driver-side union-find ground truth for the equivalence tests —
    * INDEPENDENT of the production fast-path implementation (recursive
    * find, min-normalization as a separate pass).
    */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are not guaranteed minimal under rank-less union — normalize to
    // the component MIN, which is the operator's contract
    val byRoot = parent.keys.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
  }

  // Random-topology equivalence: the delta-iteration recurrence must label
  // every component with its minimum on ARBITRARY graphs (mixed cliques,
  // chains, hubs, singles), not just the handcrafted shapes above.
  test("random graph labels match driver-side union-find ground truth") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val pairs = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val expected = unionFind(pairs)
    val cc = distributedOnly {
      DedupClustering.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
    }
    assert(cc === expected)
  }

  // The changed-labels build side is broadcast when its count is under
  // spark.graft.cc.broadcastRows and falls back to a shuffle join above it;
  // both paths must produce identical labels (bit-for-bit, same rounds).
  test("broadcast delta path and shuffle fallback produce identical labels") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val pairs = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    distributedOnly {
      val viaBroadcast = DedupClustering.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      spark.conf.set("spark.graft.cc.broadcastRows", "0")
      try {
        val viaShuffle = DedupClustering.connectedComponents(pairs)
          .as[(Long, Long)].collect().toMap
        assert(viaShuffle === viaBroadcast)
      } finally spark.conf.unset("spark.graft.cc.broadcastRows")
    }
  }

  // Small-graph fast path (driver union-find, engaged by default at these
  // sizes): labels must equal the distributed loop's bit-for-bit on a
  // random topology — including duplicate and reversed input pairs, which
  // the shared canonicalization folds away before the size gate.
  test("fast path labels equal the distributed loop's on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val pairs = (Seq.fill(300)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)) ++
      Seq((5L, 3L), (3L, 5L), (5L, 3L))) // dups + reversal
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    val viaFast = DedupClustering.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val viaLoop = distributedOnly {
      DedupClustering.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
    }
    assert(viaFast === viaLoop)
    assert(viaFast.nonEmpty)
  }

  // The fast path must return a distributed frame usable like any other
  // (joins, groupBy) and contain only nodes that appear in some pair.
  test("fast path output supports downstream relational use") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (7L, 8L)).toDF("doc_a", "doc_b")
    val cc = DedupClustering.connectedComponents(pairs)
    val counts = cc.groupBy("cluster_id").count()
      .as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 2L, 7L -> 2L))
  }
}

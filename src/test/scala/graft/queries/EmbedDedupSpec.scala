package graft.queries

import graft.{SparkSpec, Tables, TestFixtures}
import graft.operators.DedupClustering
import graft.pipeline.TrainingPipeline
import org.apache.spark.sql.functions._

/** q90 / TrainingPipeline.EmbedDedup: SemDeDup-style semantic dedup —
  * connected components over the q35 verified embedding near-dup pairs,
  * min-id canonical. Planted perturbed copies (cosine ≈ 0.995) must be
  * collapsed; the pipeline mode must drop exactly the loser doc_ids.
  */
class EmbedDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("planted copies collapse: >=95% of planted pairs lose a member") {
    val planted = TestFixtures.plantedCopies(spark, sf, noise = 0.1)
    val losers = DedupClustering.losers(VectorQueries.embedPairsOf(planted))
      .collect().map(_.getLong(0)).toSet
    val baseIds = Tables.embeddings(spark, sf)
      .select("vec_id").collect().map(_.getLong(0))
    // each planted pair (id, id+100000) must have lost at least one member
    val broken = baseIds.count(id => losers(id) || losers(id + 100000L))
    assert(broken >= (baseIds.length * 0.95).toInt,
      s"only $broken of ${baseIds.length} planted pairs broken")
    // min-id canonical: a 2-cluster of (base, copy) keeps the base — so a
    // copy surviving while its base lost would mean a broken election
    val copyKeptBaseLost = baseIds.count(id => losers(id) && !losers(id + 100000L))
    assert(copyKeptBaseLost == 0, s"$copyKeptBaseLost clusters kept the copy")
  }

  test("q90 output is embeddings minus losers") {
    val emb = Tables.embeddings(spark, sf)
    val losers = DedupClustering.losers(VectorQueries.embedPairsOf(emb))
      .collect().map(_.getLong(0)).toSet
    val kept = VectorQueries.queries("q90_embed_dedup_apply")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === all.diff(losers))
    assert(losers.nonEmpty && kept.nonEmpty)
  }

  test("pipeline EmbedDedup drops exactly the embedding losers") {
    val docs = Tables.documents(spark, sf)
    val emb  = Tables.embeddings(spark, sf)
    val cfg  = TrainingPipeline.Config(
      minQuality = 0.0, dedup = TrainingPipeline.EmbedDedup)
    val got = TrainingPipeline.export(docs, Some(emb), cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val baseline = TrainingPipeline.export(docs, Some(emb),
        cfg.copy(dedup = TrainingPipeline.NoDedup))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val losers = DedupClustering.losers(VectorQueries.embedPairsOf(emb))
      .collect().map(_.getLong(0)).toSet
    assert(got === baseline.diff(losers))
  }

  test("EmbedDedup clusters the SURVIVING corpus: removing a canonical upstream keeps its mate") {
    val docs = Tables.documents(spark, sf)
    val emb  = Tables.embeddings(spark, sf)
    val pairs = VectorQueries.embedNeardupPairs(emb)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degree = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.length).toMap
    // a mate whose ONLY near-dup partner is its canonical: if the
    // canonical is removed upstream (decontam/PII/filters), the mate has
    // no surviving partner and MUST be kept — clustering the raw table
    // would elect the removed doc and drop the whole cluster
    val candidate = pairs.find { case (a, b) => a < b && degree(b) == 1 }
    assume(candidate.nonEmpty, "corpus has no 1-degree near-dup mate at this sf")
    val (a, b) = candidate.get
    val cfg = TrainingPipeline.Config(
      minQuality = 0.0, dedup = TrainingPipeline.EmbedDedup)
    val got = TrainingPipeline.export(
        docs.filter(col("doc_id") =!= a), Some(emb), cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(b),
      s"mate $b of upstream-removed canonical $a was dropped with its cluster")
    assert(!got.contains(a))
  }

  test("EmbedDedup without an embeddings table is refused") {
    val docs = Tables.documents(spark, sf)
    val cfg = TrainingPipeline.Config(dedup = TrainingPipeline.EmbedDedup)
    intercept[IllegalArgumentException] {
      TrainingPipeline.export(docs, None, cfg)
    }
  }
}

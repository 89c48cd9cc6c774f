package graft.pipeline

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TrainingPipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("neardup export equals the oracled q61 on the same tables") {
    val viaPipeline = TrainingPipeline.export(
        Tables.documents(spark, sf), Some(Tables.embeddings(spark, sf)))
      .collect().map(_.toSeq).toSet
    val viaRegistry = SparkEntry.queries("q61_training_export")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(viaPipeline === viaRegistry)
    assert(viaPipeline.nonEmpty)
  }

  test("neardup export checkpoints under spark.graft.checkpoint.dir, same survivors") {
    val docs = Tables.documents(spark, sf)
    def ids(): Set[Long] =
      TrainingPipeline.export(docs, None,
          TrainingPipeline.Config(dedup = TrainingPipeline.NeardupDedup))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val local = ids()
    val dir = Files.createTempDirectory("graft-pipeline-ckpt")
    // the distributed loop keeps its final label table's checkpoint on the
    // FS (the small-graph fast path deletes the edge checkpoint it wrote)
    spark.conf.set("spark.graft.cc.collectEdges", "0")
    spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
    val reliable =
      try ids()
      finally {
        spark.conf.unset("spark.graft.checkpoint.dir")
        spark.conf.unset("spark.graft.cc.collectEdges")
      }
    val rddDirs = Files.walk(dir)
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(rddDirs > 0, s"no checkpoint state under $dir")
    assert(reliable === local)
    assert(local.nonEmpty)
  }

  test("dedup modes: none ⊇ exact ⊇ neardup survivor sets") {
    val docs = Tables.documents(spark, sf)
    def ids(mode: TrainingPipeline.DedupMode): Set[Long] =
      TrainingPipeline.export(docs, None,
          TrainingPipeline.Config(dedup = mode))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val none    = ids(TrainingPipeline.NoDedup)
    val exact   = ids(TrainingPipeline.ExactDedup)
    val neardup = ids(TrainingPipeline.NeardupDedup)
    assert(exact.subsetOf(none))
    // exact dups are near-dups with Jaccard 1: the LSH chain catches them
    assert(neardup.subsetOf(exact))
    // this corpus slice has near-dups but no exact dups (q20 = 1 fingerprint
    // per doc); the synthetic test below covers real exact-dup drops
    assert(neardup.size < none.size)
  }

  test("simhash and winnow modes drop planted near-dups, keep the min doc_id") {
    import spark.implicits._
    // 40+ token docs so quality passes at minQuality 0: d7/d10 are exact
    // copies (simhash Hamming 0, winnow overlap 1.0); d20 is unrelated.
    val body  = Seq.tabulate(40)(i => s"tok${i * 7 % 31}word").mkString(" ")
    val other = Seq.tabulate(40)(i => s"else${i * 11 % 29}text").mkString(" ")
    val docs = Seq(
      (10L, body), (7L, body), (20L, other)).toDF("doc_id", "text")
    for (mode <- Seq(TrainingPipeline.SimhashDedup, TrainingPipeline.WinnowDedup)) {
      val kept = TrainingPipeline.export(docs, None,
          TrainingPipeline.Config(minQuality = 0.0, dedup = mode))
        .select("doc_id").as[Long].collect().toSet
      assert(kept === Set(7L, 20L), s"mode=$mode")
    }
  }

  test("simhash/winnow exports equal their oracled apply queries on sf data") {
    val docs = Tables.documents(spark, sf)
    def exportIds(mode: TrainingPipeline.DedupMode): Set[Long] =
      TrainingPipeline.export(docs, None,
          TrainingPipeline.Config(minQuality = 0.0, dedup = mode))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def applyIds(q: String): Set[Long] =
      SparkEntry.queries(q)(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // minQuality 0 still drops NULL-text docs (quality NULL); the q66/q67
    // applies keep them — compare on the quality-scorable intersection
    val scorable = exportIds(TrainingPipeline.NoDedup)
    assert(exportIds(TrainingPipeline.SimhashDedup) ===
      (applyIds("q66_simhash_dedup_apply") intersect scorable))
    assert(exportIds(TrainingPipeline.WinnowDedup) ===
      (applyIds("q67_winnow_dedup_apply") intersect scorable))
  }

  test("exact mode keeps the min doc_id of each duplicate group") {
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha beta gamma delta"),
      (7L, "alpha  beta gamma delta"), // same normalized content, smaller id
      (20L, "something else entirely here")).toDF("doc_id", "text")
    val kept = TrainingPipeline.export(docs, None,
        TrainingPipeline.Config(minQuality = 0.0,
          dedup = TrainingPipeline.ExactDedup))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(7L, 20L))
  }

  test("writeExport writes a lang-partitioned artifact plus the stats sidecar") {
    val out = Files.createTempDirectory("graft-export").toString
    val exported = TrainingPipeline.writeExport(
      Tables.documents(spark, sf), None, out, partitionByLang = true)
    val dirs = new java.io.File(s"$out/export").list().toSeq
    assert(dirs.exists(_.startsWith("lang_pred=")), dirs.toString)
    val reread = spark.read.parquet(s"$out/export")
    assert(reread.count() === exported.count())
    val st = spark.read.parquet(s"$out/stats")
    assert(st.columns.toSet ===
      Set("lang_pred", "len_band", "n_docs", "total_tokens", "min_tokens", "max_tokens"))
    // stats totals reconcile with the artifact
    val nFromStats = st.agg(sum("n_docs")).head.getLong(0)
    assert(nFromStats === exported.count())
  }

  test("evalEmbeddings refuses a doc whose embedding the eval suite contains") {
    val docs = Tables.documents(spark, sf)
    val emb  = Tables.embeddings(spark, sf)
    val base = TrainingPipeline.export(docs, Some(emb))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val target = base.min
    // the eval suite contains the target doc's own embedding (cosine 1 —
    // an exact planted leak); the q85 pass must refuse it
    val evalEmb = emb.filter(col("vec_id") === target)
    val decontam = TrainingPipeline.export(docs, Some(emb),
        evalEmbeddings = Some(evalEmb))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(base.contains(target))
    assert(!decontam.contains(target))
    assert(decontam.nonEmpty)
    // and the guard: evalEmbeddings without the corpus table is an error
    intercept[IllegalArgumentException] {
      TrainingPipeline.export(docs, None, evalEmbeddings = Some(evalEmb))
    }
  }

  test("writeExport shuffled-shard layout: shard dirs, rows preserved, stats reconcile") {
    val out = Files.createTempDirectory("graft-export-shuf").toString
    val exported = TrainingPipeline.writeExport(
      Tables.documents(spark, sf), None, out, shuffledShardFiles = Some(8))
    val dirs = new java.io.File(s"$out/export").list().toSeq
    assert(dirs.exists(_.startsWith("shard=")), dirs.toString)
    val reread = spark.read.parquet(s"$out/export")
    assert(reread.count() === exported.count())
    // the layout adds exactly the shuffle columns; doc rows are unchanged
    assert(reread.columns.toSet === exported.columns.toSet ++ Set("shuffle_key", "shard"))
    assert(reread.select("doc_id").collect().map(_.getLong(0)).toSet ===
      exported.select("doc_id").collect().map(_.getLong(0)).toSet)
    val st = spark.read.parquet(s"$out/stats")
    assert(st.agg(sum("n_docs")).head.getLong(0) === exported.count())
    // both layouts at once is a config error
    intercept[IllegalArgumentException] {
      TrainingPipeline.writeExport(Tables.documents(spark, sf), None, out,
        partitionByLang = true, shuffledShardFiles = Some(8))
    }
  }

  test("stageWaterfall: one row per active stage, monotone counts, ends at the export count") {
    val docs = Tables.documents(spark, sf)
    val emb  = Tables.embeddings(spark, sf)
    val cfg  = TrainingPipeline.Config(
      dedup = TrainingPipeline.ExactDedup, minQuality = 0.3,
      sampleRates = Map("en" -> 0.5))
    val evalDocs = docs.filter(col("doc_id") % 25 === 0).select("doc_id", "text")
    val wf = TrainingPipeline.stageWaterfall(
        docs, Some(emb), cfg, evalDocs = Some(evalDocs))
      .orderBy("stage_idx").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(wf.map(_._1).toSeq === Seq("input", "ngram_decontam", "dedup",
      "quality_gate", "mixture_sample", "codes_join"))
    // monotone non-increasing, anchored at the corpus and the export
    assert(wf.head._2 === docs.count())
    assert(wf.map(_._2).toSeq === wf.map(_._2).toSeq.sorted.reverse)
    assert(wf.last._2 === TrainingPipeline.export(
      docs, Some(emb), cfg, evalDocs = Some(evalDocs)).count())
    // stages actually dropped docs in this configuration
    assert(wf.last._2 < wf.head._2)
  }

  test("writeExport jsonl format: gzipped interchange artifact, rows round-trip") {
    val out = Files.createTempDirectory("graft-export-jsonl").toString
    val exported = TrainingPipeline.writeExport(
      Tables.documents(spark, sf), None, out, exportFormat = "jsonl")
    val files = new java.io.File(s"$out/export").list().toSeq
    assert(files.exists(_.endsWith(".json.gz")), files.toString)
    // the artifact reads back through the quarantining jsonl source: zero
    // rejects, same doc set
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang_pred STRING, quality DOUBLE, n_tokens BIGINT")
    val (clean, bad) = graft.sources.JsonlIO.readSplit(
      spark, s"$out/export", schema)
    assert(bad.count() === 0)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet ===
      exported.select("doc_id").collect().map(_.getLong(0)).toSet)
    // stats sidecar unaffected by the artifact format
    assert(spark.read.parquet(s"$out/stats")
      .agg(sum("n_docs")).head.getLong(0) === exported.count())
    // shards + jsonl is a config error (shard consumers are Spark-side)
    intercept[IllegalArgumentException] {
      TrainingPipeline.writeExport(Tables.documents(spark, sf), None, out,
        shuffledShardFiles = Some(8), exportFormat = "jsonl")
    }
  }
}

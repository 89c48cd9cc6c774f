package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Resolve a GRAFT_VERIFY_ONLY selection against the registry. A
    * misspelled or stale name must not silently select nothing and read
    * as a trivially clean pass during local iteration: every unknown name
    * is warned about, and a selection that matches NOTHING fails loudly
    * instead of producing an empty (trivially green) dump. */
  private[graft] def selectQueries(
      only: Option[Set[String]], warn: String => Unit)
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    only match {
      case Some(names) =>
        val unknown = names.diff(SparkEntry.queries.keySet)
        unknown.toSeq.sorted.foreach(n =>
          warn(s"[verify] GRAFT_VERIFY_ONLY names unknown query '$n'"))
        if (names == unknown)
          sys.error(s"GRAFT_VERIFY_ONLY matched no queries: " +
            names.toSeq.sorted.mkString(","))
        SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Each query writes with its natural partitioning — the compare reads
    // the whole output directory, and its hash is row-order-insensitive,
    // so a multi-file dump is equivalent. A repartition(1) here would be a
    // driver-side funnel at real dump sizes (every result row through one
    // writer task). GRAFT_VERIFY_SINGLE_FILE=1 opts back into the
    // single-file form (repartition(1), NOT coalesce(1): coalesce would
    // collapse the final stage back to the last shuffle boundary into one
    // task, running narrow queries fully single-threaded).
    val singleFile = sys.env.getOrElse("GRAFT_VERIFY_SINGLE_FILE", "0") == "1"
    // GRAFT_VERIFY_ONLY=q1,q2 restricts the dump to named queries for fast
    // local iteration (oracle_sql.json still carries the full map — the
    // driver never sets this, so its gate always runs everything).
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = selectQueries(only, m => System.err.println(m))
    selected.foreach { case (name, fn) =>
      // construction INSIDE the try: queries do eager work at build time
      // (materialize()'s localCheckpoint job, argument require()s; a
      // Tables.load only reads a footer, but a missing table fails there)
      // — outside it, one failing query would abort the whole dump
      // INCLUDING oracle_sql.json and zero the round
      try {
        val df = fn(spark, sfDir)
        (if (singleFile) df.repartition(1) else df).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    // One shared copy (BenchSupport.jsonEscape) so the bench artifacts
    // and this dump can never diverge in escaping semantics.
    def q(s: String): String = "\"" + BenchSupport.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

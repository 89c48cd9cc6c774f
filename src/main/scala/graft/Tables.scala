package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Loaders for the driver test corpus (`TESTDATA.md`): one parquet per
  * table under an sf directory, `$sfDir/$name.parquet`, either one file or
  * a Spark-written directory of part files (`graft.ScaleProbe`'s replicas).
  * All queries in [[SparkEntry]] read through here so filter/column
  * pushdown is uniform (plain parquet scans — Catalyst handles
  * `PushedFilters` / `ReadSchema` pruning).
  *
  * `load` reads the table's schema from one parquet footer on the driver
  * and hands it to the reader, so a load schedules no Spark job (plain
  * `spark.read.parquet` infers the schema with a one-task job per load).
  * The schema is the one Spark would infer; each load reads its footer
  * again, nothing is cached.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(Bridge.parquetSchema(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped in two encodings across testdata generations:
    * parquet TIMESTAMP(NANOS) — which Spark 4 refuses ([PARQUET_TYPE_ILLEGAL])
    * unless `spark.sql.legacy.parquet.nanosAsLong=true` (set once in
    * [[GraftSession.create]]; loaders must not mutate session state), where
    * it arrives as raw nano LONGS — and plain TIMESTAMP(MICROS) with no
    * UTC-adjustment flag, where it arrives as TIMESTAMP_NTZ. Normalize both
    * to microsecond TimestampType: nanos floor-convert with true floor
    * division (`div` truncates toward zero, off by 1µs pre-1970;
    * `(ts - pmod(ts, 1000)) div 1000` is exact in longs — the same floor
    * DuckDB's `epoch_us` applies), NTZ re-tags under the session's UTC
    * zone (value-preserving, matches DuckDB reading the file natively).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

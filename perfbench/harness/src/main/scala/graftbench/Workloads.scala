package graftbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Charts, Pipeline, Report, TradesEtl, Transform, Xlsx}
import graft.sources.SqliteIO

/** One operation: its latency, and whether it ran and returned the
  * expected output. Checks run after `seconds` was taken.
  */
final case class OpResult(name: String, seconds: Double, ok: Boolean, detail: String = "")

/** One pass: its operations, the rows it processed (for `rows_per_s`), and
  * values the workload measured for the per-layer report.
  */
final case class PassResult(ops: Seq[OpResult], rows: Long, extras: Map[String, Double] = Map.empty) {
  def wallS: Double = ops.map(_.seconds).sum
}

trait Workload {
  /** Untimed: run every operation once (JIT, codegen, page cache) and
    * check its output.
    */
  def warmup(): Seq[OpResult]
  /** One timed pass; with a [[SpanRecorder]], a traced one. */
  def pass(tr: Tracing): PassResult
}

object Workload {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` as one operation; an exception is a failed operation. */
  def op(name: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    try {
      body
      OpResult(name, (System.nanoTime() - t0) / 1e9, ok = true)
    } catch {
      case NonFatal(e) =>
        OpResult(name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** Release what an operation pinned: persistent RDDs (the ETL's cached
    * aggregate, `materialize()`'s local checkpoints) and cached relations.
    */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** What the benchmark stores about one registry key: its family, how its
  * output is checked (`hash` or `rows`), and the expected values.
  */
final case class Expected(key: String, family: String, check: String, rows: Long, checksum: String)

object Expected {
  def read(path: String): IndexedSeq[Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(k, f, c, r, h) = l.split("\t")
      Expected(k, f, c, r.toLong, h)
    }.toIndexedSeq
    finally src.close()
  }

  def write(path: String, rows: Seq[Expected]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("# key\tfamily\tcheck\trows\tchecksum")
      rows.foreach(e => w.println(s"${e.key}\t${e.family}\t${e.check}\t${e.rows}\t${e.checksum}"))
    } finally w.close()
  }
}

/** Every registry key but `q44_trades_etl`, one at a time in an order
  * shuffled by the seed; one operation builds the key's DataFrame and
  * writes it to the `noop` sink ([[CountingSink]], which also counts).
  */
final class Suite(spark: SparkSession, dataDir: String, expected: IndexedSeq[Expected],
    seed: Long, threads: Int) extends Workload {
  val family: Map[String, String] = expected.map(e => e.key -> e.family).toMap
  private val order = new scala.util.Random(seed).shuffle(expected)

  private def query(key: String) =
    SparkEntry.queries.getOrElse(key, throw new NoSuchElementException(s"$key is not in the registry"))

  /** One checked operation. */
  private def run(e: Expected, tr: Tracing): OpResult = {
    val r = Workload.op(e.key) {
      tr.span(e.key, "op") {
        val df = tr.span("build", "build")(query(e.key)(spark, dataDir))
        tr.span("exec", "exec")(Suite.write(df, e.key))
      }
    }
    val got = CountingSink.take(e.key)
    val ok = got.exists(w => w.rows == e.rows &&
      (e.check != "hash" || w.checksum.toString == e.checksum))
    if (!r.ok || ok) r
    else r.copy(ok = false, detail = s"wrote ${got.map(w => s"${w.rows} rows, checksum ${w.checksum}")
      .getOrElse("nothing")}; expected ${e.rows} rows, checksum ${e.checksum}")
  }

  /** The keys run `threads` at a time here: the warm-up only has to
    * compile and check every key, and the suite leaves most cores idle.
    */
  def warmup(): Seq[OpResult] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = order.map(e => pool.submit(() => run(e, NoTrace)))
      futures.map(_.get())
    } finally {
      pool.shutdown()
      Workload.release(spark)
    }
  }

  def pass(tr: Tracing): PassResult = {
    val ops = order.map { e =>
      val r = run(e, tr)
      Workload.release(spark)
      r
    }
    PassResult(ops, expected.map(_.rows).sum)
  }
}

object Suite {
  def write(df: DataFrame, tag: String): Unit =
    df.write.format(CountingSink.format).option("tag", tag).mode("overwrite").save()
}

/** The reference pipeline's stages with its sinks: SQLite load, xlsx
  * report and charts.
  */
object Etl {
  val table = "agg_trades_weekly"

  /** `Pipeline.runEtl` as the reference's CI calls it. */
  def run(spark: SparkSession, csv: String, outDir: String, db: String): Pipeline.EtlResult =
    Pipeline.runEtl(spark, csv, outDir, sqlitePath = Some(db),
      reportFormat = "xlsx", charts = true)

  /** The same stages in `runEtl`'s order and with its arguments, one span
    * around each layer call.
    */
  def staged(spark: SparkSession, csv: String, outDir: String, db: String,
      tr: Tracing): Pipeline.EtlResult = {
    val raw = tr.span("extract", "etl.extract")(TradesEtl.extract(spark, csv))
    val clean = tr.span("clean", "etl.clean")(TradesEtl.clean(raw))
    val agg = tr.span("transform", "etl.transform")(Transform(clean, computePnl = true).cache())
    val sorted = agg.orderBy(Transform.groupKeys.map(col): _*)
    tr.span("load", "etl.load") {
      val f = new File(db)
      val size0 = f.length()
      val w0 = Host.wcharBytes()
      SqliteIO.append(sorted, db, table)
      tr.annotate("wchar_bytes", (Host.wcharBytes() - w0).toDouble)
      tr.annotate("db_growth_bytes", (f.length() - size0).toDouble)
      tr.annotate("db_bytes", f.length().toDouble)
    }
    val report = tr.span("report", "etl.report") {
      val r = Report.topClients(agg, "bronze", Seq("total_volume", "total_pnl"), 3)
      Xlsx.write(r, s"$outDir/top_clients.xlsx")
      Charts.writeAll(agg, outDir)
      r
    }
    Pipeline.EtlResult(agg, report)
  }

  final case class Counts(agg: Long, tradeCount: Long, distinctKeys: Long, report: Long)

  def counts(r: Pipeline.EtlResult): Counts = {
    val k = Transform.groupKeys.map(col)
    val a = r.agg.agg(count(lit(1)), sum("trade_count"), countDistinct(k.head, k.tail: _*)).head()
    Counts(a.getLong(0), a.getLong(1), a.getLong(2), r.report.count())
  }

  /** The output checks of one run against the generator's own truth. */
  def problems(c: Counts, truth: TradesData.Truth): Seq[String] = Seq(
    (c.tradeCount == truth.cleanRows) -> s"sum(trade_count)=${c.tradeCount} != clean rows ${truth.cleanRows}",
    (c.agg == truth.groups) -> s"aggregate rows=${c.agg} != groups ${truth.groups}",
    (c.distinctKeys == c.agg) -> s"aggregate keys not unique: ${c.distinctKeys} of ${c.agg}",
    (c.report == 6L) -> s"report rows=${c.report} != 6",
  ).collect { case (false, msg) => msg }

  def cleanRows(spark: SparkSession, csv: String): Long =
    TradesEtl.clean(TradesEtl.extract(spark, csv)).count()

  def dbRows(db: String): Long = SqliteIO.readTable(db, table).rows.size.toLong
}

/** One large batch in the reference's key space, run by `Pipeline.runEtl`
  * into a fresh directory and SQLite database: CSV parse, clean and
  * partial aggregation dominate.
  */
final class EtlNarrow(spark: SparkSession, work: File, csv: String, truth: TradesData.Truth)
    extends Workload {
  private var n = 0

  /** One checked operation. */
  private def one(tr: Tracing, extras: collection.mutable.Map[String, Double]): OpResult = {
    n += 1
    val dir = new File(work, s"narrow-$n")
    Workload.delete(dir)
    val outDir = new File(dir, "out")
    outDir.mkdirs()
    val db = s"$dir/agg_result.db"
    val traced = tr ne NoTrace
    var res: Pipeline.EtlResult = null
    val r = Workload.op("etl") {
      tr.span("etl", "op") {
        res = if (traced) Etl.staged(spark, csv, outDir.getPath, db, tr)
              else Etl.run(spark, csv, outDir.getPath, db)
      }
    }
    val checked =
      if (!r.ok) r
      else try {
        val c = Etl.counts(res)
        if (traced) {
          val rowsIn = TradesEtl.extract(spark, csv).count()
          val clean = Etl.cleanRows(spark, csv)
          extras ++= Seq("etl.rows_in" -> rowsIn, "etl.rows_clean" -> clean,
            "etl.rows_agg" -> c.agg, "etl.rows_report" -> c.report).map { case (k, v) => k -> v.toDouble }
          if (rowsIn != truth.rows || clean != truth.cleanRows)
            throw new IllegalStateException(s"rows in/clean $rowsIn/$clean != ${truth.rows}/${truth.cleanRows}")
        }
        val dbRows = Etl.dbRows(db)
        val bad = Etl.problems(c, truth) ++
          (if (dbRows == c.agg) Nil else Seq(s"database holds $dbRows rows, appended ${c.agg}"))
        if (bad.isEmpty) r else r.copy(ok = false, detail = bad.mkString("; "))
      } catch {
        case NonFatal(e) => r.copy(ok = false, detail = s"check: ${e.getMessage}")
      }
    Workload.release(spark)
    Workload.delete(dir)
    checked
  }

  /** Two runs, the first mostly class loading and compilation; then
    * `TradesEtl.clean` must keep exactly the generator's clean rows.
    */
  def warmup(): Seq[OpResult] = {
    val ops = Seq.fill(2)(one(NoTrace, collection.mutable.Map()))
    val clean = Etl.cleanRows(spark, csv)
    if (clean == truth.cleanRows || !ops.last.ok) ops
    else ops.init :+ ops.last.copy(ok = false, detail = s"clean rows $clean != ${truth.cleanRows}")
  }

  def pass(tr: Tracing): PassResult = {
    val extras = collection.mutable.Map[String, Double]()
    val r = one(tr, extras)
    PassResult(Seq(r), truth.rows, extras.toMap)
  }
}

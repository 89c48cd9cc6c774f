package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** The benchmark process: one workload, one JVM, one client in a closed
  * loop. `perfbench/run.py` builds the classpath and starts it; the
  * result and the run artifact are written as JSON files.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --started-ms MS --data DIR --work DIR --result FILE --artifact FILE
  *   | graftbench.Main --record FILE --data DIR --work DIR
  */
object Main {

  val workloads: Seq[String] = Seq("suite_sf001", "etl_narrow")

  /** The ten corpus tables the traced passes load through `Tables.load`. */
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Trades in the `etl_narrow` input, generated into the work directory. */
  val narrowRows = 2000000

  final case class PassOutcome(result: PassResult, elapsedS: Double, noise: Host.Noise,
      layers: Map[String, Double] = Map.empty, spans: Seq[Span] = Nil, jobs: Seq[JobRecord] = Nil)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val data = need("data")
    val work = new File(need("work"))
    work.mkdirs()
    val sfDir = s"$data/sf0.01"
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    a.get("record") match {
      case Some(out) =>
        val spark = session()
        try Record.run(spark, sfDir, out) finally spark.stop()
      case None =>
        val workload = need("workload")
        require(workloads.contains(workload), s"unknown workload $workload; one of ${workloads.mkString(", ")}")
        val seed = need("seed").toLong
        val seconds = need("seconds").toDouble
        val trace = need("trace") == "1"
        val startedMs = need("started-ms").toDouble
        val (make, genS) = Workload.timed(inputs(workload, seed, cores, new File(work, "inputs"), s"$data/expected"))
        val (spark, sessionS) = Workload.timed(session())
        try {
          val wl = make(spark, new File(work, "out"), sfDir)
          val warm = wl.warmup()
          val setupS = (System.currentTimeMillis() - startedMs) / 1e3 - genS
          // peak_rss_mb covers the timed passes, not the warm-up's peak
          System.gc()
          val hwmReset = Host.resetHwm()
          val plain = loop(seconds)(untraced(wl))
          val peakRssMb = Host.vmHwmKb() / 1024.0
          // a traced run brackets its traced passes with untraced ones, so
          // that the JIT's warming over the run cancels out of
          // trace.overhead_s
          val traced = if (trace) tracedLoop(spark, wl, sfDir, seconds, cores) else Nil
          val after = if (trace) Seq(untraced(wl)) else Nil
          report(a, workload, seed, seconds, trace, cores, genS, sessionS, setupS, warm, plain,
            traced, after, peakRssMb, hwmReset)
        } finally spark.stop()
    }
  }

  private def session(): SparkSession = {
    val s = GraftSession.create("graftbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generates (or reuses) the workload's inputs, outside any timing. */
  private def inputs(workload: String, seed: Long, cores: Int, dir: File, expectedDir: String)
      : (SparkSession, File, String) => Workload = {
    dir.mkdirs()
    workload match {
      case "suite_sf001" =>
        val expected = Expected.read(s"$expectedDir/suite_sf001.tsv")
        (spark, _, sfDir) => new Suite(spark, sfDir, expected, seed, 2 * cores)
      case "etl_narrow" =>
        val (csv, truth) = Inputs.trades(dir, s"narrow-s$seed", seed,
          TradesData.reference.copy(rows = narrowRows))
        (spark, out, _) => new EtlNarrow(spark, out, csv, truth)
    }
  }

  private def untraced(wl: Workload): PassOutcome = {
    val t0 = System.nanoTime()
    val (r, noise) = Host.around(wl.pass(NoTrace))
    PassOutcome(r, (System.nanoTime() - t0) / 1e9, noise)
  }

  /** Passes until the next one would overrun `seconds`; at least one. */
  private def loop(seconds: Double)(pass: => PassOutcome): Seq[PassOutcome] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer[PassOutcome]()
    do out += pass
    while ((System.nanoTime() - t0) / 1e9 + Stats.median(out.map(_.elapsedS).toSeq) <= seconds)
    out.toSeq
  }

  private def tracedLoop(spark: SparkSession, wl: Workload, sfDir: String,
      seconds: Double, cores: Int): Seq[PassOutcome] = {
    val sc = spark.sparkContext
    val counters = new EngineCounters
    sc.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val family = wl match {
      case s: Suite => s.family
      case _        => Map.empty[String, String]
    }
    try loop(seconds) {
      GraftBenchBus.drain(sc)
      counters.reset()
      val rec = new SpanRecorder(sc)
      val t0 = System.nanoTime()
      val (r, noise) = Host.around {
        rec.span("pass", "pass") {
          rec.span("tables", "tables") {
            tables.foreach(t => rec.span(t, "tables.load")(Tables.load(spark, sfDir, t).schema))
          }
          wl.pass(rec)
        }
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      GraftBenchBus.drain(sc)
      val spans = rec.spans.toSeq
      val attr = new Attribution(spans, counters)
      val layers = Layers.compute(spans, attr, counters.phaseMs, family, cores, r.extras) ++ Map(
        "jvm.gc_s" -> noise.gcMs / 1e3,
        "jvm.old_gen_peak_mb" -> noise.oldGenPeakMb)
      PassOutcome(r, elapsed, noise, layers, spans, attr.jobs)
    } finally {
      sc.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
    }
  }

  private def report(a: Map[String, String], workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, genS: Double, sessionS: Double, setupS: Double,
      warm: Seq[OpResult], plain: Seq[PassOutcome], traced: Seq[PassOutcome],
      after: Seq[PassOutcome], peakRssMb: Double, hwmReset: Boolean): Unit = {
    val timed = plain.flatMap(_.result.ops)
    val all = warm ++ timed ++ (traced ++ after).flatMap(_.result.ops)
    val failed = all.filterNot(_.ok)
    val wallS = Stats.median(plain.map(_.result.wallS))
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "op_p50_s" -> Stats.median(timed.map(_.seconds)),
      "rows_per_s" -> Stats.median(plain.map(p => p.result.rows / p.result.wallS)),
      "peak_rss_mb" -> peakRssMb,
    )
    val perLayer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val keys = traced.flatMap(_.layers.keys).distinct
        val tracedWall = Stats.median(traced.map(_.result.wallS))
        val untracedWall = Stats.median((plain ++ after).map(_.result.wallS))
        keys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap ++ Map(
          "session.create_s" -> sessionS,
          "trace.overhead_s" -> (tracedWall - untracedWall),
        )
      }
    val metrics = if (trace) perLayer else e2e

    def opJson(o: OpResult) = Json.obj("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok,
      "detail" -> o.detail)
    def passJson(p: PassOutcome, isTraced: Boolean) = {
      val self = Spans.selfTimes(p.spans)
      val opSpans = p.spans.filter(_.kind == "op")
      val accounted = opSpans.flatMap(o => Spans.subtree(p.spans, o.id)).map(self).sum / 1e6
      Json.obj(
        "traced" -> isTraced,
        "wall_s" -> p.result.wallS,
        "elapsed_s" -> p.elapsedS,
        "rows" -> p.result.rows,
        "loadavg_before" -> p.noise.loadBefore,
        "loadavg_after" -> p.noise.loadAfter,
        "steal_pct" -> p.noise.stealPct,
        "jvm_gc_ms" -> p.noise.gcMs,
        "jvm_jit_ms" -> p.noise.jitMs,
        "jvm_old_gen_peak_mb" -> p.noise.oldGenPeakMb,
        "ops" -> p.result.ops.map(opJson),
        "extras" -> p.result.extras,
        "layers" -> p.layers,
        "self_time_of_op_spans_s" -> (if (isTraced) accounted else Double.NaN),
        "spans" -> p.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "kind" -> s.kind, "start_us" -> s.startUs, "end_us" -> s.endUs,
          "self_us" -> self(s.id), "attrs" -> s.attrs)),
        "jobs" -> p.jobs.map(j => Json.obj("id" -> j.id, "group" -> j.group,
          "start_us" -> j.startUs, "end_us" -> j.endUs, "stages" -> j.stageIds)),
      )
    }
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "input_generation_s" -> genS, "session_create_s" -> sessionS,
      "setup_s" -> setupS, "peak_rss_covers_timed_passes_only" -> hwmReset, "fail_ratio" -> failed.size.toDouble / all.size,
      "excluded_keys" -> Seq("q44_trades_etl"),
      "failures" -> failed.map(opJson),
      "warmup" -> warm.map(opJson),
      "passes" -> (plain.map(passJson(_, isTraced = false)) ++ traced.map(passJson(_, isTraced = true)) ++
        after.map(passJson(_, isTraced = false))),
      "metrics" -> metrics,
    )
    Json.write(a("artifact"), artifact)
    Json.write(a("result"), Json.obj(
      "correct" -> failed.isEmpty, "attempted" -> all.size, "failed" -> failed.size,
      "metrics" -> metrics))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Generated inputs, cached in the work directory by name (which carries
  * the run's seed) and size. `run.py` deletes the other seeds' inputs.
  */
object Inputs {
  def trades(dir: File, name: String, seed: Long, spec: TradesData.Spec): (String, TradesData.Truth) = {
    val stem = s"$name-r${spec.rows}-u${spec.users}-${spec.firstDay}-d${spec.days}"
    val csv = new File(dir, s"$stem.csv")
    val truthFile = new File(dir, s"$stem.truth")
    val cached = if (csv.exists() && truthFile.exists()) {
      val src = scala.io.Source.fromFile(truthFile, "UTF-8")
      try src.mkString.trim.split(" ").map(_.toLong) match {
        case Array(r, c, g) => Some(TradesData.Truth(r, c, g))
        case _              => None
      } finally src.close()
    } else None
    cached match {
      case Some(t) => (csv.getPath, t)
      case None =>
        val t = TradesData.write(csv.getPath, spec, seed)
        val w = new java.io.PrintWriter(truthFile, "UTF-8")
        try w.print(s"${t.rows} ${t.cleanRows} ${t.groups}") finally w.close()
        (csv.getPath, t)
    }
  }
}

/** Writes the suite's expected row counts and checksums at the current
  * commit. Keys whose output legitimately varies between runs are checked
  * on their row count only.
  */
object Record {
  /** Float sums in partition order (q29), sketches (q36), libm-log
    * scoring (q42) and approximate nearest-neighbour probes (q39, q56,
    * q57): the registry's keys without an oracle.
    */
  val rowsOnly: Set[String] = Set("q29_centroid", "q36_approx_stats", "q42_bm25",
    "q39_knn_ivf", "q56_knn_pq", "q57_knn_ivfpq")

  private val dedupApply = Seq("q43_", "q58_", "q61_", "q66_", "q67_", "q76_", "q80_", "q90_")
  private val ann = Seq("q39_", "q39b_", "q56_", "q56b_", "q57_", "q57b_")

  def family(key: String): String =
    if (dedupApply.exists(key.startsWith)) "dedup_apply"
    else if (ann.exists(key.startsWith)) "ann"
    else if (key.startsWith("q30_") || key.startsWith("q31_")) "multimodal"
    else if (graft.queries.RelationalQueries.queries.contains(key)) "relational"
    else if (graft.queries.TextQueries.queries.contains(key)) "text"
    else "vector"

  def run(spark: SparkSession, sfDir: String, out: String): Unit = {
    val keys = SparkEntry.queries.keys.toSeq.sorted.filterNot(_ == "q44_trades_etl")
    val rows = keys.map { k =>
      Suite.write(SparkEntry.queries(k)(spark, sfDir), k)
      val w = CountingSink.take(k).getOrElse(sys.error(s"$k wrote nothing"))
      Workload.release(spark)
      Expected(k, family(k), if (rowsOnly(k)) "rows" else "hash", w.rows,
        if (rowsOnly(k)) "-" else w.checksum.toString)
    }
    Expected.write(out, rows)
  }
}

/** Just enough JSON writing for the result and the artifact. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null                      => "null"
    case Obj(fs)                   => fs.map { case (k, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")
    case m: Map[_, _]              => m.toSeq.sortBy(_._1.toString).map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: String                 => str(s)
    case b: Boolean                => b.toString
    case d: Double                 => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                  => render(f.toDouble)
    case n @ (_: Int | _: Long)    => n.toString
    case xs: Iterable[_]           => xs.map(render).mkString("[", ",", "]")
    case other                     => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(render(v)) finally w.close()
  }
}

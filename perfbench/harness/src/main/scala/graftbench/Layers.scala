package graftbench

/** The per-layer metrics of one traced pass, computed from its spans and
  * the engine counters attributed to them. A layer a workload does not
  * exercise reads 0.
  */
object Layers {
  val families: Seq[String] = Seq("relational", "text", "dedup_apply", "ann", "vector", "multimodal")

  def compute(spans: Seq[Span], attr: Attribution, phasesMs: Map[String, Long],
      family: Map[String, String], cores: Int, extras: Map[String, Double]): Map[String, Double] = {
    def kind(k: String) = spans.filter(_.kind == k)
    def secs(ss: Seq[Span]) = ss.map(_.durUs).sum / 1e6
    def under(ss: Seq[Span]) = ss.flatMap(s => Spans.subtree(spans, s.id)).toSet
    def jobs(ss: Seq[Span]) = attr.jobsIn(under(ss)).size.toDouble
    def cpuS(ss: Seq[Span]) = attr.stagesIn(under(ss)).map(_.cpuNs).sum / 1e9

    val ops = kind("op")
    val wallS = secs(ops)
    val counted = under(ops ++ kind("tables"))
    val jobsAll = attr.jobsIn(counted)
    val stages = attr.stagesIn(counted)
    val tasks = stages.map(_.tasks).sum
    val taskMs = stages.flatMap(_.taskMs).sorted
    val runS = stages.map(_.runMs).sum / 1e3
    val driverGapUs = ops.map { o =>
      val covered = attr.jobsIn(Spans.subtree(spans, o.id)).map(j => (j.startUs, j.endUs))
      o.durUs - Spans.covered(o.startUs, o.endUs, covered)
    }.sum

    val loads = kind("etl.load")
    val loadShuffle = loads.map { l =>
      attr.stagesIn(Spans.subtree(spans, l.id)).map(s => s.shuffleWriteBytes + s.spillBytes).sum
    }
    val sqliteBytes = loads.zip(loadShuffle)
      .map { case (l, sh) => l.attrs.getOrElse("wchar_bytes", 0.0) - sh }.sum
    val growth = loads.map(_.attrs.getOrElse("db_growth_bytes", 0.0)).sum
    val aggRows = extras.getOrElse("etl.rows_agg", 0.0)
    val dbBytes = loads.lastOption.map(_.attrs.getOrElse("db_bytes", 0.0)).getOrElse(0.0)

    val byFamily = families.flatMap { f =>
      val fo = ops.filter(o => family.get(o.name).contains(f))
      Seq(s"queries.$f.wall_s" -> secs(fo), s"queries.$f.jobs" -> jobs(fo))
    }

    Map(
      "tables.load_s" -> secs(kind("tables")),
      "tables.load_jobs" -> jobs(kind("tables")),
      "queries.build_s" -> secs(kind("build")),
      "queries.build_jobs" -> jobs(kind("build")),
      "queries.exec_s" -> secs(kind("exec")),
      "queries.op_p90_s" -> {
        val keyOps = ops.filter(o => family.contains(o.name)).map(_.durUs / 1e6)
        if (keyOps.isEmpty) 0.0 else Stats.quantile(keyOps, 0.9)
      },
      "catalyst.analysis_s" -> phasesMs.getOrElse("analysis", 0L) / 1e3,
      "catalyst.optimization_s" -> phasesMs.getOrElse("optimization", 0L) / 1e3,
      "catalyst.planning_s" -> phasesMs.getOrElse("planning", 0L) / 1e3,
      "scheduler.jobs" -> jobsAll.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.toDouble,
      "scheduler.tasks_per_stage" -> (if (stages.isEmpty) 0.0 else tasks.toDouble / stages.size),
      "scheduler.driver_gap_s" -> driverGapUs / 1e6,
      "executor.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "executor.run_s" -> runS,
      "executor.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "executor.busy_ratio" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "executor.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "executor.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "executor.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum.toDouble,
      "executor.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "executor.max_task_s" -> taskMs.lastOption.getOrElse(0L) / 1e3,
      "executor.median_task_s" -> (if (taskMs.isEmpty) 0.0 else taskMs(taskMs.size / 2) / 1e3),
      "etl.extract_s" -> secs(kind("etl.extract")),
      "etl.clean_s" -> secs(kind("etl.clean")),
      "etl.transform_s" -> secs(kind("etl.transform")),
      "etl.transform.jobs" -> jobs(kind("etl.transform")),
      "etl.transform.cpu_s" -> cpuS(kind("etl.transform")),
      "etl.load_s" -> secs(loads),
      "etl.load.jobs" -> jobs(loads),
      "etl.report_s" -> secs(kind("etl.report")),
      "etl.report.jobs" -> jobs(kind("etl.report")),
      "etl.rows_in" -> extras.getOrElse("etl.rows_in", 0.0),
      "etl.rows_clean" -> extras.getOrElse("etl.rows_clean", 0.0),
      "etl.rows_agg" -> aggRows,
      "etl.rows_report" -> extras.getOrElse("etl.rows_report", 0.0),
      "sources.sqlite.bytes_written" -> sqliteBytes,
      "sources.sqlite.write_amp" -> (if (growth > 0) sqliteBytes / growth else 0.0),
      "sources.sqlite.db_bytes_per_row" -> (if (aggRows > 0) dbBytes / aggRows else 0.0),
    ) ++ byFamily
  }
}

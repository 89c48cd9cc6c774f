package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** Job trace and per-stage breakdown for ONE registered query: wall time
  * and the share spent building the DataFrame; per job its start offset,
  * the gap since the previous job ended (planning and collects between
  * jobs), duration and call site; per stage its call site, task count and
  * summed executor run/CPU time. Load-immune like JobCount.
  *
  * Usage: runMain graft.StageProfile <query> [sfDir]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.create("graft-stageprofile")
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)

    def site(i: StageInfo, width: Int): String =
      i.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("StageProfile"))
        .getOrElse(i.name.linesIterator.next()).trim.take(width)

    case class J(id: Int, t0: Long, var t1: Long, site: String)
    val jobs = scala.collection.mutable.LinkedHashMap[Int, J]()
    val rows = scala.collection.mutable.ArrayBuffer[(Int, String, Int, Double, Double)]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (record) jobs.synchronized {
          val st = s.stageInfos.headOption.map(site(_, 100)).getOrElse("?")
          jobs(s.jobId) = J(s.jobId, s.time, -1L, st)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (record) jobs.synchronized {
          jobs.get(e.jobId).foreach(_.t1 = e.time)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (record) rows.synchronized {
          val i = s.stageInfo
          val cpu = Option(i.taskMetrics).map(_.executorCpuTime / 1e9).getOrElse(-1.0)
          val run = Option(i.taskMetrics).map(_.executorRunTime / 1e3).getOrElse(-1.0)
          rows += ((i.stageId, site(i, 110), i.numTasks, run, cpu))
        }
    })

    fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
    BenchSupport.clearState(spark)
    Bridge.drainListeners(spark)
    record = true
    val w0 = System.currentTimeMillis()
    val df = fn(spark, sfDir)
    val tBuilt = System.currentTimeMillis()
    df.write.format("noop").mode("overwrite").save()
    val w1 = System.currentTimeMillis()
    Bridge.drainListeners(spark)
    record = false
    BenchSupport.clearState(spark)
    println(f"STAGEPROFILE $name wall=${(w1 - w0) / 1e3}%.2f construct=${(tBuilt - w0) / 1e3}%.2f")
    var prevEnd = w0
    jobs.values.toSeq.sortBy(_.t0).foreach { j =>
      val gap = (j.t0 - prevEnd) / 1e3
      println(
        f"JOB id=${j.id}%3d +${(j.t0 - w0) / 1e3}%6.2fs gap=$gap%5.2fs dur=${(j.t1 - j.t0) / 1e3}%5.2fs  ${j.site}")
      prevEnd = math.max(prevEnd, j.t1)
    }
    rows.sortBy(-_._4).foreach { case (id, nm, nt, run, cpu) =>
      println(f"STAGE id=$id%4d tasks=$nt%4d run=$run%7.2f cpu=$cpu%7.2f  $nm")
    }
    spark.stop()
  }
}

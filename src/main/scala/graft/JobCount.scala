package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.Bridge

/** Load-immune cost profile: jobs / stages / tasks / executor-CPU per
  * registered query (construction + one noop-sink execution). Wall time on
  * this host swings 2× with ambient storms; scheduling counts and summed
  * task CPU time do not, so THIS is the tool for comparing plan-shape
  * changes (fewer actions, fewer stages, less total work).
  *
  * Usage: runMain graft.JobCount [sfDir] [q1,q2,...|all]
  *
  * One `JOBCOUNT <key>` line per key, then one `JOBCOUNT total` line
  * summing jobs, stages, tasks, executor CPU and wall over the keys.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 1 && args(1) != "all") args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.create("graft-jobcount")
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var cpuNs = 0L
    @volatile var runNs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          cpuNs += t.taskMetrics.executorCpuTime
          runNs += t.taskMetrics.executorRunTime * 1000000L
        }
    }
    spark.sparkContext.addSparkListener(listener)

    var (totJobs, totStages, totTasks, totCpuNs, totWall) = (0, 0, 0, 0L, 0.0)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm (codegen/JIT), untimed and uncounted
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      BenchSupport.clearState(spark)
      Bridge.drainListeners(spark)
      jobs = 0; stages = 0; tasks = 0; cpuNs = 0L; runNs = 0L
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      BenchSupport.clearState(spark)
      Bridge.drainListeners(spark)
      println(f"JOBCOUNT $name%-28s jobs=$jobs%3d stages=$stages%3d tasks=$tasks%5d cpu=${cpuNs / 1e9}%7.2f run=${runNs / 1e9}%7.2f wall=$wall%6.2f")
      totJobs += jobs; totStages += stages; totTasks += tasks
      totCpuNs += cpuNs; totWall += wall
    }
    println(f"JOBCOUNT total jobs=$totJobs stages=$totStages tasks=$totTasks cpu=${totCpuNs / 1e9}%.2f wall=$totWall%.2f")
    spark.stop()
  }
}

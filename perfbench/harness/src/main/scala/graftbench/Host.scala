package graftbench

import scala.util.Try

/** Readers for the `/proc` files the benchmark records: its own memory
  * and I/O, and the host's load and steal time. A missing file reads as
  * -1, never as an exception.
  */
object Host {
  private def lines(path: String): Seq[String] = Try {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toList finally src.close()
  }.getOrElse(Nil)

  private def field(path: String, key: String): Long =
    lines(path).find(_.startsWith(key))
      .flatMap(l => Try(l.drop(key.length).trim.split("\\s+")(0).toLong).toOption)
      .getOrElse(-1L)

  /** Peak resident set size of this process, in kB. */
  def vmHwmKb(): Long = field("/proc/self/status", "VmHWM:")

  /** Restart the peak resident set size from the current one; false if
    * the kernel does not allow it.
    */
  def resetHwm(): Boolean = Try {
    val w = new java.io.FileWriter("/proc/self/clear_refs")
    try w.write("5") finally w.close()
  }.isSuccess

  /** Bytes this process has passed to write(2) and friends so far. */
  def wcharBytes(): Long = field("/proc/self/io", "wchar:")

  /** The three load averages. */
  def loadavg(): Seq[Double] =
    lines("/proc/loadavg").headOption.toSeq
      .flatMap(_.split("\\s+").take(3).flatMap(s => Try(s.toDouble).toOption))

  /** (total, steal) jiffies summed over all CPUs; guest time is already
    * part of user time and is not added twice.
    */
  def cpuJiffies(): (Long, Long) =
    lines("/proc/stat").find(_.startsWith("cpu ")).map { l =>
      val v = l.split("\\s+").drop(1).flatMap(s => Try(s.toLong).toOption)
      (v.take(8).sum, if (v.length > 7) v(7) else 0L)
    }.getOrElse((-1L, -1L))

  /** Milliseconds this JVM has spent in garbage collection and in JIT
    * compilation so far.
    */
  def jvmMs(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(-1L)
    (gc, jit)
  }

  private def oldGen = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
  }

  /** Host load and steal, and this JVM's GC time, JIT time and old
    * generation peak, around one pass.
    */
  final case class Noise(loadBefore: Seq[Double], loadAfter: Seq[Double], stealPct: Double,
      gcMs: Long, jitMs: Long, oldGenPeakMb: Double)

  def around[A](body: => A): (A, Noise) = {
    val l0 = loadavg()
    val (t0, s0) = cpuJiffies()
    val (gc0, jit0) = jvmMs()
    oldGen.foreach(_.resetPeakUsage())
    val a = body
    val (t1, s1) = cpuJiffies()
    val (gc1, jit1) = jvmMs()
    val steal = if (t1 > t0 && t0 >= 0) 100.0 * (s1 - s0) / (t1 - t0) else -1.0
    val old = oldGen.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    (a, Noise(l0, loadavg(), steal, gc1 - gc0, jit1 - jit0, old))
  }
}

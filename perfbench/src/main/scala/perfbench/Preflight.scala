package perfbench

import scala.collection.immutable.ListMap
import scala.io.Source

/** Machine-contention evidence carried into every result, as in
  * graft.Bench: load average at start and end, hypervisor steal and
  * iowait over the run, and other live JVMs. A run that starts on a
  * loaded machine or loses CPU to steal is marked contaminated. */
object Preflight {
  val maxLoad = 1.5
  val maxStealPct = 3.0

  private def read(path: String): String = {
    val s = Source.fromFile(path)
    try s.mkString finally s.close()
  }

  private def loadAvg: Double = read("/proc/loadavg").trim.split("\\s+")(0).toDouble

  /** (steal, iowait, total) jiffies from the aggregate cpu line. */
  private def ticks: (Long, Long, Long) = {
    val p = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (p.length > 7) p(7) else 0L, if (p.length > 4) p(4) else 0L, p.sum)
  }

  private def otherJvms: Long = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().filter { p =>
      p.pid() != self && p.info().command().orElse("").contains("java")
    }.count()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  final class Started(load0: Double, jvms0: Long, t0: (Long, Long, Long)) {
    def finish(): Map[String, Any] = {
      val t1 = ticks
      val dt = (t1._3 - t0._3).max(1L).toDouble
      val steal = (t1._1 - t0._1) * 100.0 / dt
      val iowait = (t1._2 - t0._2) * 100.0 / dt
      val contaminated = load0 > maxLoad || steal > maxStealPct
      ListMap("load_avg_start" -> load0, "load_avg_end" -> loadAvg,
        "other_jvms_start" -> jvms0, "other_jvms_end" -> otherJvms,
        "steal_pct_run" -> steal, "iowait_pct_run" -> iowait,
        "max_load_gate" -> maxLoad, "max_steal_gate" -> maxStealPct,
        "contaminated" -> contaminated)
    }
  }

  def start(): Started = new Started(loadAvg, otherJvms, ticks)
}

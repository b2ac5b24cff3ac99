package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The machine around a run, from the signals the engine's own bench reads
  * (Linux /proc): 1-min loadavg, the kernel-time share, and the share of
  * CPU time spent by processes other than this one; plus the share stolen
  * by the hypervisor. A run is marked busy on the bench's thresholds for
  * the two shares (kernel time over 15%, other processes over 10% of the
  * box) or when more than 10% was stolen. The loadavg is recorded but not
  * used: back-to-back runs see the previous run's own load in it.
  */
final case class MachineState(nproc: Int, loadBefore: Double, loadAfter: Double,
                              sysPct: Double, otherBusyPct: Double, stealPct: Double) {
  def busy: Boolean = sysPct > 0.15 || otherBusyPct > 0.10 || stealPct > 0.10
  def json: String =
    f"""{"nproc":$nproc,"loadavg_before":$loadBefore%.2f,"loadavg_after":$loadAfter%.2f,""" +
      f""""sys_pct":$sysPct%.4f,"other_busy_pct":$otherBusyPct%.4f,"steal_pct":$stealPct%.4f,"busy":$busy}"""
}

object Machine {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadavg1m(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  /** (busy user, busy system, steal, total) jiffies over all CPUs. */
  private def cpu(): (Long, Long, Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(0) + f(1), f(2) + f(5) + f(6), f(7), f.take(8).sum)
  }

  /** utime + stime of this process, all threads. */
  private def self(): Long = {
    val s = Files.readString(Paths.get("/proc/self/stat"))
    val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
    rest(11).toLong + rest(12).toLong
  }

  /** Peak resident set of this process so far, in MiB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get

  /** Starts a window; the returned function closes it. */
  def window(): () => MachineState = {
    val l0 = loadavg1m()
    val (u0, s0, st0, t0) = cpu()
    val me0 = self()
    () => {
      val (u1, s1, st1, t1) = cpu()
      val me1 = self()
      val total = math.max(1L, t1 - t0).toDouble
      MachineState(nproc, l0, loadavg1m(), (s1 - s0) / total,
        math.max(0.0, ((u1 - u0) + (s1 - s0) - (me1 - me0)) / total), (st1 - st0) / total)
    }
  }
}

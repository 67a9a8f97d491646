package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Host conditions around an iteration: 1-minute load average, hypervisor
  * steal, and PSI "some" stall time for cpu and io. Recorded beside the
  * metrics and never used to drop a sample. Missing files read as 0. */
object EnvProbe {
  final case class Reading(steal: Double, psiCpu: Double, psiIo: Double)

  private def read(p: String): String =
    Try(new String(Files.readAllBytes(Paths.get(p)))).getOrElse("")

  /** Steal seconds since boot (USER_HZ = 100), from /proc/stat's cpu line. */
  private def steal: Double =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .flatMap(l => Try(l.trim.split("\\s+")(8).toDouble / 100.0).toOption).getOrElse(0.0)

  /** PSI "some" total stall seconds of a resource. */
  private def psi(res: String): Double =
    read(s"/proc/pressure/$res").linesIterator.find(_.startsWith("some"))
      .flatMap(_.split(" ").find(_.startsWith("total=")))
      .flatMap(t => Try(t.stripPrefix("total=").toDouble / 1e6).toOption).getOrElse(0.0)

  def now(): Reading = Reading(steal, psi("cpu"), psi("io"))

  def loadAvg: Double =
    Try(read("/proc/loadavg").split(" ")(0).toDouble).getOrElse(0.0)

  /** env.* values over the interval between two readings. */
  def delta(a: Reading, b: Reading): Map[String, Double] = Map(
    "env.loadavg" -> loadAvg,
    "env.steal_s" -> (b.steal - a.steal),
    "env.psi_cpu_s" -> (b.psiCpu - a.psiCpu),
    "env.psi_io_s" -> (b.psiIo - a.psiIo))
}

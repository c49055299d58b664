package perfbench

import java.nio.file.{Files, Paths}

/** Wall time net of hypervisor steal. On a shared host the hypervisor
  * gives part of this guest's CPU time to other guests; the kernel counts
  * it as `steal` in /proc/stat. Over an interval with steal share `s` of
  * all CPU time, the program ran at about `1 - s` of its speed, so its
  * wall time on an unshared host is about `wall * (1 - s)`. Where the
  * counters cannot be read the share is 0 and the time is plain wall. */
final class HostSteal private (t0: Long, s0: (Long, Long)) {
  def wallSeconds: Double = (System.nanoTime - t0) / 1e9

  /** Steal share of all CPU time since this clock started. */
  def share: Double = {
    val s1 = HostSteal.sample()
    val total = s1._2 - s0._2
    if (total <= 0) 0.0 else (s1._1 - s0._1).toDouble / total
  }

  def netSeconds: Double = {
    val w = wallSeconds
    w * (1 - share)
  }
}

object HostSteal {
  def start(): HostSteal = new HostSteal(System.nanoTime, sample())

  /** (steal, total) jiffies over all CPUs. */
  private def sample(): (Long, Long) =
    try {
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }
}

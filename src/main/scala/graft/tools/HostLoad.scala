package graft.tools

/** Shared host-contention instrument for `Bench`, `ProfQuery` and the
  * perfbench harness (r13 directive 2: single-run probe rungs inherited
  * the host ambiguity the bench escaped in r12 — the ~1.6–2× hypervisor
  * throttle that contaminated every absolute number that round was only
  * diagnosable because `Bench` sampled steal per iteration; probes printed
  * stage censuses but neither contention channel, so their rungs could
  * not be adjudicated host-vs-code after the fact).
  *
  * Two channels, because they see DIFFERENT contention:
  *  - `load1` — THIS guest's 1-min runnable queue: foreign processes in
  *    the same VM competing for the allotted vCPUs.
  *  - steal%  — hypervisor jiffies (field 8 of `/proc/stat` line 1) the
  *    guest wanted but did not get: a noisy NEIGHBOR VM slows every query
  *    uniformly while load1 stays clean (measured r12: ~2× whole-bench
  *    inflation at load1 ≈ 1 with steal ticking 1–3% even at idle).
  *
  * The total-jiffy denominator sums ONLY fields 1–8 (user..steal): on
  * Linux, guest/guest_nice (fields 9–10) are already folded into
  * user/nice, so including them double-counts guest time and deflates
  * steal% on guest-running hosts (r12 ADVICE finding).
  */
object HostLoad {

  /** 1-minute system load average (this guest's runnable queue). */
  def load1: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal jiffies, total jiffies) since boot. Total = fields 1–8
    * (user nice system idle iowait irq softirq steal) — never the raw
    * line sum (guest fields would double-count, see object doc). */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 1L) }

  /** One timed sample: (result, elapsed sec, load1 at start, steal% of
    * total jiffies across the body's wall window). */
  def measured[T](body: => T): (T, Double, Double, Double) = {
    val pre = load1
    val j0 = cpuJiffies()
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    val j1 = cpuJiffies()
    val steal = 100.0 * (j1._1 - j0._1).max(0L) / (j1._2 - j0._2).max(1L)
    (r, secs, pre, steal)
  }
}

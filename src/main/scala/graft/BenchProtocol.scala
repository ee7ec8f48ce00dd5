package graft

/** The timing protocol shared by the two benchmark mains ([[Bench]],
  * test-side `BenchSf1`) — one implementation of the load gate, the
  * best-of-N discipline and the contended-stamp decision, so the two
  * runners cannot silently diverge on a load-bearing detail (they
  * already had: one sampled its stamp loadavg after session startup,
  * flagging genuinely idle runs as contended).
  */
private[graft] object BenchProtocol {

  /** min / median / spread (max/min) of one query's N timings, plus the
    * FIRST (iteration-1) timing: for a query whose first run constructs
    * a session-shared `graft.memo.*` artifact, `first` is the
    * memo-INCLUSIVE cold number, carried next to the best-of-N minimum
    * because the minimum hides the memo's construction. */
  final case class Timing(min: Double, med: Double, spread: Double,
                          first: Double)

  /** 1-minute system load: a contention-skewed timing (two judge reruns
    * disagreed with committed numbers on a loaded builder box) is
    * self-identifying in the artifact. */
  def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception =>
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    }

  /** Wait (bounded) for the 1-minute load to drop under `gate` and
    * return the PRE-SESSION reading — the number every contended-stamp
    * decision must key on. Sampling after Spark startup or warm-up
    * reads the bench's OWN load (committed idle artifacts show
    * post-warmup loadavg 1.36-1.4 on an idle box) and would flag
    * genuinely idle runs. */
  def gateWait(gate: Double, deadlineSec: Long, tag: String): Double = {
    val deadline = System.nanoTime() + deadlineSec * 1000000000L
    var l = loadavg()
    while (l >= gate && System.nanoTime() < deadline) {
      System.err.println(f"[$tag] loadavg $l%.2f >= $gate%.1f — waiting")
      Thread.sleep(10000)
      l = loadavg()
    }
    l
  }

  /** Best-of-N: committed values are MINIMA by protocol; median and
    * spread ride along so drift adjudication reads a column, not prose.
    * The spread divide is guarded against a 0-second min (a failed or
    * trivially-cached run must not produce Infinity in the artifact). */
  def bestOfN(n: Int)(once: => Double): Timing = {
    require(n >= 1, s"best-of-N needs N >= 1, got $n")
    val raw = Seq.fill(n)(once)
    val ts = raw.sorted
    Timing(ts.head, ts(ts.size / 2), ts.last / math.max(ts.head, 1e-9),
      raw.head)
  }
}

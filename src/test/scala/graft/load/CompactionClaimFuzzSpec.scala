package graft.load

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Randomized interleaving fuzz of the compaction claim protocol —
  * claim / heartbeat / short stall / verify / release /
  * crash-before-release — over one shared store dir, from several
  * claimant "processes" (one TripletStore instance per thread, so each
  * keeps its own observe-no-progress memory, as separate JVMs would).
  * The marker-truncate race and the retention version-slot race were
  * both caught by fuzzes; the claim/heartbeat/verify/release state
  * machine had only deterministic-stub specs until this one.
  *
  * Invariants asserted across every interleaving:
  *  - single-owner: a successful claim never coexists with a LIVE
  *    (beating or intra-window-stalled) owner;
  *  - a live owner's verify at the deletion gate always passes — no
  *    level could ever be deleted under a foreign claim;
  *  - an observed-dead takeover only fires while NO live owner stands;
  *  - the marker is never lost: after quiescence it either is absent
  *    (last owner released) or carries a crashed owner's token.
  *
  * Timing margins: the liveness window (2000 ms) is 80x the heartbeat
  * interval (25 ms), mirroring production's 1 h / 10 min ratio, so
  * scheduler jitter cannot make a beating owner look frozen. Each of
  * the two 4-thread rounds runs for at least 4.5 s and until it has
  * made its share of the claim floor: one crash-before-release holds
  * the marker for a whole liveness window, so a fixed deadline alone
  * can end a round with too few claims. A round that misses its share
  * by the hard cap fails loudly. A deterministic takeover epilogue
  * follows. */
class CompactionClaimFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val WindowMs = 2000L
  private val Rounds = 2
  private val MinClaims = 4
  private val RoundMinMs = 4500L
  private val RoundCapMs = 30000L

  test("claim protocol fuzz: single owner, no lost marker, takeover only of the dead") {
    val dir = Files.createTempDirectory("store_claimfuzz").toString
    val active = new AtomicInteger(0)
    val takeovers = new AtomicInteger(0)
    val claims = new AtomicInteger(0)
    val violations = new ConcurrentLinkedQueue[String]()
    val crashed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val released = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    def mkStore(): TripletStore =
      new TripletStore(spark, dir, autoCompactEvery = 0) {
        override protected def claimLivenessWindowMs: Long = WindowMs
        override protected def onClaimTakeover(observed: String): Unit = {
          takeovers.incrementAndGet()
          val n = active.get()
          if (n != 0)
            violations.add(s"takeover fired while $n live owner(s) stand " +
              s"(observed: $observed)")
        }
      }

    def claimant(seed: Int, roundClaims: AtomicInteger, minNs: Long, capNs: Long): Thread = new Thread(() => {
      val rnd = new scala.util.Random(seed)
      val store = mkStore()
      def going = {
        val now = System.nanoTime()
        now < capNs && (now < minNs || roundClaims.get() < MinClaims / Rounds)
      }
      while (going) {
        try {
          val token = store.claimCompaction()
          claims.incrementAndGet()
          roundClaims.incrementAndGet()
          val n = active.incrementAndGet()
          if (n != 1)
            violations.add(s"$n live owners after claim of $token")
          // 20%: a SHORT heartbeat stall (shorter than the window) — a
          // GC-paused owner that must survive; else a beating owner
          val hb =
            if (rnd.nextInt(100) < 20) None
            else Some(store.startCompactionHeartbeat(token, intervalMs = 25))
          Thread.sleep(60 + rnd.nextInt(200))
          // the deletion gate of a live owner must always hold
          try store.verifyCompactionClaim(token)
          catch {
            case e: Throwable =>
              violations.add(s"live owner $token lost its claim: $e")
          }
          hb.foreach { t => t.interrupt(); t.join(1000) }
          active.decrementAndGet()
          if (rnd.nextInt(100) < 60) {
            store.releaseCompaction(token)
            released.add(token)
          } else crashed.add(token) // crash-before-release: abandon it
        } catch {
          case _: TripletStore.ConcurrentCompactionException =>
            Thread.sleep(20 + rnd.nextInt(60))
        }
      }
    })

    (0 until Rounds).foreach { round =>
      val roundClaims = new AtomicInteger(0)
      val start = System.nanoTime()
      val threads = (0 until 4).map(i => claimant(round * 100 + i, roundClaims,
        start + RoundMinMs * 1000000, start + RoundCapMs * 1000000))
      threads.foreach(_.start())
      threads.foreach(_.join(RoundCapMs + 10000))
      assert(roundClaims.get() >= MinClaims / Rounds,
        s"round $round hit its ${RoundCapMs / 1000} s cap with only " +
          s"${roundClaims.get()} claims")
    }

    // deterministic takeover epilogue: guarantee the dead-owner arm ran
    // even if the random rounds never left a crashed marker behind
    val marker = new java.io.File(dir, TripletStore.CompactionMarker)
    val epi = mkStore()
    if (!marker.exists()) {
      val t = epi.claimCompaction()
      crashed.add(t) // claim then abandon — a synthetic crashed owner
    }
    val taker = mkStore()
    intercept[TripletStore.ConcurrentCompactionException] {
      taker.claimCompaction() // first sighting starts the window
    }
    Thread.sleep(WindowMs + 200)
    val winner = taker.claimCompaction()
    taker.releaseCompaction(winner)
    released.add(winner)

    assert(violations.isEmpty, s"protocol violations: " +
      violations.toArray.mkString("; "))
    assert(claims.get() >= MinClaims, s"only ${claims.get()} claims — fuzz too idle")
    assert(takeovers.get() >= 1, "the takeover arm never exercised")
    assert(!marker.exists() ||
      crashed.contains(
        java.nio.file.Files.readString(marker.toPath).trim),
      "a standing marker must belong to a crashed owner")
    Scratch.rm(new java.io.File(dir))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.TrialMeter
import graft.tools.TrialMeter.TrialStat

/** The bench's contention self-diagnosis (round 13, after BENCH_r12's
  * driver artifact masqueraded as a 2.3x regression until a quiet-box
  * re-run refuted it): the pure flagger on synthetic trials, the
  * /proc-based measurement plumbing, and the verdict-requested
  * end-to-end demonstration — an INJECTED external busy-spin during a
  * measured window trips the flag, a quiet window does not.
  */
class TrialMeterSpec extends AnyFunSuite {

  private def quiet(wall: Double) =
    TrialStat(wall, cpuSec = wall * 8.0, extShare = 0.02, load1 = 1.0)

  test("flags: five consistent quiet trials flag nothing") {
    val fl = TrialMeter.flags(Seq.fill(5)(quiet(1.0)))
    assert(fl == Seq(false, false, false, false, false))
  }

  test("flags: inflated wall with flat cpu (descheduled executor) is flagged") {
    // four quiet 1s trials at 8x parallelism + one 10s trial whose
    // cpu stayed ~8s: ratio collapsed 10x, wall inflated 10x —
    // exactly q5_join's 9.05s->41.95s r12 signature
    val bad = TrialStat(10.0, cpuSec = 8.0, extShare = 0.02, load1 = 1.0)
    val fl = TrialMeter.flags(Seq.fill(4)(quiet(1.0)) :+ bad)
    assert(fl == Seq(false, false, false, false, true))
  }

  test("flags: high external busy share is flagged even with stable ratio " +
    "(calibrated-quiet box)") {
    val loaded = TrialStat(2.0, cpuSec = 16.0, extShare = 0.6, load1 = 40.0)
    val fl = TrialMeter.flags(Seq.fill(4)(quiet(2.0)) :+ loaded,
      extBaseline = 0.0)
    assert(fl.last)
  }

  test("flags: absolute gauge self-disables on an always-saturated host") {
    // shared infra: /proc/stat reads ~full busy at rest (other
    // tenants) — with the measured baseline, steady high extShare is
    // the box's normal, not contamination (observed: 1536/1536 trials
    // false-flagged before calibration)
    val steady = TrialStat(1.0, cpuSec = 8.0, extShare = 0.85, load1 = 35.0)
    val fl = TrialMeter.flags(Seq.fill(5)(steady), extBaseline = 0.8)
    assert(!fl.exists(identity))
    // ...and uncalibrated (default baseline) it is off entirely
    assert(!TrialMeter.flags(Seq.fill(5)(steady)).exists(identity))
  }

  test("flags: a genuinely slower trial that KEPT its parallelism is NOT flagged") {
    // 2x wall with 2x cpu = the same plan doing more work (spill,
    // GC) — a real signal the median should see, not contamination
    val slow = TrialStat(2.0, cpuSec = 16.0, extShare = 0.02, load1 = 1.0)
    val fl = TrialMeter.flags(Seq.fill(4)(quiet(1.0)) :+ slow)
    assert(!fl.last)
  }

  test("flags: sub-50ms trials are never flagged (scheduler noise)") {
    val tiny = TrialStat(0.04, cpuSec = 0.001, extShare = 0.9, load1 = 1.0)
    assert(!TrialMeter.flags(Seq.fill(5)(tiny), extBaseline = 0.0)
      .exists(identity))
  }

  test("flags: missing /proc data (ext=-1, cpu=-1) degrades to no absolute flag") {
    val noProc = TrialStat(1.0, cpuSec = -1.0, extShare = -1.0, load1 = -1.0)
    assert(!TrialMeter.flags(Seq.fill(5)(noProc)).exists(identity))
  }

  test("rampIndices: the observed r14 q_profile ramp is detected and its " +
    "inflated trials named") {
    // BENCH_r14's actual warm walls on code untouched since r12 —
    // cpu tracked wall, so flags() provably could not fire
    val r = TrialMeter.rampIndices(Seq(1.96, 1.71, 5.12, 11.30, 13.87))
    assert(r == Seq(2, 3, 4), s"got $r")
  }

  test("rampIndices: a monotone 5x ramp (mm_audio shape) fires") {
    val r = TrialMeter.rampIndices(Seq(1.09, 1.8, 2.9, 4.4, 5.81))
    assert(r.nonEmpty && r.contains(4))
  }

  test("rampIndices: flat trials with jitter do not fire") {
    assert(TrialMeter.rampIndices(Seq(2.0, 2.3, 1.9, 2.2, 2.4)).isEmpty)
    // last/first just over 2x but second half not uniformly slower
    assert(TrialMeter.rampIndices(Seq(1.0, 2.5, 1.1, 1.2, 2.1)).isEmpty)
  }

  test("rampIndices: a single late spike is the median's job, not a ramp") {
    assert(TrialMeter.rampIndices(Seq(2.0, 2.0, 2.0, 2.0, 8.0)).isEmpty)
  }

  test("rampIndices: two late spikes (load arriving mid-query) do fire") {
    assert(TrialMeter.rampIndices(Seq(2.0, 2.0, 2.0, 8.0, 9.0)) == Seq(3, 4))
  }

  test("rampIndices: sub-minWall runs and short sequences never fire") {
    assert(TrialMeter.rampIndices(Seq(0.01, 0.02, 0.04, 0.04, 0.045)).isEmpty)
    assert(TrialMeter.rampIndices(Seq(1.0, 9.0)).isEmpty)
    assert(TrialMeter.rampIndices(Nil).isEmpty)
  }

  test("decayIndices: the observed r15 q_sq8 decaying head is detected and " +
    "the median falls back to the settled tail") {
    // BENCH_r15's actual warm walls on code unchanged since r10 (board
    // median 7.92 s vs a 0.69 s quiet-box truth): a load burst present
    // at the query's START decayed across trials — rampIndices fires
    // only on increases, and cpu tracked wall so flags() could not
    // fire either
    val walls = Seq(15.59, 7.92, 6.66, 8.01, 3.55)
    val d = TrialMeter.decayIndices(walls)
    assert(d == Seq(0, 1), s"got $d")
    val kept = walls.zipWithIndex.collect {
      case (w, i) if !d.contains(i) => w }
    assert(kept.sorted.apply(kept.length / 2) == 6.66)
  }

  test("decayIndices: the inverted r14 q_profile ramp fires as a decay") {
    val d = TrialMeter.decayIndices(Seq(13.87, 11.30, 5.12, 1.71, 1.96))
    assert(d == Seq(0, 1, 2), s"got $d")
  }

  test("decayIndices: flat trials with jitter do not fire") {
    assert(TrialMeter.decayIndices(Seq(2.4, 2.2, 1.9, 2.3, 2.0)).isEmpty)
    // head/tail just over 2x but first half not uniformly slower
    assert(TrialMeter.decayIndices(Seq(2.1, 1.2, 1.1, 2.5, 1.0)).isEmpty)
  }

  test("decayIndices: an increasing ramp is rampIndices' job, not a decay") {
    assert(TrialMeter.decayIndices(Seq(1.96, 1.71, 5.12, 11.30, 13.87)).isEmpty)
  }

  test("decayIndices: a single early spike fires but is conservative in " +
    "effect (flagged head trials leave the median at tail level)") {
    // a 2-element first-half median IS its max, so the gauge fires;
    // the flagged head is the spike plus a tail-level wall whose
    // exclusion leaves the median where the tail puts it
    val walls = Seq(8.0, 2.0, 2.0, 2.0, 2.0)
    val d = TrialMeter.decayIndices(walls)
    assert(d == Seq(0, 1), s"got $d")
    val kept = walls.zipWithIndex.collect {
      case (w, i) if !d.contains(i) => w }
    assert(kept.sorted.apply(kept.length / 2) == 2.0)
  }

  test("decayIndices: sub-minWall runs and short sequences never fire") {
    assert(TrialMeter.decayIndices(Seq(0.045, 0.04, 0.04, 0.02, 0.01)).isEmpty)
    assert(TrialMeter.decayIndices(Seq(9.0, 1.0)).isEmpty)
    assert(TrialMeter.decayIndices(Nil).isEmpty)
  }

  test("snap/stat measure real process cpu against wall") {
    val a = TrialMeter.snap()
    // ~200ms of single-thread spin: cpu and wall should both be
    // positive and the ratio sane (not 32x, not 0)
    val until = System.nanoTime() + 200L * 1000 * 1000
    var x = 0L
    while (System.nanoTime() < until) { x += 1 }
    val st = TrialMeter.stat(a, TrialMeter.snap(), cores = 32)
    assert(x > 0)
    assert(st.wallSec > 0.15 && st.wallSec < 5.0)
    assert(st.cpuSec > 0.05, s"process cpu not measured: $st")
    assert(st.cpuWallRatio > 0.2 && st.cpuWallRatio < 4.0, s"ratio off: $st")
  }

  test("stat: gc seconds are a clamped delta of the snaps' gc millis") {
    import TrialMeter.Snap
    val a = Snap(0L, 0L, 0L, 1.0, gcMillis = 1000L)
    val b = Snap(2L * 1000 * 1000 * 1000, 8L * 1000 * 1000 * 1000,
      200L, 1.0, gcMillis = 1350L)
    assert(math.abs(TrialMeter.stat(a, b, 32).gcSec - 0.35) < 1e-9)
    // either side unavailable -> -1, never a fabricated zero
    assert(TrialMeter.stat(a.copy(gcMillis = -1L), b, 32).gcSec == -1.0)
    assert(TrialMeter.stat(a, b.copy(gcMillis = -1L), 32).gcSec == -1.0)
  }

  test("snap/stat attribute real GC time to the window (allocation burst)") {
    val a = TrialMeter.snap()
    assume(a.gcMillis >= 0, "no collection-time-reporting GC beans")
    // force at least one collection inside the window: allocate
    // garbage, then request a full GC (System.gc honored by default
    // collectors; if a JVM ignores it the delta is simply >= 0)
    var junk: Array[Byte] = null
    (1 to 64).foreach { _ => junk = new Array[Byte](4 * 1024 * 1024) }
    assert(junk != null)
    System.gc()
    val st = TrialMeter.stat(a, TrialMeter.snap(), cores = 32)
    assert(st.gcSec >= 0.0, s"gc delta should be measurable, got $st")
  }

  test("injected external busy-spin trips the flag; quiet window does not") {
    val cores = Runtime.getRuntime.availableProcessors()
    def window(seconds: Double): TrialMeter.TrialStat = {
      val a = TrialMeter.snap()
      Thread.sleep((seconds * 1000).toLong)
      TrialMeter.stat(a, TrialMeter.snap(), cores)
    }
    val base = window(0.5)
    assume(base.extShare >= 0, "no /proc/stat on this platform")
    assume(base.extShare < 0.2,
      s"box already loaded (ext=${base.extShare}) — can't demonstrate")
    // saturate ~all cores with EXTERNAL processes (in-process threads
    // would raise our own cpu, which is exactly what external load
    // does not do), self-terminating via timeout
    val burners = (1 to cores).map { _ =>
      new ProcessBuilder("timeout", "3", "sh", "-c", "while :; do :; done")
        .start()
    }
    try {
      Thread.sleep(300) // let the burners reach full burn
      val loaded = window(1.0)
      assert(loaded.extShare > base.extShare + 0.3,
        s"external load not visible: $loaded (base $base)")
      // and the absolute gauge, calibrated at this run's own rest
      // state, flags it among quiet trials
      val fl = TrialMeter.flags(Seq(base, base, base, base, loaded),
        extBaseline = base.extShare)
      assert(fl.last, s"loaded window not flagged: $loaded")
    } finally burners.foreach { p =>
      // kill the shells too: SIGKILL on `timeout` orphans its child,
      // which would then spin forever
      p.descendants().forEach { d => d.destroyForcibly(); () }
      p.destroyForcibly()
    }
  }
}

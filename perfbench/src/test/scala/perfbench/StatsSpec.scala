package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 0.5) === 50.0)
    assert(percentile(xs, 0.9) === 90.0)
    assert(percentile(xs, 0.99) === 99.0)
    assert(percentile(xs, 1.0) === 100.0)
    assert(percentile(xs, 0.0) === 1.0)
    assert(percentile(Seq(3.0, 1.0, 2.0), 0.5) === 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(median(Seq(7.0)) === 7.0)
    assertThrows[IllegalArgumentException](percentile(Nil, 0.5))
  }

  test("a percentile needs ten samples beyond it") {
    assert(supported(100, 0.9))
    assert(!supported(100, 0.95))
    assert(supported(1000, 0.99))
    assert(!supported(999, 0.99))
    assert(supported(375, 0.95))
    assert(supported(40, 0.75))
    assert(!supported(39, 0.75))
  }

  test("open-loop schedule: request i is due i / rate after the start") {
    val s = Schedule(startNs = 1000L, ratePerS = 100.0)
    assert(s.dueNs(0) === 1000L)
    assert(s.dueNs(3) === 1000L + 30000000L)
    assert(Schedule(0L, 3.0).dueNs(1) === 333333333L)
  }

  test("open-loop latency runs from the due time, so a stall charges later requests") {
    // one connection at 100/s: request 0 stalls 60 ms, the next ones are
    // sent late and their latency includes the wait
    val ts = Load.openLoop(ratePerS = 100.0, seconds = 0.05, conns = 1) { (_, i) =>
      if (i == 0) Thread.sleep(60)
    }
    assert(ts.size === 5)
    val byDue = ts.sortBy(_.dueNs)
    byDue.zipWithIndex.foreach { case (t, i) =>
      assert(t.dueNs - byDue.head.dueNs === i * 10000000L)
      assert(t.doneNs >= t.sentNs && t.sentNs >= t.dueNs - 1000000L)
    }
    // request 1 was due 10 ms in but could only go out after the 60 ms stall
    assert(byDue(1).latencyMs >= 45.0)
    assert(byDue(1).latenessMs >= 45.0)
    assert(byDue(4).latencyMs >= 15.0)
    assert(backlogMax(ts) >= 3)
  }

  test("backlog: growing lateness is detected, a steady one is not") {
    val ms = 1000000L
    val steady = (0 until 30).map(i => Timing(i * 10 * ms, i * 10 * ms + 2 * ms, i * 10 * ms + 5 * ms))
    assert(!backlogGrowing(steady))
    assert(backlogMax(steady) === 0)
    // service takes 15 ms per request at one request per 10 ms: each request
    // leaves 5 ms later than the one before
    val growing = (0 until 30).map { i =>
      val sent = i * 15 * ms
      Timing(i * 10 * ms, sent, sent + 15 * ms)
    }
    assert(backlogGrowing(growing))
    assert(backlogMax(growing) >= 9)
    // a single slow request early on is not a backlog
    val blip = steady.updated(2, Timing(20 * ms, 60 * ms, 70 * ms))
    assert(!backlogGrowing(blip))
    assert(!backlogGrowing(steady.take(5)))
  }
}

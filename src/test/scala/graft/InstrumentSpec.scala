package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Instrument

class InstrumentSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("listener counts completed actions and output rows") {
    Instrument.install(spark)
    Instrument.install(spark) // idempotent
    Instrument.reset()
    val n = graft.io.Tables.nation(spark, TestSpark.sf).collect().length
    // listener delivery is asynchronous — poll until it lands
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (Instrument.get("queries.success") < 1 &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(Instrument.get("queries.success") == 1,
      s"snapshot=${Instrument.snapshot()}")
    assert(Instrument.get("rows.out") == n)
    assert(Instrument.get("queries.nanos") > 0)
    // manual counters (the rurouni metricsReceived analog)
    Instrument.inc("points.received", 42)
    assert(Instrument.snapshot()("points.received") == 42)
  }

  test("memo counters: a repeat is a hit, the bound evicts once, " +
      "a failed build inserts nothing") {
    import graft.util.SessionMemo
    val sf = TestSpark.sf
    SessionMemo.clear()
    Instrument.reset()
    val first = SessionMemo.getOrBuild(spark, sf, "spec.k0")(new Object)
    assert(SessionMemo.getOrBuild(spark, sf, "spec.k0")(new Object) eq first)
    assert(Instrument.get("memo.hit") == 1 &&
      Instrument.get("memo.miss") == 1 && Instrument.get("memo.evict") == 0)
    (1 to SessionMemo.MaxEntries).foreach(i =>
      SessionMemo.getOrBuild(spark, sf, s"spec.k$i")(new Object))
    assert(Instrument.get("memo.evict") == 1,
      s"bound + 1 keys must evict once: ${Instrument.snapshot()}")
    assert(!(SessionMemo.getOrBuild(spark, sf, "spec.k0")(new Object) eq first),
      "the oldest entry must be the evicted one")
    intercept[IllegalStateException](SessionMemo.getOrBuild[AnyRef](
      spark, sf, "spec.fail")(throw new IllegalStateException("build failed")))
    var builds = 0
    SessionMemo.getOrBuild(spark, sf, "spec.fail") { builds += 1; new Object }
    assert(builds == 1, "a failed build must leave no entry")
    SessionMemo.clear()
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PoolsSpec extends AnyFunSuite {

  test("the three pools partition the engine's declared queries") {
    val all = Pools.olap ++ Pools.corpus ++ Pools.maintenance
    assert(all.size == all.distinct.size)
    assert(all.toSet == graft.SparkEntry.queries.keySet)
    assert((Pools.olap.size, Pools.corpus.size, Pools.maintenance.size) == (211, 82, 8))
  }

  test("a stratified sample takes the middle query of each equal stratum") {
    val pool = (0 until 20).map(i => f"q$i%02d")
    assert(Pools.stratified(pool, 4) == Seq("q02", "q07", "q12", "q17"))
    assert(Pools.stratified(pool.take(8), 3) == Seq("q01", "q03", "q06"))
    assert(Pools.stratified(pool, 20) == pool)
  }

  test("the maintenance sample is drawn from the pool and leaves out q242, which writes nothing") {
    assert(Pools.maintenanceSample.forall(Pools.maintenance.contains))
    assert(!Pools.maintenanceSample.contains("q242_scd2_fold"))
  }

  test("timed rounds are a fixed count scaled by --seconds") {
    assert(Main.timedRounds("table_maintenance", 10) == 2)
    assert(Main.timedRounds("ingest_train", 10) == 3)
    assert(Main.timedRounds("olap_mix", 20) == 4)
    assert(Main.timedRounds("ingest_train", 1) == 1)
  }
}

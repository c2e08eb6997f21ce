package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[tools.BenchFloors]] contract the elevated-minimum detector
  * rides on: the checked-in resource parses, covers the catalog at
  * steady-state scale, carries the `_sf` scale tag, and sf dirs parse. */
class BenchFloorsSpec extends AnyFunSuite {

  test("checked-in floor table parses and covers the whole catalog") {
    val floors = tools.BenchFloors.load()
    assert(floors.nonEmpty, "bench_floors.tsv resource must be present")
    // every catalog query has a floor (regenerate after catalog changes),
    // and every floor is a positive steady-state seconds value
    val missing = SparkEntry.queries.keySet -- floors.keySet
    assert(missing.isEmpty, s"queries without floors: $missing")
    val bad = floors.filter { case (_, v) => v <= 0 || v > 600 }
    assert(bad.isEmpty, s"implausible floors: $bad")
  }

  test("floors are steady-state scale: no floor claims under 10ms") {
    // a sub-10ms floor would make the 2x elevation gate fire on pure
    // scheduling noise; ElevatedMinSec guards the detector, but the
    // table itself should never carry such a value for a Spark query
    val floors = tools.BenchFloors.load() - "_sf"
    assert(floors.values.forall(_ >= 0.01))
  }

  test("table carries the _sf scale tag matching its provenance") {
    // floors measured at one scale are meaningless expectations at
    // another: Bench compares this tag to the session dir and disables
    // the elevated-minimum check on mismatch instead of mass-misfiring
    val floors = tools.BenchFloors.load()
    assert(floors.get("_sf").contains(0.1),
      s"_sf=${floors.get("_sf")} — floor table not generated at sf0.1?")
  }

  test("sfOf parses sf dirs and refuses sf-less dirs") {
    assert(tools.BenchFloors.sfOf("/root/testdata/sf0.1").contains(0.1))
    assert(tools.BenchFloors.sfOf("/root/testdata/sf0.001").contains(0.001))
    assert(tools.BenchFloors.sfOf("/data/sf1").contains(1.0))
    // ScaleGen output dirs carry no sf segment — the guard must refuse
    // to compare rather than guess
    assert(tools.BenchFloors.sfOf("/tmp/scale100ev").isEmpty)
    assert(tools.BenchFloors.sfOf("/tmp/work").isEmpty)
  }
}

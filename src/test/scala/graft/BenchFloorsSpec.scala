package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[tools.BenchFloors]] contract the elevated-minimum detector
  * rides on: the checked-in resource parses, covers the catalog at
  * steady-state scale, carries the `_sf` and `_cpus` session tags that
  * gate it per session, and sf dirs parse. */
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

  test("table carries the _cpus core-count tag matching its provenance") {
    // measured at local[32]: a local[4] session must not read these
    // floors as its own expectations
    assert(tools.BenchFloors.load().get("_cpus").contains(32.0))
  }

  test("floors apply only to a session at the table's scale and core count") {
    val tagged = Map("_sf" -> 0.1, "_cpus" -> 32.0, "q_x" -> 1.0)
    def use(floors: Map[String, Double], dir: String, cpus: Int) =
      tools.BenchFloors.forSession(floors, dir, cpus)
    assert(use(tagged, "/data/sf0.1", 32) == Right(tagged))
    assert(use(tagged, "/data/sf0.1", 4).left.exists(_.contains("cpus=32")))
    assert(use(tagged, "/data/sf0.01", 32).left.exists(_.contains("sf=0.1")))
    assert(use(tagged, "/tmp/scale100ev", 32).isLeft)
    // an untagged axis (a legacy table) matches any session
    assert(use(tagged - "_cpus", "/data/sf0.1", 4) == Right(tagged - "_cpus"))
    assert(use(tagged - "_sf", "/tmp/work", 32) == Right(tagged - "_sf"))
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

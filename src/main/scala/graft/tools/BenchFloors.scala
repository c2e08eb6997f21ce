package graft.tools

/** Per-query EXPECTED-MIN floor table for [[graft.Bench]]'s
  * elevated-minimum detector.
  *
  * `warm_anomalies` only fires when a NON-FIRST pass exceeds 2× the
  * query's own session min, so a query whose every pass is slow — an
  * ELEVATED MINIMUM (round 10: q_join_cardinality 7.85 s in the driver
  * session vs 1.70 s controlled, same code) — sails through. Catching it
  * needs an expectation EXTERNAL to the session: this table, the
  * per-query steady-state mins of controlled builder sessions (Bench
  * alone on an otherwise idle box), checked into the repo. When a session
  * min exceeds [[graft.Bench.ElevatedMinRatio]]× its floor, Bench records
  * the best pass's GC fraction and [[StageAudit]] stage/task breakdown
  * under `elevated_minima` in BENCH_DETAIL.
  *
  * Format (`bench_floors.tsv` resource): `#`-comment provenance header,
  * then `name<TAB>floor_seconds` lines. Pseudo-entries: `_sf` and
  * `_cpus`, the scale and core count the floors were measured at, and
  * `_warmup:<part>`, the floors of the one-time shared builds.
  * Regenerate with `scripts/make_floors.py` from controlled
  * BENCH_DETAIL.json artifacts whenever query code or the
  * catalog changes — a stale floor fires a false elevation (annoying but
  * loud) rather than masking a real one, the right failure direction. */
object BenchFloors {
  val Resource = "/bench_floors.tsv"

  /** Numeric scale factor parsed from an sf-dir path (`…/sf0.1` → 0.1);
    * None when the path carries no `sf<number>` segment (e.g. a ScaleGen
    * output dir like `/tmp/scale100ev`). The floor table's `_sf`
    * pseudo-entry (written by `scripts/make_floors.py`) is compared
    * against this at Bench startup: floors measured at one scale are
    * meaningless expectations at another — a mismatch (or an
    * unparseable dir) disables the elevated-minimum check instead of
    * firing a mass false elevation that pays the 2 s straggler poll per
    * query and floods BENCH_DETAIL. */
  private val SfPattern = "sf([0-9]+(?:\\.[0-9]+)?)".r
  def sfOf(dir: String): Option[Double] =
    SfPattern.findAllMatchIn(dir).toSeq.lastOption
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)

  /** The table `floors` as it applies to a session over `sfDir` with
    * `cpus` cores, or why it does not: floors from another scale or core
    * count are meaningless expectations (a local[4] session against
    * local[32] floors flags dozens of queries on core count alone). A
    * table without a tag (legacy) matches any session on that axis; a
    * tagged `_sf` against an sf-less dir does not match. */
  def forSession(floors: Map[String, Double], sfDir: String,
      cpus: Int): Either[String, Map[String, Double]] =
    (floors.get("_sf"), sfOf(sfDir), floors.get("_cpus")) match {
      case (Some(fs), ds, _) if !ds.exists(d => math.abs(fs - d) < 1e-9) =>
        Left(s"floor table sf=$fs does not match session dir $sfDir " +
          s"(${ds.fold("no sf segment")(_.toString)})")
      case (_, _, Some(fc)) if fc != cpus =>
        Left(s"floor table cpus=${fc.toInt} does not match the session's $cpus")
      case _ => Right(floors)
    }

  /** name → controlled floor seconds (incl. the pseudo-entries); empty
    * when the resource is absent (elevation checks then no-op). */
  def load(): Map[String, Double] = {
    val in = getClass.getResourceAsStream(Resource)
    if (in == null) return Map.empty
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          l.split('\t') match {
            case Array(n, v) => scala.util.Try(n -> v.toDouble).toOption
            case _ => None
          }
        }.toMap
    } finally in.close()
  }
}

#!/usr/bin/env python3
"""Regenerate src/main/resources/bench_floors.tsv from one or more
BENCH_DETAIL.json artifacts (controlled sessions — Bench alone, or a
full-pipeline session on an otherwise idle box).

Usage: python3 scripts/make_floors.py [--cpus N] <detail.json> [...]

`--cpus N` names the core count of artifacts that predate Bench's
`parallelism` key; an artifact that carries the key must agree with it.

With several artifacts the floor is the PER-QUERY MIN across them — a
single session's min still carries that session's ambient, and the
elevated-minimum detector wants the best credible steady state. CREDIBLE
is load-bearing: a reading far below every other session's is the box's
one-time scheduling luck, not a reproducible steady state (r11
q_importance_resample: 1.02 in one session vs 1.88/1.89 in the others —
the 1.02 floor then made the query's TYPICAL ~1.9-2.0 steady fire 2x
elevations on quiet post-burst probes; note the committed r12 table
intentionally KEPT that 1.02 floor, because session E's 1.417 later
corroborated it under the pairwise rule — the guard is judgement about
reproducibility, not a clamp). Round 13 hardens the rule against
CORRELATED luck (two sessions both catching the same favorable
scheduling window, which the old smallest-vs-second-smallest compare
waved through): the floor is the smallest reading that is >= 0.6 x the
MEDIAN of all sessions' readings (>=3 sessions; with fewer, plain min).

RETENTION (round-13 directive #7): floors must stay regenerable, so the
provenance list is bounded — at most the 6 NEWEST artifacts (by file
mtime) are used; older ones are dropped loudly. Artifacts predating a
query-code or catalog change must not be passed at all (their floors
describe retired plans); the drift guard below catches catalog-era
mixing but cannot see plan changes.

Writes name<TAB>floor_seconds per catalog query, `_sf` and `_cpus` tags
(the scale and core count; graft.Bench checks both against its session)
and `_warmup:<part>` floors for the one-time shared builds.
`_shared_warmup` is excluded: it is a one-time build total, not a
steady-state floor.
Only queries present in EVERY artifact get a floor (a query added after
an old artifact must wait for a fresh controlled run).
"""
import json, re, sys, datetime, os


MAX_ARTIFACTS = 6


def credible_floor(readings):
    """Smallest reading that is >= 0.6 x the median — one or two sessions'
    correlated scheduling luck must not lock in a floor the box cannot
    reproduce on a quiet day. The median itself always qualifies, so the
    result is total; with <3 sessions there is no robust center, keep the
    plain min."""
    srt = sorted(readings)
    if len(srt) < 3:
        return srt[0]
    med = srt[len(srt) // 2]
    return next(s for s in srt if s >= 0.6 * med)


def session_cpus(arts, given):
    """The one core count of every artifact: each artifact's `parallelism`
    (local[N] gives N), else `given`. Floors from mixed core counts would
    describe no session, so a disagreement refuses."""
    seen = {a.get("parallelism", given) for a in arts}
    assert None not in seen, (
        "an artifact has no `parallelism` key — name its core count "
        "with --cpus N")
    assert len(seen) == 1, f"artifacts span different core counts: {seen}"
    return int(seen.pop())


def main(argv):
    cpus = None
    if argv[:1] == ["--cpus"]:
        cpus, argv = int(argv[1]), argv[2:]
    paths = argv
    # retention: bound the provenance list to the newest artifacts so the
    # table stays regenerable and old burst-struck sessions age out
    if len(paths) > MAX_ARTIFACTS:
        by_age = sorted(paths, key=os.path.getmtime, reverse=True)
        kept, dropped = by_age[:MAX_ARTIFACTS], by_age[MAX_ARTIFACTS:]
        print(f"retention: using the {MAX_ARTIFACTS} newest artifacts; "
              f"dropped {', '.join(os.path.basename(p) for p in dropped)}")
        paths = sorted(kept)  # stable header order
    arts = [json.load(open(p)) for p in paths]
    # mixing scales would silently collapse every floor to the smaller
    # SF's timings while the header claims the larger — refuse
    sfs = {a["sf"] for a in arts}
    assert len(sfs) == 1, f"artifacts span different scale factors: {sfs}"
    # numeric sf for the `_sf` pseudo-entry: graft.Bench compares it to
    # the session's SPARK_GRAFT_SF_DIR at runtime and no-ops the
    # elevated-minimum check on mismatch (floors from one scale are
    # meaningless expectations at another)
    sf_m = re.findall(r"sf([0-9]+(?:\.[0-9]+)?)", arts[0]["sf"])
    assert sf_m, f"cannot parse a numeric sf from {arts[0]['sf']!r}"
    sf_num = sf_m[-1]
    cpus = session_cpus(arts, cpus)
    common = set(arts[0]["queries_min"])
    for a in arts[1:]:
        common &= set(a["queries_min"])
    # drift guard over REAL catalog entries only: pseudo-entries
    # (`_shared_warmup`) are present in every artifact, so subtracting a
    # constant 1 made the check read -1 on identical artifacts and
    # silently tolerate 6 divergent entries instead of the stated 5
    def real(names):
        return {n for n in names if not n.startswith("_")}
    only = {len(real(a["queries_min"])) - len(real(common)) for a in arts}
    assert max(only) <= 5, (
        f"artifacts disagree on up to {max(only)} catalog entries — "
        "regenerate all inputs from the same catalog era")
    lines = [
        "# Per-query expected-min floors for graft.Bench's elevated-minimum",
        "# detector: per-query smallest CREDIBLE reading (>= 0.6 x median)",
        "# over the controlled artifacts",
        f"# {', '.join(os.path.basename(p) for p in paths)}",
        f"# (sf={sf_num}, cpus={cpus}).",
        f"# Generated {datetime.date.today().isoformat()} by"
        " scripts/make_floors.py — regenerate after query-code or catalog"
        " changes.",
        f"# Retention: at most the {MAX_ARTIFACTS} newest controlled"
        " artifacts of the current code generation (the script enforces"
        " the count; the caller must not pass artifacts predating a plan"
        " change).",
        f"_sf\t{sf_num}",
        f"_cpus\t{cpus}",
    ]
    # warmup-part floors (round-14, closing the r13 evidence blind spot):
    # `_warmup:<part>` entries give the one-time shared builds the same
    # elevated-minimum expectation queries have — Bench flags a part over
    # 2x its floor and rebuilds it post-burst for exonerating evidence
    wp_common = set(arts[0].get("warmup_parts", {}))
    for a in arts[1:]:
        wp_common &= set(a.get("warmup_parts", {}))
    for part in sorted(wp_common):
        secs = [a["warmup_parts"][part] for a in arts]
        if any(s < 0 for s in secs):
            continue
        lines.append(f"_warmup:{part}\t{credible_floor(secs):.4f}")
    n = 0
    rejected = []
    for name in sorted(common):
        secs = [a["queries_min"][name] for a in arts]
        if name.startswith("_") or any(s < 0 for s in secs):
            continue
        floor = credible_floor(secs)
        if floor != min(secs):
            rejected.append((name, min(secs), floor))
        lines.append(f"{name}\t{floor:.4f}")
        n += 1
    out = "src/main/resources/bench_floors.tsv"
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {n} query floors")
    for name, lo, kept in rejected:
        print(f"  outlier rejected: {name} {lo:.2f} -> floor {kept:.2f}")


if __name__ == "__main__":
    main(sys.argv[1:])

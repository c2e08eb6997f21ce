#!/usr/bin/env python3
"""Benchmark of the Spark engine: two workloads timed from outside.

    python3 perfbench/run.py --workload token_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run builds the program from source if
needed (build.py), copies the fixed input tables (data/) into a per-run
scratch directory, and launches fresh JVMs on local[nproc]: one that only
sets up a session, then one that times a cold pass and a fixed number of
warm passes over the workload's ops, in an order permuted by --seed (more
warm passes, outside the measured window, only if --seconds have not yet
passed). Every op's output is checked once, untimed. The last line printed
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones of a traced run. A run writes only under
.bench_build/perfbench/: a per-run scratch directory, removed at exit, and
the run's artifact (all passes, ops, spans and host steal/pressure).

Workloads (ops are public calls into the program's layers):
  token_etl     Pipelines.rawLoad/enrichWallets/enrichDapps/enrichTokens,
                upserting through io.Sinks.upsertParquet, and
                Pipelines.tokenDocumentsJson
  graph_stream  catalog queries over ops.Graph/Wallet/Dedup loops, the
                ops.Shared-backed ones, and bounded streams with state
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# The ops of each workload, by the names PerfBench.op in
# harness/PerfBench.scala resolves: a pipeline call, or a catalog query.
WORKLOAD_OPS = {
    "token_etl": ["raw_load", "enrich_wallets", "enrich_dapps", "enrich_tokens",
                  "token_documents_json"],
    "graph_stream": ["q_coreness", "q_dedup_clusters", "q_communities",
                     "q_stream_bounded_hourly", "q_stream_dedup"],
}

# Per-layer counters of the traced run, each with the end-to-end metric it
# should move and where. Reported twice: `cold.<name>` for the first pass in
# the fresh JVM and `warm.<name>` as the median over the traced warm passes.
LAYERS = {
    "sources.input_mb": "warm_s on token_etl (every pipeline rescans events)",
    "sources.input_rows": "warm_s on token_etl",
    "catalyst.analysis_ms": "cold_s everywhere; warm_s on graph_stream",
    "catalyst.optimization_ms": "cold_s everywhere; warm_s on graph_stream",
    "catalyst.planning_ms": "cold_s everywhere; warm_s on graph_stream",
    "codegen.compile_ms": "cold_s everywhere; ~0 when warm",
    "codegen.classes": "cold_s everywhere; ~0 when warm",
    "jit.compile_ms": "cold_s everywhere; ~0 when warm",
    "sched.jobs": "warm_s on graph_stream",
    "sched.stages": "warm_s on graph_stream",
    "sched.tasks": "warm_s on graph_stream",
    "sched.delay_ms": "warm_s on graph_stream",
    "exec.run_ms": "warm_s on token_etl and graph_stream",
    "exec.cpu_ms": "warm_s on token_etl and graph_stream",
    "shuffle.read_mb": "warm_s on token_etl and graph_stream",
    "shuffle.write_mb": "warm_s on token_etl and graph_stream",
    "shuffle.fetch_wait_ms": "warm_s on token_etl and graph_stream",
    "spill.mb": "warm_s on token_etl and graph_stream",
    "gc.ms": "warm_s everywhere; trades against storage_peak_mb",
    "heap.used_mb": "warm_s everywhere; trades against storage_peak_mb",
    "sinks.output_mb": "warm_s on token_etl; zero elsewhere",
    "sinks.output_rows": "warm_s on token_etl; zero elsewhere",
    "sinks.files": "warm_s on token_etl; zero elsewhere",
    "sinks.write_ms": "warm_s on token_etl; zero elsewhere",
    "shared.build_ms": "cold_s and storage_peak_mb on graph_stream; zero on token_etl",
    "shared.storage_mb": "storage_peak_mb on graph_stream; zero on token_etl",
    "shared.heals": "cold_s and storage_peak_mb on graph_stream",
    "cache.evictions": "cold_s and storage_peak_mb on graph_stream",
    "lineage.checkpoint_mb": "warm_s on graph_stream",
    "lineage.jobs": "warm_s on graph_stream",
    "stream.batches": "warm_s on graph_stream; zero elsewhere",
    "stream.add_batch_ms": "warm_s on graph_stream; zero elsewhere",
    "stream.wal_commit_ms": "warm_s on graph_stream; zero elsewhere",
    "stream.commit_offsets_ms": "warm_s on graph_stream; zero elsewhere",
    "stream.state_commit_ms": "warm_s on graph_stream; zero elsewhere",
    "stream.state_rows": "warm_s on graph_stream; zero elsewhere",
    "stream.state_mb": "warm_s on graph_stream; zero elsewhere",
    "stream.providers_left": "warm_s on graph_stream; zero elsewhere",
    # self time of the benchmark's own spans around each op
    "build_ms": "time inside the op's public call, on the calling thread: cold_s "
                "everywhere, warm_s on the graph_stream loops and streams",
    "plan_ms": "forcing the result's executed plan: cold_s and warm_s",
    "exec_ms": "materializing the result: warm_s",
    "cleanup_ms": "releasing query-local caches, state stores and scratch",
    "trace.op_self_ms": "tracing reads inside an op (traced runs only)",
    "trace.pass_self_ms": "tracing reads between ops (traced runs only)",
}

# The input tables: the project's sf0.001 test tables (seed 42), copied
# verbatim, so every op reads the data its catalog oracle was checked on.
# They are read-only: a run copies them and checks them against these sums.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DATA_SHA256 = {
    "events.parquet":
        "7fd4b9d6277e78d4552e69475995d203a9e38aa4cc914d87cb79b0f9bd145a55",
    "documents.parquet":
        "dae477afb99976de4d51a57a650a5af1d3d0c3593bcf7195a77a6b068ae867bc",
}
SELFCHECK = os.path.join("scripts", "selfcheck.py")

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "storage_peak_mb": "MB"}
SETUP_PROBES = 1  # extra JVMs that only set up, for the median setup_s
HEAP = "2g"
RUN_LIMIT_S = 165  # every JVM of a run, together, after the build
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def layer_unit(name):
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    return "count"


def per_layer_names():
    """Every per-layer metric, in BENCHMARK.json order, with its unit."""
    out = [(f"{phase}.{k}", layer_unit(k)) for phase in ("cold", "warm")
           for k in LAYERS]
    out += [(f"op.{op}.warm_ms", "ms")
            for ops in WORKLOAD_OPS.values() for op in ops]
    out += [("trace.overhead_ms", "ms"), ("host.steal_pct", "%"),
            ("host.cpu_some_pct", "%")]
    return out


def ambient():
    """(steal jiffies, total jiffies, cpu-pressure 'some' µs, wall s)."""
    steal = total = some = None
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        steal, total = v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            some = int(f.readline().split("total=")[1])
    except (OSError, IndexError, ValueError):
        pass
    return steal, total, some, time.time()


def ambient_delta(a, b):
    steal = (100.0 * (b[0] - a[0]) / max(1, b[1] - a[1])
             if a[0] is not None and b[0] is not None else None)
    some = (100.0 * (b[2] - a[2]) / 1e6 / max(1e-9, b[3] - a[3])
            if a[2] is not None and b[2] is not None else None)
    return {"steal_pct": steal, "cpu_some_pct": some}


def jvm(cp, run_dir, args, log, deadline):
    """Run the harness JVM, killing it at `deadline`; return its result."""
    result = os.path.join(run_dir, f"result-{len(os.listdir(run_dir))}.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.PerfBench",
              "--result", result, "--scratch", run_dir]
           + [str(x) for x in args]
           + ["--launch", repr(time.time())])
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {RUN_LIMIT_S} s")
    finally:  # also on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(result):
        log.flush()
        with open(log.name) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: JVM exited with code {code}")
    with open(result) as f:
        return json.load(f)


def copy_data(dst):
    """Copy the input tables into `dst`, refusing any that is not the fixed
    table."""
    for name, want in DATA_SHA256.items():
        with open(os.path.join(DATA_DIR, name), "rb") as f:
            blob = f.read()
        if hashlib.sha256(blob).hexdigest() != want:
            raise SystemExit(f"perfbench: {name} is not the fixed input table")
        with open(os.path.join(dst, name), "wb") as f:
            f.write(blob)


def oracle_check(data_dir, check_dir, oracle):
    """Compare each dumped output with its catalog oracle in DuckDB, with the
    project's own comparison (scripts/selfcheck.py); return {op: reason} for
    every output it does not pass."""
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    r = subprocess.run([sys.executable, SELFCHECK, data_dir, check_dir],
                       capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    bad = {}
    for op in oracle:
        if not any(ln.startswith(f"[ ok ] {op}:") for ln in lines):
            fail = [ln for ln in lines if ln.startswith(f"[FAIL] {op}:")]
            bad[op] = (fail[0] if fail else
                       "not checked: " + (r.stderr.strip().splitlines() or [""])[-1])
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", help="make this op throw, to show that a "
                    "failing op is counted")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    cp, source_digest, build_digest, jars = build.build(".")
    deadline = time.time() + RUN_LIMIT_S
    runs = os.path.join(build.BUILD_ROOT, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = os.path.abspath(tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs))
    try:
        data = os.path.join(run_dir, "data")
        check = os.path.join(run_dir, "check")
        os.makedirs(check)
        os.makedirs(data)
        os.makedirs(os.path.join(run_dir, "tmp"))
        copy_data(data)
        cpus = len(os.sched_getaffinity(0))
        before = ambient()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            # a traced run reports no setup_s: it skips the setup probes
            setups = [jvm(cp, run_dir, ["--cpus", cpus, "--setup-only", "1"],
                          log, deadline)["setup_s"]
                      for _ in range(0 if a.trace else SETUP_PROBES)]
            args = ["--cpus", cpus, "--ops", ",".join(WORKLOAD_OPS[a.workload]),
                    "--data", data,
                    "--check-dir", check, "--seed", a.seed, "--seconds",
                    a.seconds, "--trace", a.trace]
            if a.fail_op:
                args += ["--fail-op", a.fail_op]
            res = jvm(cp, run_dir, args, log, deadline)
        host = ambient_delta(before, ambient())
        setups.append(res["setup_s"])
        failures = dict(res["failures"])
        for op, why in oracle_check(data, check, res["oracle"]).items():
            failures.setdefault(op, why)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values = {"setup_s": statistics.median(setups), "cold_s": res["cold_s"],
              "warm_s": res["warm_s"], "storage_peak_mb": res["storage_peak_mb"]}
    if a.trace:
        layers = res["layers"]
        values = {f"{ph}.{k}": layers[ph].get(k, 0.0)
                  for ph in ("cold", "warm") for k in LAYERS}
        values.update({f"op.{op}.warm_ms": res["op_warm_ms"].get(op, 0.0)
                       for ops in WORKLOAD_OPS.values() for op in ops})
        values["host.steal_pct"] = host["steal_pct"] or 0.0
        values["host.cpu_some_pct"] = host["cpu_some_pct"] or 0.0
        units = dict(per_layer_names())
    else:
        units = END_TO_END
    ops = WORKLOAD_OPS[a.workload]

    artifacts = os.path.join(build.BUILD_ROOT, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    plain = untraced_warm_s(artifacts, a.workload, build_digest) if a.trace else []
    if a.trace:
        values["trace.overhead_ms"] = (
            (res["warm_s"] - statistics.median(plain)) * 1e3 if plain else 0.0)
    artifact = os.path.join(
        artifacts, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(artifact, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "seconds": a.seconds, "source_digest": source_digest,
                   "build_digest": build_digest,
                   "overhead_baseline_runs": len(plain),
                   "commit": git_commit(), "cpus": cpus, "spark_jars": jars,
                   "heap": HEAP, "data": {"dir": "perfbench/data",
                                          "origin": "sf0.001, seed 42",
                                          "sha256": DATA_SHA256},
                   "setup_samples_s": setups, "host": host,
                   "failures": failures, "metrics": values,
                   "layer_moves": LAYERS, **res}, f, indent=1)

    print(f"perfbench {a.workload} seed={a.seed}: "
          f"setup_s={statistics.median(setups):.3f} s  "
          f"cold_s={res['cold_s']:.3f} s  warm_s={res['warm_s']:.3f} s  "
          f"storage_peak_mb={res['storage_peak_mb']:.3f} MB  "
          f"ops_failed={len(failures)} ops_attempted={len(ops)}  "
          f"host steal={host['steal_pct'] or 0:.2f} % "
          f"cpu_some={host['cpu_some_pct'] or 0:.2f} %")
    for op, why in failures.items():
        print(f"  FAILED {op}: {why}")
    print(f"  artifact: {artifact}")
    print(json.dumps({
        "correct": not failures, "attempted": len(ops), "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


def untraced_warm_s(artifacts, workload, build_digest):
    """warm_s of every untraced run of this workload and build recorded in
    `artifacts`: the baseline of the tracing overhead, which is the traced
    run's warm_s minus their median (0 when there are none yet)."""
    out = []
    for p in glob.glob(os.path.join(artifacts, f"{workload}-seed*-trace0.json")):
        with open(p) as f:
            d = json.load(f)
        if d.get("build_digest") == build_digest and not d["failures"]:
            out.append(d["warm_s"])
    return out


def git_commit():
    """HEAD when the checkout is a git work tree of its own, else None (the
    source digest then identifies the build)."""
    if not os.path.isdir(".git"):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()

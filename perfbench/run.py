#!/usr/bin/env python3
"""The repository's benchmark: the paper's Kafka-to-lake ingest path and
the query registry, as two closed-loop workloads (one client; each
micro-batch or query starts after the previous one commits).

    python3 perfbench/run.py --workload drain|queries \\
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run compiles the program
(`perfbench/build.py`); every run then generates its inputs from the
seed, runs one fresh JVM at local[nproc] (`graft.perfbench.PerfBench`),
checks every output, and prints one JSON line last. `--trace 0` prints
the end-to-end metrics of BENCHMARK.json; `--trace 1` runs the workload
twice, untraced then traced, and prints the per-layer metrics plus the
tracing overhead (traced `wall_s` minus untraced `wall_s`). Spans and
per-layer metrics of a traced run go to `<build dir>/traces/`.

Each run owns a fresh directory under the build directory for its JVM
tmpdir, `spark.graft.scratchDir`, inputs, lake and checkpoints, and
deletes it at the end, so no run inherits state a query left behind.
README.md in this directory maps each layer metric to the end-to-end
metric it should move.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # a run leaves nothing behind but its build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import messages  # noqa: E402
import tables  # noqa: E402

# Work per run is a fixed function of --seconds, sized at this commit on
# 4 cores so each timed region takes about that long; it does not adapt
# to the program's speed, so two commits always do the same work.
PER_FILE = 1000            # messages per backlog file: the reference's flush threshold
DRAIN_BATCH_FILES = 100    # drain micro-batch bound: 100k messages, IngestMain's default
DRAIN_WARM_FILES = 15      # drained first, untimed, charged to set-up
DRAIN_ROUNDS = 2           # timed drains, each of its own backlog by a fresh query
DRAIN_FILES_PER_S = 3.0    # timed backlog files per requested second, over all rounds
QUERY_PASSES_PER_S = 0.15  # timed rounds over the query sample per requested second
GENERATIONS = 3            # input generations per run; set-up takes their median
RUN_LIMIT_S = 170          # a run, traced or not, gives up after this long
DEADLINE = None            # monotonic time at which the run gives up
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tail(samples):
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples no percentile above the median
    has ten beyond it, and the tail is the slowest sample."""
    s = sorted(samples)
    if len(s) < 21:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def timed_generations(make, run_dir):
    """Generate the inputs GENERATIONS times; keep the first, return
    (its directory, its result, median seconds)."""
    kept, secs = None, []
    for i in range(GENERATIONS):
        d = os.path.join(run_dir, f"input{i}")
        t0 = time.perf_counter()
        out = make(d)
        secs.append(time.perf_counter() - t0)
        if kept is None:
            kept = (d, out)
        else:
            shutil.rmtree(d)
    return kept[0], kept[1], statistics.median(secs)


def jvm(classpath, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g"] + build.jvm_flags(tmp)
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.graft.scratchDir={os.path.join(run_dir, 'scratch')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath,
            "graft.perfbench.PerfBench"] + [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM (see main): no JVM outlives the benchmark
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"the benchmark JVM failed ({code})")
    with open(args["out"]) as f:
        return json.load(f)


def lake_counts(lake):
    """(rows per table/entity/year/month leaf, dead letters per reason),
    read back with DuckDB, independently of Spark."""
    import duckdb
    con = duckdb.connect()
    leaves = {}
    for table in ("vision", "air_quality"):
        if os.path.isdir(os.path.join(lake, table)):
            for entity, year, month, n in con.execute(
                    f"SELECT entity, year, month, count(*) FROM read_parquet("
                    f"'{lake}/{table}/*/*/*/*.parquet', hive_partitioning = true) "
                    "GROUP BY ALL").fetchall():
                leaves[f"{table}/{entity}/{year}/{month}"] = n
    dead = {}
    if os.path.isdir(os.path.join(lake, "_dead_letter")):
        dead = dict(con.execute(
            f"SELECT reason, count(*) FROM read_parquet('{lake}/_dead_letter/*/*.parquet', "
            "hive_partitioning = true) GROUP BY ALL").fetchall())
    return leaves, dead


def compare(want, got, what):
    """Number of keys whose counts differ; each difference is reported."""
    bad = 0
    for key in sorted(set(want) | set(got)):
        if want.get(key, 0) != got.get(key, 0):
            bad += 1
            print(f"perfbench: {what} {key}: expected {want.get(key, 0)}, "
                  f"got {got.get(key, 0)}", file=sys.stderr)
    return bad, len(set(want) | set(got))


def run_drain(seed, seconds, traced, classpath, run_dir):
    per_round = max(1, round(seconds * DRAIN_FILES_PER_S / DRAIN_ROUNDS))
    backlog, truth, gen_s = timed_generations(
        lambda d: messages.generate(seed, DRAIN_WARM_FILES + DRAIN_ROUNDS * per_round,
                                    PER_FILE, d), run_dir)
    # split in offset order: the warm-up backlog, then one per round
    names = sorted(os.listdir(backlog))
    dirs = [os.path.join(run_dir, d) for d in
            ["warm"] + [f"round{i}" for i in range(DRAIN_ROUNDS)]]
    bounds = [0, DRAIN_WARM_FILES] + [DRAIN_WARM_FILES + (i + 1) * per_round
                                      for i in range(DRAIN_ROUNDS)]
    for d, lo, hi in zip(dirs, bounds, bounds[1:]):
        os.makedirs(d)
        for name in names[lo:hi]:
            os.rename(os.path.join(backlog, name), os.path.join(d, name))
    args = {"workload": "drain", "run": f"drain-{seed}-{'traced' if traced else 'plain'}",
            "trace": int(traced), "warm": dirs[0], "rounds": ",".join(dirs[1:]),
            "batchFiles": DRAIN_BATCH_FILES,
            "lake": os.path.join(run_dir, "lake"),
            "checkpoints": os.path.join(run_dir, "checkpoints"),
            "probe": os.path.join(run_dir, "probe"), "out": os.path.join(run_dir, "out.json")}
    out = jvm(classpath, run_dir, args)

    leaves, dead = lake_counts(args["lake"])
    want_dead = {r: sum(f[r] for f in truth["files"]) for r in ("unknown_topic", "malformed_json")}
    bad_leaves, n_leaves = compare(truth["leaves"], leaves, "lake leaf")
    bad_dead, n_dead = compare(want_dead, dead, "dead letters")
    batches = len(out["ops_ms"])
    expected_batches = DRAIN_ROUNDS * -(-per_round // DRAIN_BATCH_FILES)  # timed only
    failed = bad_leaves + bad_dead + max(0, expected_batches - batches)
    attempted = n_leaves + n_dead + expected_batches
    if traced:
        # the probe batch is the first round's first micro-batch
        probe = truth["files"][DRAIN_WARM_FILES:
                               DRAIN_WARM_FILES + min(per_round, DRAIN_BATCH_FILES)]
        want = {f"ops.{k}": sum(f[k] for f in probe)
                for k in ("rows_in", "rows_out")}
        want.update({f"ops.drop_{k}": sum(f[k] for f in probe)
                     for k in ("null_ts", "epoch_1970", "nan_key")})
        want.update({f"pipeline.dead_{k}": sum(f[k] for f in probe)
                     for k in ("unknown_topic", "malformed_json")})
        got = {k: int(out["layers"][k]) for k in want}
        bad, n = compare(want, got, "probe")
        failed += bad
        attempted += n
    return out, gen_s, attempted, failed


def oracle_failures(root, data, results):
    """Compare each sampled query's result with its oracle SQL in DuckDB,
    through the repository's own checker (tools/check.py)."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check.main(data, results)
    lines = report.getvalue().splitlines()
    fails = [ln.strip() for ln in lines if ln.lstrip().startswith("FAIL")]
    # queries whose warm pass failed left no result to compare
    skipped = [n for ln in lines if ln.lstrip().startswith("SKIP")
               for n in ln.split(":", 1)[1].split(",")]
    for ln in fails:
        print(f"perfbench: oracle {ln}", file=sys.stderr)
    ok = sum(1 for ln in lines if ln.lstrip().startswith("OK"))
    return len(fails) + len(skipped), ok + len(fails) + len(skipped)


def draw_queries(seed):
    """One query per cost stratum of query_strata.txt, in seeded order."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_strata.txt")) as f:
        strata = [ln.split() for ln in f if ln.strip() and not ln.startswith("#")]
    rng = random.Random(seed)
    names = [rng.choice(s) for s in strata]
    rng.shuffle(names)
    return names


def run_queries(seed, seconds, traced, classpath, run_dir, root):
    data, _, gen_s = timed_generations(lambda d: tables.write(seed, d), run_dir)
    results = os.path.join(run_dir, "results")
    args = {"workload": "queries", "run": f"queries-{seed}-{'traced' if traced else 'plain'}",
            "trace": int(traced), "data": data, "results": results,
            "names": ",".join(draw_queries(seed)),
            "passes": max(1, round(seconds * QUERY_PASSES_PER_S)),
            "out": os.path.join(run_dir, "out.json")}
    out = jvm(classpath, run_dir, args)
    for name, err in out["errors"].items():
        print(f"perfbench: query {name} failed: {err}", file=sys.stderr)
    bad_oracle, n_oracle = oracle_failures(root, data, results)
    attempted = int(out["executions"]) + n_oracle
    failed = int(out["executions"]) - int(out["items"]) + bad_oracle
    return out, gen_s, attempted, failed


def run_once(a, traced, classpath, root, build_out):
    run_dir = tempfile.mkdtemp(prefix="run-", dir=build_out)
    try:
        if a.workload == "queries":
            return run_queries(a.seed, a.seconds, traced, classpath, run_dir, root)
        return run_drain(a.seed, a.seconds, traced, classpath, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["drain", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    global DEADLINE
    DEADLINE = time.monotonic() + RUN_LIMIT_S
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    classpath = build.ensure(root)
    build_out = build.build_dir(root)

    out, gen_s, attempted, failed = run_once(a, False, classpath, root, build_out)
    ops = out["ops_ms"]
    if not ops:
        fail("the timed region completed no operation")
    tail_ms, tail_pct = tail(ops)
    # Each round does the same work. The JIT still speeds up the later
    # rounds, so the fastest is the closest to steady state, as in
    # graft.Bench, which reports the minimum of its passes.
    round_s = min(out["rounds_s"])
    values = {
        "throughput_per_s": out["items"] / len(out["rounds_s"]) / round_s,
        "wall_s": round_s,
        "setup_s": gen_s + out["session_s"] + out["warmup_s"],
    }
    # per-op percentiles, printed but not bounded: a run holds two drain
    # micro-batches, or three rounds over 9 different queries, so they
    # say more about which queries were drawn than about the program
    info = {"workload": a.workload, "seed": a.seed, "items": out["items"],
            "rounds_s": out["rounds_s"],
            "op_ms_p50": statistics.median(ops), "op_ms_tail": tail_ms,
            "op_ms_tail_percentile": round(tail_pct, 1), "op_samples": len(ops),
            "setup": {"generate_s": gen_s, "session_s": out["session_s"],
                      "warmup_s": out["warmup_s"]}}
    metrics_spec = spec["end_to_end"]
    if a.trace:
        traced, _, t_attempted, t_failed = run_once(a, True, classpath, root, build_out)
        attempted += t_attempted
        failed += t_failed
        values = dict(traced["layers"])
        values["trace.overhead_s"] = min(traced["rounds_s"]) - round_s
        metrics_spec = spec["per_layer"]
        trace_dir = os.path.join(build_out, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": values,
                       "spans": traced["spans"]}, f)
        info["trace_file"] = os.path.relpath(trace_path, root)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in metrics_spec}
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

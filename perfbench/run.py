#!/usr/bin/env python3
"""The engine's benchmark: the served search paths plus a registry slice.

    python3 perfbench/run.py --workload search_batch --seed 1 --seconds 8 --trace 0

Each run generates its inputs from the seed, builds the engine from source
when the sources changed, starts one Spark JVM with half the CPUs as task
threads (see spark_threads) and drives it only through public entry points
(GraftSession.build, the SQL search table functions, SparkEntry.queries).
One run:

1. set-up: build the session, then call every tier once at the set-up
   shape against an empty index root (index build-if-absent, encodes and
   the first search);
2. a closed loop: one statement in flight, round-robin over the tiers at
   the workload's shape, every result collect()ed; one untimed warm-up
   round, then timed rounds for --seconds, at least three;
3. the registry slice (registry_queries.txt) in four passes, each on its
   own copy of the tables with an empty index root, each result
   collect()ed and timed: a cold pass, whose results are then written as
   parquet, untimed, for the DuckDB oracle, then three timed passes.

The last line of stdout is one JSON object: correct, attempted, failed and
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The run's full detail (every call, every registry query, listener counts
per layer, host canaries at start and end of a traced run) goes to
perfbench/out/<workload>-seed<seed>-trace<t>.json. The exit code is
non-zero, with no result line, when the exact tier or a registry oracle
mismatches or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import numpy as np

import engine
import gen
import layers
import verify

BENCH = engine.BENCH
WORK = os.path.join(BENCH, "work")
OUT = os.path.join(BENCH, "out")

DIM, CLUSTERS, NOISE = 384, 8, 1.0
N_DOCS = 5000
SETUP_SHAPE = (100, 50)              # queries per call, k: builds, recall, exact check
SHAPES = {"search_batch": (64, 50), "search_point": (1, 10)}
REGISTRY_SF = 0.001
REGISTRY_PASSES = 4                  # a cold pass, then timed passes
MIN_FREE_GB = 3.0
# The median pace sample (Pace in Driver.scala) on the 4-vCPU Xeon VM the
# benchmark was tuned on: timings are reported as if every run had that pace.
PACE_NOMINAL_MS = 13.0
HEAP = "4g"

TIERS = layers.TIERS


def spark_threads():
    """Half the CPUs this process may use, at least one. The driver thread,
    the JIT compilers and the collector run beside the Spark task threads;
    on a shared host, spare CPUs let the scheduler steer the task threads
    away from CPUs the hypervisor is busy with."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def high_percentile(xs):
    """(p, value) of the highest percentile with at least ten samples
    beyond it; the max when there are fewer than ten samples."""
    xs = sorted(xs)
    for p in (99, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, xs[int(np.ceil(p / 100 * len(xs))) - 1]
    return 100, xs[-1]


def cpu_jiffies():
    """(total, steal) CPU time of the host from /proc/stat, or None. Steal
    is time the hypervisor gave this VM's CPUs to other guests."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return None


def check_search(run_dir, d, vecs, shape):
    """Correctness problems (exit non-zero), malformed-result failures, and
    the recall of each approximate tier against the exact tier."""
    res = os.path.join(run_dir, "results")
    setup = {t: verify.read_result(f"{res}/{t}_setup.tsv") for t in TIERS}
    problems = [f"bf set-up call: {p}" for p in verify.check_exact(setup["bf"], vecs, *SETUP_SHAPE)]
    failed, malformed = 0, {}
    for t in TIERS:
        bad = verify.well_formed(setup[t], *SETUP_SHAPE)
        if bad:
            failed += 1
            malformed[f"{t} set-up"] = bad[:5]
    if tuple(shape) != SETUP_SHAPE:
        measured = {t: verify.read_result(f"{res}/{t}_measured.tsv") for t in TIERS}
        problems += [f"bf measured: {p}" for p in verify.check_exact(measured["bf"], vecs, *shape)]
    else:
        measured = setup
    for t in TIERS:
        bad = verify.well_formed(measured[t], *shape)
        if bad:  # every timed call returned these same rows
            failed += sum(1 for c in d["calls"][t] if c["ok"])
            malformed[f"{t} measured"] = bad[:5]
    recall = {f"{t}_recall10": verify.recall_at(setup[t], setup["bf"], SETUP_SHAPE[0], 10)
              for t in TIERS[1:]}
    return problems, failed, malformed, recall


def end_to_end(d, shape, recall):
    """The end-to-end metrics. Timings are scaled to the nominal host pace:
    each is multiplied by PACE_NOMINAL_MS over the median pace sample of
    the run. The detail keeps the unscaled values."""
    m, detail = {}, {}
    for t in TIERS:
        walls = [c["wall_ms"] for c in d["calls"][t] if not c["traced"] and not c["warm_up"]]
        m[f"{t}_ms_per_query"] = statistics.median(walls) / shape[0]
        p, v = high_percentile(walls)
        detail[t] = {"min_ms": min(walls), "median_ms": statistics.median(walls),
                     f"p{p}_ms": v, "samples": len(walls)}
    m["index_build_s"] = sum(d["first_call_s"].values())
    m["setup_s"] = d["session_build_ms"] / 1e3 + m["index_build_s"]
    by_query = {}
    for q in d["registry"]["queries"]:
        if q["pass"] > 0:  # pass 0 is the cold pass
            by_query.setdefault(q["name"], []).append(q["wall_ms"])
    walls = [statistics.median(w) for w in by_query.values()]
    m["registry_s"] = sum(walls) / 1e3
    m["registry_query_p50_ms"] = statistics.median(walls)
    detail["registry"] = {"queries": len(walls), "timed_passes": REGISTRY_PASSES - 1,
                          "max_ms": max(walls)}
    pace = statistics.median(d["pace_ms"])
    detail["pace"] = {"median_ms": pace, "samples": len(d["pace_ms"]),
                      "scale": PACE_NOMINAL_MS / pace, "unscaled": dict(m)}
    m = {k: v * PACE_NOMINAL_MS / pace for k, v in m.items()}
    m.update(recall)
    return m, detail


def cleanup(run_dir, pids, table_dirs):
    shutil.rmtree(run_dir, ignore_errors=True)
    for pid in pids:
        # scratch the engine keeps under /tmp, named after the JVM or the
        # input path: report-loop output and the file-format round trips
        shutil.rmtree(f"/tmp/graft_reports_{pid}", ignore_errors=True)
        shutil.rmtree(f"/tmp/graft_warehouse_{pid}", ignore_errors=True)
    for t in table_dirs:
        shutil.rmtree("/tmp/graft_io/" + "".join(
            c if c.isalnum() or c == "." else "_" for c in t), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    free_gb = shutil.disk_usage(WORK).free / 1e9
    if free_gb < MIN_FREE_GB + 2:
        sys.exit(f"only {free_gb:.1f} GB free disk; the benchmark needs {MIN_FREE_GB + 2} GB")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_path = os.path.join(OUT, f"{tag}.log")
    pids, table_dirs = [], []
    try:
        with open(log_path, "w") as log:
            classpath = engine.build(log)
            t0 = time.time()
            vecs, label = gen.corpus(a.seed, N_DOCS, DIM, CLUSTERS, NOISE)
            corpus_dir = f"{run_dir}/corpus"
            table_dirs = [f"{run_dir}/tables{p}" for p in range(REGISTRY_PASSES)]
            for x in [corpus_dir] + table_dirs:
                os.makedirs(x)
            gen.write_embeddings(f"{corpus_dir}/embeddings.parquet", vecs, label)
            gen.registry_tables(a.seed, REGISTRY_SF, table_dirs[0])
            for t in table_dirs[1:]:  # the same tables under a path the engine has not seen
                for f in os.listdir(table_dirs[0]):
                    os.link(f"{table_dirs[0]}/{f}", f"{t}/{f}")
            gen_s = time.time() - t0
            shape = SHAPES[a.workload]
            cpu0 = cpu_jiffies()
            engine.run_driver(classpath, run_dir, HEAP, {
                "run_dir": run_dir, "trace": a.trace, "cpus": spark_threads(),
                "corpus_dir": corpus_dir, "setup_q": SETUP_SHAPE[0], "setup_k": SETUP_SHAPE[1],
                "q": shape[0], "k": shape[1], "seconds": a.seconds,
                "tiers": ",".join(f"{t}:{tvf}:{dial or ''}" for t, tvf, dial in layers.TIER_TVFS),
                "tables_dirs": ",".join(table_dirs),
                "registry_queries": ",".join(f"{q}:{m}" for q, m in layers.registry_slice()),
            }, log, timeout=150, min_free_gb=MIN_FREE_GB, pids=pids)
        driver_s = time.time() - t0 - gen_s
        cpu1 = cpu_jiffies()
        steal_pct = (100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
                     if cpu0 and cpu1 else None)
        with open(f"{run_dir}/driver.json") as fh:
            d = json.load(fh)
        problems, malformed, bad_rows, recall = check_search(run_dir, d, vecs, shape)
        with open(f"{run_dir}/oracle_sql.json") as fh:
            oracle_sql = json.load(fh)
        compared, oracle_problems = verify.check_oracle(table_dirs[0], f"{run_dir}/regout", oracle_sql)
        problems += oracle_problems
        reg = d["registry"]
        attempted = int(len(TIERS) + d["attempted"] + reg["attempted"])
        failed = int(malformed + d["failed"] + reg["failed"])
        m, detail = end_to_end(d, shape, recall)
        check_s = time.time() - t0 - gen_s - driver_s
        metrics = m if a.trace == 0 else layers.per_layer(d)
        detail.update(workload=a.workload, seed=a.seed, trace=a.trace, input_gen_s=gen_s,
                      driver_s=driver_s, check_s=check_s, host_steal_pct=steal_pct,
                      corpus=[N_DOCS, DIM], shape=list(shape), malformed=bad_rows,
                      problems=problems, oracle_compared=compared,
                      failures=d["failures"] + reg["failures"], end_to_end=m, driver=d)
        with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
            json.dump(detail, fh)
    finally:
        cleanup(run_dir, pids, table_dirs)
    if problems:
        for p in problems[:20]:
            print("MISMATCH", p, file=sys.stderr)
        sys.exit(f"{len(problems)} correctness problems; detail in {OUT}/{tag}.json")
    units = metric_units()
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))


def metric_units():
    with open(os.path.join(engine.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark at fixture scale.

    python3 perfbench/selftest.py

1. The checker catches planted faults: on a small generated corpus, the
   double-precision reference passes, while a wrong exact result (one doc
   swapped for a far one), a short result (one row dropped) and duplicate
   or mis-ranked rows all fail.
2. The metric names the benchmark prints are exactly the ones
   BENCHMARK.json declares, and both workloads exist.
3. On the engine (a JVM at fixture scale, ~1 minute), the plan each registry
   slice query's timed collect() executes keeps every aggregate, window,
   sort and engine kernel of the query's own optimized plan, while
   .count() would have dropped some (PlanCheck).

Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys

import numpy as np

import engine
import gen
import layers
import run
import verify


def result_from(ids, scores):
    return {q: [(int(d), float(scores[q][j]), j + 1) for j, d in enumerate(row)]
            for q, row in enumerate(ids)}


def test_checker():
    vecs, _ = gen.corpus(7, 400, 32, 8, 1.0)
    nq, k = 20, 10
    ids, best, _ = verify.exact_reference(vecs, nq, k)
    good = result_from(ids, best)
    assert verify.check_exact(good, vecs, nq, k) == [], "reference result must pass"
    assert verify.recall_at(good, good, nq, 10) == 1.0

    wrong = {q: list(rows) for q, rows in good.items()}
    far = int(np.argmin(vecs[3] @ vecs.T))
    d, s, r = wrong[3][0]
    wrong[3][0] = (far, s, r)  # planted wrong exact result
    assert verify.check_exact(wrong, vecs, nq, k), "a wrong exact result must be detected"

    short = {q: list(rows) for q, rows in good.items()}
    short[5] = short[5][:-1]  # planted short result
    assert verify.check_exact(short, vecs, nq, k), "a short exact result must be detected"
    assert verify.well_formed(short, nq, k), "a short result must be malformed"

    dup = {q: list(rows) for q, rows in good.items()}
    dup[2][1] = (dup[2][0][0], dup[2][1][1], 2)
    assert verify.well_formed(dup, nq, k), "duplicate doc ids must be malformed"
    ranks = {q: [(d, s, r + 1) for d, s, r in rows] for q, rows in good.items()}
    assert verify.well_formed(ranks, nq, k), "ranks other than 1..k must be malformed"
    print("selftest: checker catches planted wrong, short, duplicate and mis-ranked results")


def test_metric_names():
    with open(os.path.join(engine.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared_e2e = [m["name"] for m in spec["end_to_end"]]
    declared_layer = [m["name"] for m in spec["per_layer"]]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.SHAPES)
    assert declared_layer == layers.names(), "per-layer names drift from BENCHMARK.json"
    # a synthetic driver output through the real metric code
    calls = {t: [{"wall_ms": 10.0 + i, "expand_ms": 1.0, "plan_ms": 1.0, "group": f"r{i}:{t}",
                  "traced": i % 2 == 0, "warm_up": i == 0, "ok": True} for i in range(4)] for t in layers.TIERS}
    queries = [{"name": f"q{i}", "module": m, "group": f"reg{p}:q{i}", "wall_ms": 5.0 + i + p,
                "plan_ms": 1.0, "pass": p} for p in range(3) for i, m in enumerate(layers.MODULES)]
    d = {"calls": calls, "first_call_s": {t: 1.0 for t in layers.TIERS},
         "session_build_ms": 100.0, "cached_mb": 1.0, "canary_start": {"scan_ms": 1.0},
         "groups": {}, "registry": {"queries": queries}, "pace_ms": [20.0, 21.0]}
    e2e, _ = run.end_to_end(d, (10, 10), {f"{t}_recall10": 1.0 for t in layers.TIERS[1:]})
    assert sorted(e2e) == sorted(declared_e2e), f"end-to-end names {sorted(e2e)} vs {sorted(declared_e2e)}"
    assert list(layers.per_layer(d)) == declared_layer
    assert set(run.metric_units()) == set(declared_e2e) | set(declared_layer)
    print(f"selftest: {len(declared_e2e)} end-to-end and {len(declared_layer)} per-layer names "
          "match BENCHMARK.json")


def test_plans():
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tables")
    pids = []
    queries = [q for q, _ in layers.registry_slice()]
    try:
        gen.registry_tables(1, run.REGISTRY_SF, f"{work}/tables")
        classpath = engine.build(sys.stderr)
        cmd = engine.java_cmd(classpath, work, "2g", "perfbench.PlanCheck",
                              [f"{work}/tables", f"{work}/index"] + queries)
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        pids.append(p.pid)
        out, _ = p.communicate(timeout=300)
        lines = [x for x in out.splitlines() if x.startswith("plancheck")]
        for x in lines:
            print("selftest:", x)
        assert p.returncode == 0 and len(lines) == len(queries), \
            "a timed registry plan lost an aggregate, window, sort or kernel"
        assert any(not x.endswith("count_missing=") for x in lines), \
            "control: .count() should prune work from at least one slice query"
    finally:
        run.cleanup(work, pids, [f"{work}/tables"])
    print("selftest: every timed registry plan keeps its aggregates, windows, sorts and kernels")


if __name__ == "__main__":
    test_checker()
    test_metric_names()
    test_plans()
    print("selftest: ok")

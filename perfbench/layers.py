"""Per-layer metrics of a traced run, from the driver's in-memory spans:
per-call timings and Spark listener counts attributed to the job group of
the layer call that submitted them."""
import os
import statistics

# The measured search tiers: metric prefix, SQL table function, recall
# dial. The driver takes this list as an argument. `ivfsq_search` and
# `binary_search` fit no run budget (see README.md).
TIER_TVFS = [("bf", "cosine_topk", None), ("ivf", "ann_search", 8), ("pq", "ivfpq_search", 8)]
TIERS = [t for t, _, _ in TIER_TVFS]


def registry_slice():
    """[(query, module)] of registry_queries.txt, in file order."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_queries.txt")) as fh:
        return [tuple(x.split()) for x in fh if x.strip() and not x.startswith("#")]


# modules of the registry slice; the vector modules are measured through
# the search tiers above
MODULES = list(dict.fromkeys(m for _, m in registry_slice()))
COUNTERS = ["jobs", "tasks", "cpu_ms", "run_ms", "gc_ms", "input_mb", "shuffle_mb", "spill_mb"]


def _sum(groups, names):
    tot = dict.fromkeys(COUNTERS, 0.0)
    for g in names:
        for c in COUNTERS:
            tot[c] += groups.get(g, {}).get(c, 0.0)
    return tot


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def names():
    """Every per-layer metric name, in output order."""
    out = []
    for t in TIERS:
        out += [f"{t}.{m}" for m in ("expand_ms", "plan_ms", "exec_ms", "cpu_ms", "tasks",
                                     "input_mb", "shuffle_mb", "first_call_s")]
    out += ["session.build_ms", "memo.cached_mb", "host.canary_scan_ms", "host.pace_ms",
            "trace.overhead_pct"]
    for m in MODULES:
        out += [f"registry.{m}.{x}" for x in ("wall_s", "cpu_s", "plan_ms", "shuffle_mb")]
    out += ["registry.jobs", "registry.tasks", "registry.spill_mb"]
    return out


def overhead_pct(calls):
    """Tracing overhead from the alternating timed rounds: each untraced
    round against the mean of the traced rounds on either side, so a
    steady warming trend loads neither side; the median over such
    rounds, in percent."""
    walls = {}  # round -> [traced, summed wall over the tiers]
    for cs in calls.values():
        for c in cs:
            if not c["warm_up"]:
                r = walls.setdefault(int(c["group"].split(":")[0][1:]), [c["traced"], 0.0])
                r[1] += c["wall_ms"]
    ratios = [(walls[r - 1][1] + walls[r + 1][1]) / 2 / w
              for r, (traced, w) in walls.items()
              if not traced and walls.get(r - 1, [False])[0] and walls.get(r + 1, [False])[0]]
    return 100.0 * (_med(ratios) - 1.0) if ratios else 0.0


def per_layer(d):
    groups = d["groups"]
    m = {}
    for t in TIERS:
        calls = [c for c in d["calls"][t] if not c["warm_up"]]
        traced = [c for c in calls if c["traced"]]
        counts = [(_sum(groups, [c["group"] + ":expand"]), _sum(groups, [c["group"] + ":exec"]))
                  for c in traced]
        m[f"{t}.expand_ms"] = _med([c["expand_ms"] for c in traced])
        m[f"{t}.plan_ms"] = _med([c["plan_ms"] for c in traced])
        m[f"{t}.exec_ms"] = _med([c["wall_ms"] - c["expand_ms"] - c["plan_ms"] for c in traced])
        m[f"{t}.cpu_ms"] = _med([ex["cpu_ms"] for _, ex in counts])
        m[f"{t}.tasks"] = _med([e["tasks"] + ex["tasks"] for e, ex in counts])
        m[f"{t}.input_mb"] = _med([e["input_mb"] + ex["input_mb"] for e, ex in counts])
        m[f"{t}.shuffle_mb"] = _med([e["shuffle_mb"] + ex["shuffle_mb"] for e, ex in counts])
        m[f"{t}.first_call_s"] = d["first_call_s"][t]
    m["session.build_ms"] = d["session_build_ms"]
    m["memo.cached_mb"] = d["cached_mb"]
    m["host.canary_scan_ms"] = d["canary_start"]["scan_ms"]
    m["host.pace_ms"] = statistics.median(d["pace_ms"])
    m["trace.overhead_pct"] = overhead_pct(d["calls"])

    # registry layers per timed pass (the mean over passes after the cold one)
    queries = [q for q in d["registry"]["queries"] if q["pass"] > 0]
    passes = len({q["pass"] for q in queries}) or 1
    for mod in MODULES:
        qs = [q for q in queries if q["module"] == mod]
        tot = _sum(groups, [q["group"] for q in qs])
        m[f"registry.{mod}.wall_s"] = sum(q["wall_ms"] for q in qs) / 1e3 / passes
        m[f"registry.{mod}.cpu_s"] = tot["cpu_ms"] / 1e3 / passes
        m[f"registry.{mod}.plan_ms"] = sum(q["plan_ms"] for q in qs) / passes
        m[f"registry.{mod}.shuffle_mb"] = tot["shuffle_mb"] / passes
    tot = _sum(groups, [q["group"] for q in queries])
    m["registry.jobs"] = tot["jobs"] / passes
    m["registry.tasks"] = tot["tasks"] / passes
    m["registry.spill_mb"] = tot["spill_mb"] / passes
    assert list(m) == names(), "per-layer metric set drifted from layers.names()"
    return m

"""Output checks: exact search against a double-precision reference,
well-formed results for every tier, recall against the exact tier, and the
registry against its DuckDB oracle SQL."""
import glob
import os

import numpy as np


def read_result(path):
    """{query_id: [(doc_id, score, rnk), ...]} in rank order."""
    res = {}
    with open(path) as fh:
        for line in fh:
            q, d, s, r = line.split("\t")
            res.setdefault(int(q), []).append((int(d), float(s), int(r)))
    for rows in res.values():
        rows.sort(key=lambda x: x[2])
    return res


def well_formed(res, n_queries, k):
    """Problems with a top-k result: every query present with exactly k
    rows, distinct doc ids, ranks 1..k, no query returning itself."""
    problems = []
    for q in range(n_queries):
        rows = res.get(q, [])
        if len(rows) != k:
            problems.append(f"query {q}: {len(rows)} rows, expected {k}")
            continue
        if len({d for d, _, _ in rows}) != k:
            problems.append(f"query {q}: duplicate doc ids")
        if [r for _, _, r in rows] != list(range(1, k + 1)):
            problems.append(f"query {q}: ranks are not 1..{k}")
        if any(d == q for d, _, _ in rows):
            problems.append(f"query {q}: returned itself")
    extra = set(res) - set(range(n_queries))
    if extra:
        problems.append(f"unexpected query ids {sorted(extra)[:5]}")
    return problems


def exact_reference(vecs, n_queries, k):
    """Top-k by double-precision dot product, self excluded: (ids, scores)
    ordered score desc then doc id asc — the exact tier's contract."""
    v = vecs.astype(np.float64)
    scores = v[:n_queries] @ v.T
    scores[np.arange(n_queries), np.arange(n_queries)] = -np.inf
    ids, best = [], []
    for q in range(n_queries):
        row = scores[q]
        cand = np.argpartition(-row, k)[:k + 1] if k < len(row) - 1 else np.arange(len(row))
        order = sorted(cand, key=lambda d: (-row[d], d))[:k]
        ids.append(order)
        best.append(row[order])
    return ids, best, scores


def check_exact(res, vecs, n_queries, k, tol=1e-4):
    """Problems with an exact-tier result against the double-precision
    reference. Float32 accumulation may reorder near-ties, so a result
    passes when every returned score matches the reference score of that
    doc, scores never rise with rank, and nothing left out beats the
    worst doc returned — each within `tol`."""
    problems = well_formed(res, n_queries, k)
    if problems:
        return problems
    _, best, scores = exact_reference(vecs, n_queries, k)
    for q in range(n_queries):
        rows = res[q]
        true = [scores[q][d] for d, _, _ in rows]
        if any(abs(t - s) > tol for t, (_, s, _) in zip(true, rows) if not np.isnan(s)):
            problems.append(f"query {q}: reported scores differ from the reference")
        if any(b > a + tol for a, b in zip(true, true[1:])):
            problems.append(f"query {q}: scores rise with rank")
        if best[q][k - 1] > min(true) + tol:
            problems.append(f"query {q}: misses a doc scoring {best[q][k - 1]:.6f} "
                            f"above its worst {min(true):.6f}")
    return problems


def recall_at(res, exact, n_queries, at):
    hits = 0
    for q in range(n_queries):
        got = {d for d, _, r in res.get(q, []) if r <= at}
        want = {d for d, _, r in exact[q] if r <= at}
        hits += len(got & want)
    return hits / (n_queries * at)


def check_oracle(tables_dir, out_dir, oracle_sql):
    """Compare each written registry result with its DuckDB oracle SQL.
    Returns (compared, problems); results without an oracle must be
    non-empty."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for p in glob.glob(f"{tables_dir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    problems, compared = [], 0
    written = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
    problems += [f"{name}: no result written" for name in sorted(set(oracle_sql) - written)]
    for name in sorted(written):
        got = pd.read_parquet(os.path.join(out_dir, name))
        if name not in oracle_sql:
            if len(got) == 0:
                problems.append(f"{name}: empty result")
            continue
        compared += 1
        try:
            exp = con.execute(oracle_sql[name]).df()
        except Exception as e:  # an oracle that cannot run is a mismatch
            problems.append(f"{name}: oracle SQL failed: {e}")
            continue
        why = _frame_diff(got, exp)
        if why:
            problems.append(f"{name}: {why}")
    return compared, problems


def _frame_diff(got, exp):
    """The registry gate's comparison: same columns and row count; after
    sorting, floats equal within 1e-9 (NaN matching NaN), everything else
    equal as strings — so an int column never matches a float one."""
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return f"columns {cols} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        gv, ev = g[c], e[c]
        kinds = (gv.dtype.kind, ev.dtype.kind)
        if "f" in kinds and kinds[0] != kinds[1]:
            return f"column {c}: dtype kind {kinds[0]} vs {kinds[1]}"
        if "f" in kinds:
            bad = ~((gv.isna() & ev.isna()) | ((gv - ev).abs() < 1e-9))
        else:
            bad = gv.astype(str) != ev.astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"column {c} row {i}: {gv[i]!r} vs {ev[i]!r} ({int(bad.sum())} differ)"
    return None

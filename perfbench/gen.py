"""Seeded input generation for the benchmark.

Two input sets, both pure functions of the seed:

* the search corpus: ``n`` unit-norm float32 vectors of ``dim`` dims in
  clusters, the cluster as ``label`` — written
  as ``embeddings.parquet`` (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT),
  the layout every search TVF reads;
* the registry tables: the TPC-H-like star schema plus ``events``,
  ``documents`` and a 500 x 64 ``embeddings`` table, with the schemas and value
  domains the registry queries are written against, at scale factor ``sf``.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def corpus(seed, n, dim, clusters, noise):
    """Clustered unit-norm vectors: `clusters` random unit centres (the
    `label`), each doc its centre plus Gaussian noise of expected norm
    `noise`. Within a cluster the noise alone orders a doc's neighbours,
    so exact top-10 sets are close calls, as in real embedding corpora."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.standard_normal((clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    vecs = centres[label] + rng.standard_normal((n, dim)) * (noise / np.sqrt(dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), label.astype(np.int32)


def write_embeddings(path, vecs, label):
    n, dim = vecs.shape
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1), pa.float32()), dim)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    })
    pq.write_table(table, path)


WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_NAMES = [f"{c} {t}" for c in ("red", "blue", "green", "small", "large")
              for t in ("ring", "widget", "bolt", "gear")]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en"] * 9 + ["zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr", "es", "es"]


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def registry_tables(seed, sf, out_dir):
    """Write the registry's parquet tables for scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_evt, n_doc = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf), 500
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [PART_NAMES[i] for i in rng.integers(0, len(PART_NAMES), n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line)),
        },
    }
    # events: one month of increasing micro-second timestamps
    gaps = rng.exponential(30 * 24 * 3600 * 1e6 / n_evt, n_evt).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    tables["events"] = {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n_evt).astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": money(0.01, 500.0, n_evt),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)],
    }
    # documents: random word sequences; ~5 % are a copy of an earlier
    # document plus a trailing "dup" (the near-duplicate family's input)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")
    vecs, label = corpus(seed, 500, 64, 10, 8.0)
    write_embeddings(f"{out_dir}/embeddings.parquet", vecs, label)

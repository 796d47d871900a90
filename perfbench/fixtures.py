"""Deterministic fixture generator for the benchmark.

Writes the ten tables the engine reads as one single-row-group parquet
file each, following the per-table facts of `FIXTURES.md`: its schemas,
row counts per scale factor and value ranges; `events.ts` as parquet
timestamp[ns] with sub-microsecond remainders, so every events read
goes through the loader's nanos shim; `documents` with no exact
duplicates; `embeddings` as unit-norm 64-d vectors with a balanced
label.  The generator seed is fixed, so a scale factor always yields
byte-identical files; `fixture_id` hashes those bytes, and the pinned
output hashes in `expected.json` are keyed by it.

Run standalone to (re)generate a directory::

    python3 perfbench/fixtures.py <out_dir> <sf>
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Bump when the generated bytes change, so cached dirs are not reused.
GENERATOR_VERSION = 2
_DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "old", "small"]
_P_NOUN = ["bolt", "gear", "plate", "ring", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
# The near-duplicate marker is not a vocabulary word: only an edit
# writes it.
_DUP_TOKEN = "dup"
_NEAR_DUP_RATE = 0.05
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, n, start, end):
    """Uniform midnight timestamps in [start, end] as timestamp[ms]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    days = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[ms]"), pa.timestamp("ms"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(_DATA_SEED)
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1_500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_vec = 500 if sf <= 0.01 else int(20_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = np.char.add(
        np.char.add(np.asarray(_P_ADJ)[rng.integers(0, len(_P_ADJ), n_part)], " "),
        np.asarray(_P_NOUN)[rng.integers(0, len(_P_NOUN), n_part)],
    )
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names.tolist(), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, _P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # Telemetry: ts-sorted arrivals over 30 days in nanoseconds (almost
    # every ts has a sub-microsecond remainder), event_id in ts order,
    # so a row-order split never strands a row behind a watermark.
    t0 = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**9, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # Bag-of-words documents, all distinct.  About 5 % are near
    # duplicates: an earlier document with one token replaced by the
    # marker (the share of marked documents in the TESTDATA.md fixtures:
    # 25 of 500, 250 of 5,000).  An edit that repeats a text is redrawn.
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n_docs:
        i = len(texts)
        if i and rng.random() < _NEAR_DUP_RATE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = _DUP_TOKEN
            text = " ".join(toks)
        else:
            n_tok = int(rng.integers(10, 101))
            text = " ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), n_tok)])
        if text not in seen:
            seen.add(text)
            texts.append(text)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _choice(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    # Unit-norm 64-d float vectors in random directions; the label is
    # drawn apart from the vector, so it blocks without clustering.
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def fixture_id(sf_dir: str) -> str:
    """sha256 over the table files' bytes, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def generate(out_dir: str, sf: float) -> str:
    """Write the tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def ensure(cache_root: str, sf: float) -> str:
    """The generated dir for ``sf`` under ``cache_root``, made on first use."""
    out_dir = os.path.join(cache_root, f"gen{GENERATOR_VERSION}_sf{sf:g}")
    done = os.path.join(out_dir, ".complete")
    if not os.path.exists(done):
        generate(out_dir, sf)
        open(done, "w").close()
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: fixtures.py <out_dir> <sf>")
    print(fixture_id(generate(sys.argv[1], float(sys.argv[2]))))

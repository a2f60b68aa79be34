"""Deterministic benchmark inputs.

``ensure_tables`` writes the project's sf0.1 test tables (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``, ``lineitem``,
``events``, ``documents``) once per checkout.  ``build_tables`` replays the
draws of the generator those tables were made with (numpy PCG64, seed 42,
in table and column order), so every value equals the stored test data
except ``documents.lang``, which is drawn with the same language shares.
``python3 perfbench/data.py --compare DIR`` checks that claim column by
column against a directory holding the stored tables.

``derive_corpus`` draws the curation corpus for one run from ``documents``
with the workload seed and injects a stated share of exact and near
duplicates.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generator changes so a stale cache is rebuilt.
DATA_VERSION = "2"
TABLE_SEED = 42

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}

# Value lists in the order the generator indexes them.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()
DOC_DUP_SHARE = 0.05  # docs replaced by another doc's text plus " dup"

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2405  # through 2001-08-01
SHIP_START = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2499  # through 2001-11-04
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86_400


def _days(start: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
        for _ in range(n)
    ]
    n_dup = round(n * DOC_DUP_SHARE)
    targets = rng.choice(n, n_dup, replace=False)
    for target, src in zip(targets, rng.integers(0, n, n_dup)):
        texts[target] = texts[src] + " dup"  # in draw order, so copies can chain
    lang = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(lang),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def build_tables() -> dict[str, pa.Table]:
    """Every table, from one generator in table and column order."""
    rng = np.random.default_rng(TABLE_SEED)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), np_)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), np_)]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ORDER_STATUS, no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(ORDER_START, rng.integers(0, ORDER_DAYS, no)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": _money(rng, 0.0, 0.1, nl),
        "l_tax": _money(rng, 0.0, 0.08, nl),
        "l_returnflag": _pick(rng, RETURN_FLAGS, nl),
        "l_linestatus": _pick(rng, LINE_STATUS, nl),
        "l_shipdate": _days(SHIP_START, rng.integers(0, SHIP_DAYS, nl)),
    })
    ne = n["events"]
    # seconds as doubles, truncated to nanoseconds, then to microseconds
    ts_us = (np.sort(rng.uniform(0, EVENT_SPAN_S, ne)) * 1e9).astype(np.int64) // 1000
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64(EVENT_START, "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    return out


def ensure_tables(root: Path) -> Path:
    """Return the table directory under ``root``, generating it if absent."""
    target = root / f"sf0.1-v{DATA_VERSION}"
    if (target / "_COMPLETE").exists():
        return target
    staging = root / f".staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    for name, table in build_tables().items():
        pq.write_table(table, staging / f"{name}.parquet")
    (staging / "_COMPLETE").write_text(DATA_VERSION)
    shutil.rmtree(target, ignore_errors=True)
    staging.rename(target)
    return target


def compare(stored: Path) -> list[str]:
    """One line per column: identical to ``stored/<table>.parquet``, or how
    many of its rows are."""
    lines = []
    for name, table in build_tables().items():
        want = pq.read_table(stored / f"{name}.parquet")
        if table.schema.remove_metadata() != want.schema.remove_metadata():
            lines.append(f"{name}: schema {table.schema} != stored {want.schema}")
            continue
        for col in table.column_names:
            got, exp = table.column(col), want.column(col)
            if got.equals(exp):
                lines.append(f"{name}.{col}: identical ({len(exp)} rows)")
                continue
            same = sum(a == b for a, b in zip(got.to_pylist(), exp.to_pylist()))
            lines.append(f"{name}.{col}: {same} of {len(exp)} rows equal")
    return lines


# Curation corpus shape: a sample of the documents plus injected copies.
CORPUS_BASE_DOCS = 150
EXACT_DUP_SHARE = 0.02  # of the base sample, copied byte-for-byte
NEAR_DUP_SHARE = 0.02  # of the base sample, copied with one word replaced
DUP_ID_OFFSET = 500_000  # clear of the +1,000,000 ids the v3 pipeline adds


def derive_corpus(documents: pa.Table, seed: int) -> pa.Table:
    """Seeded corpus: ``CORPUS_BASE_DOCS`` sampled documents, then exact and
    near duplicates of disjoint samples of them, each under a fresh id."""
    rng = np.random.default_rng(seed)
    base_idx = np.sort(rng.choice(documents.num_rows, CORPUS_BASE_DOCS, replace=False))
    base = documents.take(pa.array(base_idx)).to_pylist()
    n_exact = round(CORPUS_BASE_DOCS * EXACT_DUP_SHARE)
    n_near = round(CORPUS_BASE_DOCS * NEAR_DUP_SHARE)
    picks = rng.choice(len(base), n_exact + n_near, replace=False)
    rows = list(base)
    for j, i in enumerate(picks):
        src = dict(base[i])
        src["doc_id"] = DUP_ID_OFFSET + j
        if j >= n_exact:
            words = src["text"].split(" ")
            k = int(rng.integers(0, len(words)))
            others = [w for w in VOCAB if w != words[k]]
            words[k] = others[int(rng.integers(0, len(others)))]
            src["text"] = " ".join(words)
            src["n_chars"] = len(src["text"])
        rows.append(src)
    return pa.Table.from_pylist(rows, schema=documents.schema)


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="Compare the generated tables with stored ones.")
    p.add_argument("--compare", type=Path, required=True,
                   help="directory holding the stored <table>.parquet files")
    print("\n".join(compare(p.parse_args().compare)))

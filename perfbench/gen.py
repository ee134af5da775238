"""Seeded input generator for the benchmark workloads.

Writes every table the registry queries and their DuckDB oracles read
(``region nation customer supplier part orders lineitem events
documents embeddings``), one parquet file each, in the TESTDATA layout
and with the TESTDATA column types, so ``queries.registry`` functions
and ``tools/parity.duck_connection`` run on the output unchanged.

The same ``(sizes, seed)`` always gives byte-identical tables. A
workload's ``sizes`` set its main tables; the others stay small.

CLI (writes one input and prints its properties):

    python3 perfbench/gen.py OUT_DIR --workload lob_oi --seed 1
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# ~30-word vocabulary, as in the TESTDATA documents: word 3-grams repeat
# across many documents, so the shingle posting lists are long
VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()

LANGS = ("en", "zh", "es", "de", "fr")

DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict, row_groups: int = 1) -> int:
    table = pa.table(cols)
    n = table.num_rows
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(1, -(-n // row_groups)),
    )
    return pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet")).num_row_groups


def _events(rng, n: int, users: int, days: int) -> dict:
    ts = np.sort(rng.integers(0, days * DAY_US, size=n)) + T0_US
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, size=n).astype("int64")),
        # uniform five-type mix: sets the as-of probe (purchase) and
        # match (signup) shares of the iceberg tagger
        "event_type": pa.array(
            np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n)]
        ),
        "value": pa.array(np.round(rng.lognormal(2.5, 0.8, size=n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
        ),
    }


def _documents(rng, n: int, near_dup_share: float) -> tuple[dict, int]:
    """``n`` documents of 8-90 vocabulary words. ``near_dup_share`` of
    them (exactly, rounded) copy an earlier original document: each copy
    is verbatim (an exact duplicate) or, with probability 1/2, has one to
    three words replaced (a near duplicate). Copies are never copied
    again, so every duplicate cluster is one original and its copies,
    whatever the seed."""
    vocab = np.array(VOCAB, dtype=object)
    copies = set(rng.choice(np.arange(1, n), size=round(near_dup_share * n), replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in copies:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            if rng.random() < 0.5:
                for _ in range(int(rng.integers(1, 4))):
                    toks[int(rng.integers(0, len(toks)))] = VOCAB[
                        int(rng.integers(0, len(VOCAB)))
                    ]
        else:
            originals.append(i)
            toks = list(vocab[rng.integers(0, len(VOCAB), size=int(rng.integers(8, 91)))])
        texts.append(" ".join(toks))
    planted = len(copies)
    cols = {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(
            np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), size=n)]
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }
    return cols, planted


def _embeddings(rng, n: int, clusters: int, dim: int = 64) -> dict:
    """Unit vectors around ``clusters`` random centres (float32)."""
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, size=n)
    x = centres[label] + rng.normal(scale=1.2, size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    }


def _star_schema(rng, out_dir: str, orders: int) -> None:
    """A small TPC-H-shaped star schema (same tables and types as
    TESTDATA); the benchmark's queries do not read it, but the oracle
    connection registers every table."""
    customers, suppliers, parts = 150, 10, 200
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(customers, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=customers).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=customers), 2)),
        "c_mktsegment": pa.array(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                     dtype=object)[rng.integers(0, 5, size=customers)]
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(suppliers, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=suppliers).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=suppliers), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(parts, dtype="int64")),
        "p_name": pa.array([f"part {i % 64}" for i in range(parts)]),
        "p_brand": pa.array([f"Brand#{i % 25}" for i in range(parts)]),
        "p_type": pa.array(
            np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"],
                     dtype=object)[rng.integers(0, 6, size=parts)]
        ),
        "p_size": pa.array(rng.integers(1, 51, size=parts).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + np.arange(parts) * 0.1, 2)),
    })
    day0 = 788_918_400_000_000  # 1995-01-01
    odate = day0 + rng.integers(0, 2400, size=orders) * DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, customers, size=orders).astype("int64")),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, size=orders)]
        ),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=orders), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                     dtype=object)[rng.integers(0, 5, size=orders)]
        ),
    })
    lines = orders * 4
    qty = rng.integers(1, 51, size=lines).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, size=lines).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, parts, size=lines).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, suppliers, size=lines).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, size=lines).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=lines) / 100.0),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, size=lines)]
        ),
        "l_linestatus": pa.array(
            np.array(["F", "O"], dtype=object)[rng.integers(0, 2, size=lines)]
        ),
        "l_shipdate": _ts(day0 + rng.integers(0, 2500, size=lines) * DAY_US),
    })


def generate(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write one seeded input into ``out_dir`` and return its
    properties. ``sizes`` keys: events, users, days, event_row_groups,
    documents, near_dup_share, embeddings, clusters, orders."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ev = _events(rng, sizes["events"], sizes["users"], sizes["days"])
    ev_groups = _write(out_dir, "events", ev, sizes["event_row_groups"])
    docs, planted = _documents(rng, sizes["documents"], sizes["near_dup_share"])
    _write(out_dir, "documents", docs)
    _write(out_dir, "embeddings", _embeddings(rng, sizes["embeddings"], sizes["clusters"]))
    _star_schema(rng, out_dir, sizes["orders"])
    types, counts = np.unique(ev["event_type"].to_numpy(zero_copy_only=False),
                              return_counts=True)
    return {
        "seed": seed,
        "events": {
            "rows": sizes["events"],
            "keys": int(len(np.unique(ev["user_id"].to_numpy()))),
            "days": sizes["days"],
            "row_groups": ev_groups,
            "event_mix": {t: round(c / sizes["events"], 4) for t, c in zip(types, counts)},
        },
        "documents": {
            "rows": sizes["documents"],
            "vocabulary": len(VOCAB),
            "near_dup_share": round(planted / sizes["documents"], 4),
        },
        "embeddings": {"rows": sizes["embeddings"], "dim": 64, "clusters": sizes["clusters"]},
        "orders": sizes["orders"],
    }


if __name__ == "__main__":
    import argparse
    import json
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, WORKLOADS[a.workload].sizes), indent=1))

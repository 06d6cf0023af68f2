"""Seeded input generation. Everything the benchmark feeds the program is
built here from ``numpy.random.default_rng(seed)``; the same seed gives the
same tables and event files byte for byte (parquet written by pyarrow)."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STREAM_USERS = 1500
STREAM_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
LATE_SHARE = 0.05
LATE_MAX_S = 30.0

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
    ]
)


def zipf_weights(n_ids: int, s: float = 1.1) -> np.ndarray:
    """P(k) proportional to 1/(k+1)^s over ids 0..n_ids-1."""
    p = 1.0 / np.arange(1, n_ids + 1) ** s
    return p / p.sum()


def zipf_ids(rng: np.random.Generator, n: int, n_ids: int) -> np.ndarray:
    """n Zipf-skewed draws of ids 0..n_ids-1."""
    return rng.choice(n_ids, size=n, p=zipf_weights(n_ids))


def event_spark_schema():
    """EVENT_SCHEMA as the Spark schema the stream source reads with."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(EVENT_SCHEMA)


def event_batch(
    rng: np.random.Generator, first_id: int, n: int, t0_s: float, span_s: float
) -> pa.Table:
    """n stream events with event times spread over [t0_s, t0_s + span_s);
    LATE_SHARE of them are stamped up to LATE_MAX_S earlier (out of order,
    but far inside the pipeline's 65 s watermark)."""
    t = t0_s + np.sort(rng.uniform(0.0, span_s, n))
    late = rng.random(n) < LATE_SHARE
    t = t - late * rng.uniform(0.0, LATE_MAX_S, n)
    us = (STREAM_EPOCH_S * 1_000_000 + np.round(t * 1e6)).astype("int64")
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype="int64"),
            "user_id": zipf_ids(rng, n, STREAM_USERS).astype("int64"),
            "ts": pa.array(us, type=pa.timestamp("us", tz="UTC")),
            "value": np.round(rng.uniform(0.01, 500.0, n), 2),
        },
        schema=EVENT_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> None:
    """Write to a hidden name next to ``path`` and rename, so a file source
    watching the directory never lists a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Catalog tables (the schema of the package's sf<scale> corpus)

_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE")
_ADJ = ("small", "red", "blue", "hot", "old", "large", "cold", "new")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
_LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def _ts_us(rng, n, start: dt.datetime, days: int, whole_days: bool) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    if whole_days:
        off = rng.integers(0, days, n) * 86_400_000_000
    else:
        off = rng.integers(0, days * 86_400_000_000, n)
    return pa.array(base + off, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS, n_words))


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The ten corpus tables at the size of the corpus's sf0.01 (60 k
    lineitems, 10 k events), seeded, with its column domains, value ranges
    and near-duplicate documents."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15_000, 60_000
    n_ev, n_users, n_docs, n_vec = 10_000, 150, 500, 500
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(rng, n_ord, dt.datetime(1995, 1, 1), 2400, True),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("O", "F"), n_line),
            "l_shipdate": _ts_us(rng, n_line, dt.datetime(1995, 1, 2), 2500, True),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts_us(rng, n_ev, dt.datetime(2024, 1, 1), 30, False),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [_text(rng, int(k)) for k in rng.integers(8, 90, n_docs)]
    # as in the corpus, one document in twenty is another one plus " dup"
    for src, dst in rng.integers(0, n_docs, (n_docs // 20, 2)).tolist():
        if src != dst:
            texts[dst] = texts[src] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_catalog(root: str, seed: int) -> str:
    os.makedirs(root, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root

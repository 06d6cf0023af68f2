"""online_lookup: the serving path against a materialized latest view.

Set-up: ``store.materialize`` builds the ``transaction_stats_5m`` latest view
(newest 5 m / 1 m sliding window per user) from generated events, and the
benchmark computes the same view in plain Python as its expected dict.

Load: one closed-loop client. A request asks for REQUEST_KEYS distinct keys,
Zipf-skewed over the known users plus about 10 % unknown ids; it builds the
keys frame, calls ``store.get_online`` and collects the rows. After every
UPSERT_EVERY-th request one ``upsert_latest`` writes UPSERT_ROWS entities
with newer windows, so later reads must return the new values. Reads and
writes never overlap.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import Run, count_parquet, pct
from perfbench.trace import Spans

USERS = datagen.STREAM_USERS
EVENTS = 20_000
EVENT_SPAN_S = 3600
REQUEST_KEYS = 64
UNKNOWN_KEYS = 6
UPSERT_EVERY = 5
UPSERT_ROWS = 200
NOW_S = datagen.STREAM_EPOCH_S + 2 * 86_400  # pinned serving clock
FEATURES = ("window_start_s", "event_count", "value_sum", "value_max", "freshness_s")
UNKNOWN = (None,) * len(FEATURES)


def _dec(v: float) -> Decimal:
    """A double as Spark casts it to decimal(18,4)."""
    return Decimal(repr(v)).quantize(Decimal("0.0001"))


def expected_view(events) -> dict[int, tuple]:
    """user -> served feature tuple of the newest 5 m / 1 m window, computed
    without Spark: the newest window starts at the minute of the user's
    last event and holds the user's events from that minute on."""
    users = events.column("user_id").to_numpy()
    ts_us = events.column("ts").cast("int64").to_numpy()
    values = events.column("value").to_numpy()
    last: dict[int, int] = {}
    for u, t in zip(users.tolist(), ts_us.tolist()):
        if t > last.get(u, -1):
            last[u] = t
    start = {u: (t // 60_000_000) * 60 for u, t in last.items()}
    acc: dict[int, list] = {}
    for u, t, v in zip(users.tolist(), ts_us.tolist(), values.tolist()):
        if t // 1_000_000 >= start[u]:
            a = acc.setdefault(u, [0, Decimal(0), None])
            a[0] += 1
            a[1] += _dec(v)
            a[2] = v if a[2] is None else max(a[2], v)
    return {u: (start[u], c, float(s), m, NOW_S - start[u]) for u, (c, s, m) in acc.items()}


def served(rows) -> list[tuple]:
    return sorted((r["user_id"], tuple(r[c] for c in FEATURES)) for r in rows)


def wanted(keys, expected: dict) -> list[tuple]:
    return sorted((k, expected.get(k, UNKNOWN)) for k in keys)


def request_keys(rng: np.random.Generator) -> list[int]:
    known = rng.choice(USERS, REQUEST_KEYS - UNKNOWN_KEYS, replace=False, p=datagen.zipf_weights(USERS))
    unknown = rng.choice(np.arange(10 * USERS, 20 * USERS), UNKNOWN_KEYS, replace=False)
    return [int(k) for k in np.concatenate([known, unknown])]


def upsert_rows(rng: np.random.Generator, expected: dict, columns: list[str]) -> list[tuple]:
    """UPSERT_ROWS existing entities, each with a window 1-5 minutes newer
    than the one it serves now; ``expected`` is updated in place."""
    users = rng.choice(sorted(expected), UPSERT_ROWS, replace=False)
    rows = []
    for u in users.tolist():
        ws = expected[u][0] + 60 * int(rng.integers(1, 6))
        feat = {
            "user_id": u,
            "window_start_s": ws,
            "event_count": int(rng.integers(1, 50)),
            "value_sum": float(round(rng.uniform(1.0, 5000.0), 2)),
            "value_max": float(round(rng.uniform(1.0, 500.0), 2)),
        }
        expected[u] = (ws, feat["event_count"], feat["value_sum"], feat["value_max"], NOW_S - ws)
        rows.append(tuple(feat[c] for c in columns))
    return rows


class Client:
    def __init__(self, r: Run, latest: str, spans: Spans):
        from streaming_feature_store_spark.store import get_online
        from streaming_feature_store_spark.streaming.sinks import upsert_latest

        self.spark, self.latest, self.spans = r.spark, latest, spans
        self.get_online, self.upsert_latest = get_online, upsert_latest
        schema = self.spark.read.parquet(latest).drop("_bucket").schema
        self.schema, self.columns = schema, schema.fieldNames()

    def request(self, keys: list[int]) -> list:
        with self.spans.span("request"):
            with self.spans.span("bench.keys_frame"):
                kdf = self.spark.createDataFrame([(k,) for k in keys], "user_id long")
            with self.spans.span("store.get_online"):
                df = self.get_online(self.spark, self.latest, kdf, "user_id", now_s=NOW_S)
            with self.spans.span("store.collect"):
                return df.collect()

    def upsert(self, rows: list[tuple]) -> None:
        batch = self.spark.createDataFrame(rows, self.schema)
        with self.spans.span("sinks.upsert_latest"):
            self.upsert_latest(self.spark, batch, self.latest, ["user_id"], "window_start_s")


def build_view(r: Run, rng: np.random.Generator) -> tuple[Client, dict]:
    """Materialize the latest view from generated events; returns the
    client and the expected dict."""
    from streaming_feature_store_spark.registry import default_registry
    from streaming_feature_store_spark.store import materialize

    events = datagen.event_batch(rng, 0, EVENTS, 0.0, EVENT_SPAN_S)
    events_path = r.path("events.parquet")
    pq.write_table(events, events_path)
    latest, log = r.path("latest"), r.path("log")
    view = default_registry().views["transaction_stats_5m"]
    materialize(r.spark, view, r.spark.read.parquet(events_path), latest, log)
    return Client(r, latest, Spans(False)), expected_view(events)


@dataclass
class Served:
    attempted: int = 0
    failed: int = 0
    lookup_ms: list = field(default_factory=list)
    upsert_ms: list = field(default_factory=list)


def serve(client: Client, rng: np.random.Generator, expected: dict, seconds: float, min_requests: int) -> Served:
    """Closed loop, one client: requests until ``seconds`` have passed and
    at least ``min_requests`` were made, an upsert after every
    UPSERT_EVERY-th request. Every response is checked."""
    out = Served()
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or out.attempted < min_requests:
        keys = request_keys(rng)
        t = time.perf_counter()
        rows = client.request(keys)
        out.lookup_ms.append((time.perf_counter() - t) * 1000.0)
        out.attempted += 1
        out.failed += served(rows) != wanted(keys, expected)
        if out.attempted % UPSERT_EVERY == 0:
            batch = upsert_rows(rng, expected, client.columns)
            t = time.perf_counter()
            client.upsert(batch)
            out.upsert_ms.append((time.perf_counter() - t) * 1000.0)
    return out


def layer_metrics(spark, spans: Spans, latest: str) -> dict:
    """Store-layer and upsert numbers from the request and upsert spans."""
    from perfbench.trace import SparkRest, jobs_in

    rest = SparkRest(spark)
    jobs = rest.jobs()
    stages = {s["stageId"]: s for s in rest.stages()}

    def census(name):
        js = [jobs_in(jobs, s, e) for s, e in spans.intervals(name)]
        tasks = [sum(stages[i]["numCompleteTasks"] for j in group for i in j["stageIds"] if i in stages) for group in js]
        return [len(g) for g in js], tasks

    req_jobs, req_tasks = census("request")
    up_jobs, _ = census("sinks.upsert_latest")

    def p50_ms(name):
        d = spans.durations(name)
        return pct(d, 50) * 1000.0 if d else 0.0

    return {
        "store.get_online_ms_p50": p50_ms("store.get_online"),
        "store.collect_ms_p50": p50_ms("store.collect"),
        "store.jobs_per_lookup": pct(req_jobs, 50),
        "store.tasks_per_lookup": pct(req_tasks, 50),
        "store.latest_files": count_parquet(latest),
        "bench.keys_frame_ms_p50": p50_ms("bench.keys_frame"),
        "streaming.sinks.upsert_latest_ms_p50": p50_ms("sinks.upsert_latest"),
        "streaming.sinks.upsert_latest_jobs": pct(up_jobs, 50) if up_jobs else 0,
    }

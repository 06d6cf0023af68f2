"""stream_ingest: the streaming feature pipeline on generated event files.

``read_file_stream`` -> ``start_feature_pipeline`` (windowed aggregation,
then ``upsert_latest`` + ``append_log`` in foreachBatch), in two phases on
one checkpoint:

1. backlog drain: pre-landed files drained in DRAIN_FILES_PER_BATCH-file
   micro-batches (availableNow trigger); sets the replay rate;
2. open-loop live tail: for --seconds a feeder thread lands a small file
   every LIVE_INTERVAL_S on a fixed schedule while the restarted query
   tails the directory; sets freshness, dominated by per-batch fixed cost.

Freshness of a file = commit of the micro-batch that consumed it minus the
time the file was due at the generator. The file -> micro-batch map comes
from the progress reports' source offsets (``logOffset`` ranges) and the
file source's log in the checkpoint, never from the batch id: no-data
batches advance the batch id but not the source log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen
from perfbench.common import Run, count_parquet, pct
from perfbench.trace import Spans, iso_s

EVENTS_PER_S = 2000  # event-time rate of the generated stream
BACKLOG_FILES = 12
BACKLOG_EVENTS = 1000
DRAIN_FILES_PER_BATCH = 4  # 3 drain batches of 4 k events
WARM_FILES = 2
LIVE_EVENTS = 50
# 20 files/s x 50 events = 1 k events/s; at 2 k/s the tail's backlog grew on
# a 4-core host, so freshness would depend on how long the tail runs
LIVE_INTERVAL_S = 0.05


def plan_files(seed: int, sizes: list[int]):
    """One table per file, event time continuing across files."""
    rng = np.random.default_rng(seed)
    tables, first, t = [], 0, 0.0
    for n in sizes:
        span = n / EVENTS_PER_S
        tables.append(datagen.event_batch(rng, first, n, t, span))
        first += n
        t += span
    return tables


class Feeder(threading.Thread):
    """Open-loop generator: file i is due at t0 + i * interval whatever the
    pipeline does. Records each file's due time and how late it landed."""

    def __init__(self, tables, directory: str, prefix: str, interval_s: float, stop: threading.Event):
        super().__init__(name="perfbench-feeder", daemon=True)
        self.tables, self.dir, self.prefix = tables, directory, prefix
        self.interval, self.stop_event = interval_s, stop
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []
        self.t0 = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.t0 = time.time()
            for i, table in enumerate(self.tables):
                due = self.t0 + i * self.interval
                if self.stop_event.wait(max(0.0, due - time.time())):
                    return
                name = f"{self.prefix}-{i:05d}.parquet"
                datagen.write_parquet(table, os.path.join(self.dir, name))
                self.due[name] = due
                self.late_ms.append((time.time() - due) * 1000.0)
        except BaseException as e:  # surfaced by the caller after join
            self.error = e


def land(tables, directory: str, prefix: str) -> None:
    for i, table in enumerate(tables):
        datagen.write_parquet(table, os.path.join(directory, f"{prefix}-{i:05d}.parquet"))


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> index of the file-source log entry that listed it, from
    the checkpoint's ``sources/0`` log (plain and compacted entries)."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    for entry in os.listdir(d):
        if entry.startswith("."):
            continue
        with open(os.path.join(d, entry)) as f:
            for line in f.read().splitlines()[1:]:  # first line is the version
                if line.strip():
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _log_offset(off: dict | None) -> int:
    return -1 if off is None else int(off["logOffset"])  # first batch: None


@dataclass
class Batch:
    batch_id: int
    start_s: float  # trigger start
    end_s: float  # commit (end of trigger execution)
    first_log: int  # exclusive
    last_log: int  # inclusive
    rows: int
    durations: dict = field(default_factory=dict)


def progress_reports(q) -> list[dict]:
    """The query's progress reports, as the JSON Spark renders them."""
    return [json.loads(p.json) for p in q.recentProgress]


def batches(progress: list[dict]) -> list[Batch]:
    """Micro-batches that consumed source input, from progress reports."""
    out = []
    for p in progress:
        src = p["sources"][0]
        lo, hi = _log_offset(src["startOffset"]), _log_offset(src["endOffset"])
        if hi <= lo:
            continue  # no-data batch
        start = iso_s(p["timestamp"])
        dur = p["durationMs"]
        out.append(Batch(p["batchId"], start, start + dur["triggerExecution"] / 1000.0, lo, hi, p["numInputRows"], dur))
    return out


def file_commits(log_index: dict[str, int], bs: list[Batch]) -> dict[str, Batch]:
    """File name -> the micro-batch whose source offset range holds the
    file's log entry."""
    out = {}
    for name, idx in log_index.items():
        for b in bs:
            if b.first_log < idx <= b.last_log:
                out[name] = b
                break
    return out


def newest_windows(rows) -> dict[int, tuple]:
    """user -> (window_start_s, event_count, value_sum, value_max, value_min)
    of the newest window."""
    out: dict[int, tuple] = {}
    for r in rows:
        key = (r["window_start_s"], r["event_count"], r["value_sum"], r["value_max"], r["value_min"])
        if r["user_id"] not in out or key[0] > out[r["user_id"]][0]:
            out[r["user_id"]] = key
    return out


def view_mismatches(expected: dict, actual: dict) -> set:
    """Users whose served row differs from the recompute, or is missing or
    unexpected."""
    return {u for u in expected.keys() | actual.keys() if expected.get(u) != actual.get(u)}


def _wait_idle(q, timeout_s: float = 60.0) -> None:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        st = q.status
        if not st["isTriggerActive"] and not st["isDataAvailable"] and q.isActive:
            return
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(0.05)
    raise TimeoutError("stream did not become idle")


def dirs(r: Run, name: str) -> dict[str, str]:
    """Source, checkpoint, latest view and log directories of one pipeline."""
    out = {k: r.path(name, k) for k in ("src", "ck", "latest", "log")}
    os.makedirs(out["src"])
    return out


def drain(r: Run, d: dict, backlog) -> tuple[float, list[dict]]:
    """Land ``backlog`` and drain it in DRAIN_FILES_PER_BATCH-file
    micro-batches (availableNow). Returns the wall time and the progress
    reports."""
    from streaming_feature_store_spark.streaming.pipeline import read_file_stream, start_feature_pipeline

    land(backlog, d["src"], "backlog")
    t0 = time.perf_counter()
    events = read_file_stream(
        r.spark, d["src"], datagen.event_spark_schema(), max_files_per_trigger=DRAIN_FILES_PER_BATCH
    )
    q = start_feature_pipeline(r.spark, events, d["latest"], d["log"], checkpoint=d["ck"])
    q.awaitTermination()
    return time.perf_counter() - t0, progress_reports(q)


def tail(r: Run, d: dict, live) -> tuple[Feeder, float, list[dict]]:
    """Restart the query on the drain's checkpoint with a continuous
    trigger, let the feeder land the ``live`` tables on its schedule, then
    let the query consume what is left. Returns the feeder, the time it
    stopped and the progress reports."""
    from streaming_feature_store_spark.streaming.pipeline import read_file_stream, start_feature_pipeline

    events = read_file_stream(r.spark, d["src"], datagen.event_spark_schema(), max_files_per_trigger=None)
    q = start_feature_pipeline(
        r.spark, events, d["latest"], d["log"], checkpoint=d["ck"], trigger_available_now=False
    )
    _wait_idle(q)
    stop = threading.Event()
    feeder = Feeder(live, d["src"], "live", LIVE_INTERVAL_S, stop)
    r.add_thread(feeder, stop)
    feeder.start()
    feeder.join()
    if feeder.error is not None:
        raise feeder.error
    feeder_end = time.time()
    q.processAllAvailable()
    progress = progress_reports(q)
    q.stop()
    return feeder, feeder_end, progress


def recompute(spark, src: str) -> dict:
    """Batch twin: windowed_features over every landed file."""
    from streaming_feature_store_spark.streaming.pipeline import windowed_features

    ev = spark.read.schema(datagen.event_spark_schema()).parquet(src)
    return newest_windows(windowed_features(ev).collect())


def file_users(tables, names) -> dict[str, set]:
    return {n: set(t.column("user_id").to_pylist()) for n, t in zip(names, tables)}


def run(r: Run, seconds: int) -> dict:
    import streaming_feature_store_spark.streaming.pipeline as pipeline_mod

    spans = Spans(r.trace)
    spark = r.start_spark()
    r.mark("session")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    n_live = max(int(seconds / LIVE_INTERVAL_S), 1)
    files = plan_files(r.seed, [BACKLOG_EVENTS] * BACKLOG_FILES + [LIVE_EVENTS] * n_live)
    backlog, live = files[:BACKLOG_FILES], files[BACKLOG_FILES:]

    # warm-up on another directory: a session's first micro-batch is a cold
    # one (JIT, planning); the measured drain runs before the tail, so the
    # tail starts warm too
    drain(r, dirs(r, "warm"), plan_files(r.seed + 1_000_003, [BACKLOG_EVENTS] * WARM_FILES))
    setup_s = r.mark("warm_pipeline")

    saved = (pipeline_mod.upsert_latest, pipeline_mod.append_log)
    if r.trace:
        pipeline_mod.upsert_latest = spans.wrap("sinks.upsert_latest", saved[0])
        pipeline_mod.append_log = spans.wrap("sinks.append_log", saved[1])
    d = dirs(r, "run")
    try:
        drain_s, drain_progress = drain(r, d, backlog)
        r.mark("drain")
        feeder, feeder_end, live_progress = tail(r, d, live)
        r.mark("tail")
    finally:
        pipeline_mod.upsert_latest, pipeline_mod.append_log = saved

    drain_batches, live_batches = batches(drain_progress), batches(live_progress)
    commits = file_commits(source_log(d["ck"]), drain_batches + live_batches)
    fresh = [commits[n].end_s - due for n, due in feeder.due.items() if n in commits]
    # files landed by the time the feeder stopped that no micro-batch begun
    # before then had taken: grows when the live rate is above what the
    # pipeline sustains
    unconsumed = [n for n in feeder.due if n not in commits or commits[n].start_s >= feeder_end]
    n_events = sum(t.num_rows for t in backlog)

    expected = recompute(spark, d["src"])
    actual = newest_windows(spark.read.parquet(d["latest"]).collect())
    bad_users = view_mismatches(expected, actual)
    r.mark("check")
    landed_names = [f"backlog-{i:05d}.parquet" for i in range(len(backlog))] + sorted(feeder.due)
    users = file_users(backlog + live[: len(feeder.due)], landed_names)
    failed = sum(1 for n in landed_names if n not in commits or users[n] & bad_users)

    out = {
        "setup_s": setup_s,
        "attempted": len(landed_names),
        "failed": failed,
        "correct": failed == 0 and not bad_users,
        "latency_ms": [f * 1000.0 for f in fresh],
        "work_s": drain_s,
        "named": {
            "freshness_p50_s": (pct(fresh, 50), "s"),
            "freshness_p90_s": (pct(fresh, 90), "s"),
            "replay_events_per_s": (n_events / drain_s, "1/s"),
        },
        "samples": {
            "freshness_files": len(fresh),
            "drain_events": n_events,
            "drain_batch_ms": [b.durations["triggerExecution"] for b in drain_batches],
            "live_batch_ms": [b.durations["triggerExecution"] for b in live_batches],
            "backlog_files_end": len(unconsumed),
            "feeder_late_ms_max": max(feeder.late_ms),
        },
        "check": {"users_checked": len(expected), "users_mismatched": len(bad_users)},
    }
    if r.trace:
        progress = drain_progress + live_progress
        out["layers"] = layer_metrics(spark, d, drain_batches, live_batches, progress, spans, out["samples"])
    return out


def _p50(values):
    return pct(values, 50) if values else 0.0


def layer_metrics(spark, d: dict, drain: list[Batch], live: list[Batch], progress, spans: Spans, samples) -> dict:
    """Per-layer numbers from the progress reports, the sink spans and
    Spark's job list."""
    from perfbench.trace import SparkRest, jobs_in

    last_state = None
    dropped = 0
    for p in progress:
        for op in p["stateOperators"]:
            dropped += op["numRowsDroppedByWatermark"]
            last_state = op
    jobs = SparkRest(spark).jobs()
    up = spans.intervals("sinks.upsert_latest")
    return {
        "sources.file.list_ms_p50": _p50(
            [b.durations.get("latestOffset", 0) + b.durations.get("getBatch", 0) for b in live]
        ),
        "streaming.pipeline.batch_ms_p50": _p50([b.durations["triggerExecution"] for b in live]),
        "streaming.pipeline.plan_ms_p50": _p50([b.durations.get("queryPlanning", 0) for b in live]),
        "streaming.pipeline.batches": len(live) + len(drain),
        "streaming.pipeline.rows_per_batch_p50": _p50([b.rows for b in live]),
        "streaming.pipeline.replay_batch_ms_p50": _p50([b.durations["triggerExecution"] for b in drain]),
        "streaming.checkpoint_ms_p50": _p50(
            [b.durations.get("walCommit", 0) + b.durations.get("commitOffsets", 0) for b in live]
        ),
        "streaming.sinks.foreach_batch_ms_p50": _p50([b.durations.get("addBatch", 0) for b in live]),
        "streaming.sinks.upsert_latest_ms_p50": _p50([x * 1000 for x in spans.durations("sinks.upsert_latest")]),
        "streaming.sinks.upsert_latest_jobs": _p50([len(jobs_in(jobs, s, e)) for s, e in up]),
        "streaming.sinks.append_log_ms_p50": _p50([x * 1000 for x in spans.durations("sinks.append_log")]),
        "streaming.sinks.latest_files_end": count_parquet(d["latest"]),
        "streaming.sinks.log_files_end": count_parquet(d["log"]),
        "streaming.state.rows_end": last_state["numRowsTotal"] if last_state else 0,
        "streaming.state.mem_mb_end": last_state["memoryUsedBytes"] / 1e6 if last_state else 0.0,
        "streaming.watermarks.dropped_rows": dropped,
        "bench.feeder_late_ms_max": samples["feeder_late_ms_max"],
        "bench.backlog_files_end": samples["backlog_files_end"],
    }

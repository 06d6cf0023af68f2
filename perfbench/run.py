"""Feature-store benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (each builds its inputs from --seed):

- stream_ingest   backlog drain, then an open-loop live tail, through the
                  streaming feature pipeline (perfbench/stream_ingest.py);
- online_offline  one timed pass of training-read and curation catalog
                  queries, then closed-loop online lookups with interleaved
                  upserts (perfbench/online_offline.py).

Every workload prints the same end-to-end metrics (tracing off) or per-layer
metrics (--trace 1); what an end-to-end metric measures on each workload:

    latency_p50_ms / latency_p90_ms
        stream_ingest   freshness of a live file: due time at the generator
                        -> commit of the micro-batch that made it queryable
        online_offline  one lookup request: keys frame, get_online, collect
    work_s
        stream_ingest   wall time to drain the pre-landed backlog
        online_offline  wall time of the timed catalog pass
    setup_s      process start -> first timed operation (JVM, inputs,
                 correctness pass, warm-up)
    peak_rss_mb  peak resident memory of the driver JVM plus this process
    ok_frac      operations whose output passed its check / attempted

A per-layer metric of a layer the workload does not call reads 0.

Output: a run record line ({"run_record": ...}, with the headline metrics by
their own names, sample counts, host, heap, versions and the host's CPU steal
share per phase) and, last, the result line
{"correct", "attempted", "failed", "metrics"}. Exit status 0 only when a
result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.common import Run, metric, pct  # noqa: E402

WORKLOADS = ("stream_ingest", "online_offline")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "work_s": "s",
}

# per-layer metric -> unit; a layer the workload does not call reads 0
LAYERS = {
    "sources.file.list_ms_p50": "ms",
    "streaming.pipeline.batch_ms_p50": "ms",
    "streaming.pipeline.plan_ms_p50": "ms",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.rows_per_batch_p50": "count",
    "streaming.pipeline.replay_batch_ms_p50": "ms",
    "streaming.checkpoint_ms_p50": "ms",
    "streaming.sinks.foreach_batch_ms_p50": "ms",
    "streaming.sinks.upsert_latest_ms_p50": "ms",
    "streaming.sinks.upsert_latest_jobs": "count",
    "streaming.sinks.append_log_ms_p50": "ms",
    "streaming.sinks.latest_files_end": "count",
    "streaming.sinks.log_files_end": "count",
    "streaming.state.rows_end": "count",
    "streaming.state.mem_mb_end": "MB",
    "streaming.watermarks.dropped_rows": "count",
    "store.get_online_ms_p50": "ms",
    "store.collect_ms_p50": "ms",
    "store.jobs_per_lookup": "count",
    "store.tasks_per_lookup": "count",
    "store.latest_files": "count",
    "bench.keys_frame_ms_p50": "ms",
    "bench.feeder_late_ms_max": "ms",
    "bench.backlog_files_end": "count",
}
SESSION = {"tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s", "executor_run_s": "s"}
QUERY_PARTS = {"construct_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit: the static layers, Spark's
    counters for the whole run and per offline query group, and each
    query's split."""
    from perfbench.offline_batch import GROUPS

    out = dict(LAYERS)
    for prefix in ["spark"] + [f"spark.{g}" for g in GROUPS]:
        out.update({f"{prefix}.{k}": u for k, u in SESSION.items()})
    for q in (q for qs in GROUPS.values() for q in qs):
        out.update({f"plans.queries.{q}.{k}": u for k, u in QUERY_PARTS.items()})
    return out


def run_workload(r: Run, seconds: int) -> dict:
    if r.workload == "stream_ingest":
        from perfbench import stream_ingest as w
    else:
        from perfbench import online_offline as w
    out = w.run(r, seconds)
    if r.trace:
        from perfbench.trace import SparkRest, stage_totals

        for k, v in stage_totals(SparkRest(r.spark).stages()).items():
            out.setdefault("layers", {})[f"spark.{k}"] = v
    return out


def summarize(r: Run, out: dict, seconds: int) -> tuple[dict, dict]:
    lat = out["latency_ms"]
    e2e = {
        "setup_s": out["setup_s"],
        "peak_rss_mb": r.peak_rss_mb(),
        "ok_frac": (out["attempted"] - out["failed"]) / out["attempted"],
        "latency_p50_ms": pct(lat, 50),
        "latency_p90_ms": pct(lat, 90),
        "work_s": out["work_s"],
    }
    record = {
        "workload": r.workload,
        "seed": r.seed,
        "seconds": seconds,
        "trace": r.trace,
        "nproc": common.cpu_count(),
        "mem_total_mb": common.mem_total_mb(),
        "heap": r.heap,
        "spark_version": r.spark_version,
        "git_head": common.git_head(),
        "end_to_end": e2e,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in out["named"].items()},
        "samples": {"latency": len(lat), **out.get("samples", {})},
        "check": out.get("check", {}),
        "phases_s": r.phases,
        "steal_pct": r.steal,
    }
    return e2e, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with Run(args.workload, args.seed, bool(args.trace)) as r:
        out = run_workload(r, args.seconds)
        e2e, record = summarize(r, out, args.seconds)
        if r.trace:
            units = per_layer_units()
            layers = out.get("layers", {})
            unknown = set(layers) - set(units)
            if unknown:
                raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
            metrics = {k: metric(layers.get(k, 0), u) for k, u in units.items()}
            record["layers"] = layers
            untraced = common.load_record(r.workload, r.seed, False)
            if untraced is not None:
                record["tracing_overhead"] = {
                    k: e2e[k] - untraced["end_to_end"][k] for k in END_TO_END if k in untraced["end_to_end"]
                }
        else:
            metrics = {k: metric(e2e[k], u) for k, u in END_TO_END.items()}
    common.save_record(record)
    print(json.dumps({"run_record": record}, sort_keys=True))
    print(common.result_line(out["correct"], out["attempted"], out["failed"], metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

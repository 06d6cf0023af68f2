"""online_offline: the read side of the store in one session.

Set-up: generate the catalog corpus, run the offline check pass (every
query against its DuckDB twin; also the JVM warm-up), materialize the
online latest view and make WARM_LOOKUPS lookups.

Measured, in order and never overlapping:

1. online lookups, straight after the warm ones: closed-loop requests with
   an upsert after every UPSERT_EVERY-th, for --seconds and at least
   MIN_LOOKUPS requests (perfbench/online_lookup.py);
2. offline batch: one timed pass over the training-read and curation
   query groups (perfbench/offline_batch.py).

The run record keeps every lookup's latency in request order, so that a
lookup phase that is still warming up shows.
"""

from __future__ import annotations

import numpy as np

from perfbench import datagen, offline_batch, online_lookup
from perfbench.common import Run, pct
from perfbench.trace import Spans

MIN_LOOKUPS = 10
WARM_LOOKUPS = 3


def run(r: Run, seconds: int) -> dict:
    spans = Spans(r.trace)
    spark = r.start_spark()
    r.mark("session")
    corpus = datagen.write_catalog(r.path("corpus"), r.seed)
    r.mark("inputs")
    oracle = offline_batch.check_pass(spark, corpus)
    r.mark("check_pass")
    rng = np.random.default_rng(r.seed)
    client, expected = online_lookup.build_view(r, rng)
    r.mark("materialize")
    warm = online_lookup.serve(client, rng, expected, 0.0, WARM_LOOKUPS)
    setup_s = r.mark("warm_lookups")

    client.spans = spans
    served = online_lookup.serve(client, rng, expected, seconds, MIN_LOOKUPS)
    r.mark("lookups")
    times = offline_batch.timed_pass(spark, corpus, spans, r.trace)
    r.mark("batch_pass")

    queries = [q for qs in offline_batch.GROUPS.values() for q in qs]
    bad_queries = offline_batch.oracle_failures(oracle)
    # lookups, upserts (checked by the reads after them), and each query's
    # check-pass and timed-pass runs
    attempted = warm.attempted + served.attempted + len(served.upsert_ms) + 2 * len(queries)
    failed = warm.failed + served.failed + len(bad_queries)
    group_s = {g: sum(times[q] for q in qs) for g, qs in offline_batch.GROUPS.items()}

    out = {
        "setup_s": setup_s,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "latency_ms": served.lookup_ms,
        "work_s": sum(times.values()),
        "named": {
            "lookup_p50_ms": (pct(served.lookup_ms, 50), "ms"),
            "lookup_p90_ms": (pct(served.lookup_ms, 90), "ms"),
            "upsert_p50_ms": (pct(served.upsert_ms, 50), "ms"),
            "feature_read_s": (group_s["feature_read"], "s"),
            "curation_s": (group_s["curation"], "s"),
        },
        "samples": {
            "lookups": served.attempted,
            "upserts": len(served.upsert_ms),
            "warm_lookups": warm.attempted,
            "lookup_ms_in_order": [round(x, 1) for x in warm.lookup_ms + served.lookup_ms],
            "upsert_ms": [round(x, 1) for x in served.upsert_ms],
            "query_s": {q: round(t, 3) for q, t in times.items()},
        },
        "check": {
            "users": len(expected),
            "oracle": offline_batch.oracle_report(oracle),
            "oracle_known_diffs": sum(1 for q in queries if oracle[q] is not None) - len(bad_queries),
        },
    }
    if r.trace:
        out["layers"] = {
            **online_lookup.layer_metrics(spark, spans, client.latest),
            **offline_batch.layer_metrics(spark, spans),
        }
    return out

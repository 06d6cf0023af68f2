"""Offline batch phase: training-read and curation catalog queries over a
generated corpus.

Each query is ``QUERIES[q](spark, corpus_dir)`` forced with the noop sink,
as the package's bench.py does. One untimed check pass comes first: it
collects every query, compares the rows with the query's DuckDB twin in
``ORACLES`` (row count, columns, order-insensitive values, as
tools/check_parity.py compares them) and warms the JVM. Every query stays in
the timed pass whatever its oracle result; the run record reports that
result per query.
"""

from __future__ import annotations

import math
import time

from perfbench.common import pct
from perfbench.trace import Spans

GROUPS = {
    # short training-read queries; plan time is a large share
    "feature_read": [
        "q03_user_sliding_5m_1m",
        "q05_multi_horizon",
        "q46_wide_feature_frame",
        "q144_feature_service_read",
    ],
    # the MinHash near-duplicate screen: a many-job curation operator with a
    # large fixed overhead
    "curation": [
        "q39_minhash_near_dups",
    ],
}
# Queries whose result can differ from their DuckDB twin on generated
# corpora, with the known cause. Such a difference is reported per query in
# the run record and does not fail the run; any other difference, and any
# error, does.
KNOWN_ORACLE_DIFFS = {
    "q46_wide_feature_frame": "ROUND(x, 6) of a half-way value: Spark 256.678438, DuckDB 256.678437",
    "q39_minhash_near_dups": "the LSH screen can miss a near-duplicate pair the exact all-pairs twin finds",
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            vals.append("NaN" if isinstance(v, float) and math.isnan(v) else repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


def oracle_diff(spark_rows: list[dict], spark_cols: list[str], duck_rows: list[dict]) -> str | None:
    """None when the results agree, else what differs."""
    cols = sorted(spark_cols)
    dcols = sorted(duck_rows[0].keys()) if duck_rows else cols
    if len(spark_rows) != len(duck_rows):
        return f"row count spark={len(spark_rows)} duckdb={len(duck_rows)}"
    if cols != dcols:
        return f"columns spark={cols} duckdb={dcols}"
    a, b = normalize(spark_rows, cols), normalize(duck_rows, cols)
    if a != b:
        return f"{sum(x != y for x, y in zip(a, b))}/{len(a)} rows differ"
    return None


def check_pass(spark, corpus: str) -> dict[str, str | None]:
    """Query -> None if it matches its DuckDB twin, else the difference
    ("error: ..." when the query raised)."""
    import duckdb

    from streaming_feature_store_spark.plans.queries import ORACLES, QUERIES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        result = {}
        for q in [q for qs in GROUPS.values() for q in qs]:
            try:
                df = QUERIES[q](spark, corpus)
                rows = [r.asDict() for r in df.collect()]
                duck = con.execute(ORACLES[q]).fetch_arrow_table().to_pylist()
                result[q] = oracle_diff(rows, df.columns, duck)
            except Exception as e:  # a failing query is reported, not fatal
                result[q] = f"error: {e!r}"[:500]
            spark.catalog.clearCache()
        return result
    finally:
        con.close()


def oracle_failures(oracle: dict[str, str | None]) -> list[str]:
    """Queries whose oracle result fails the run: an error, or a difference
    that KNOWN_ORACLE_DIFFS does not explain."""
    return [
        q for q, diff in oracle.items() if diff is not None and (diff.startswith("error:") or q not in KNOWN_ORACLE_DIFFS)
    ]


def oracle_report(oracle: dict[str, str | None]) -> dict[str, str]:
    """Query -> "ok", or the difference (with its known cause, if any)."""
    out = {}
    for q, diff in oracle.items():
        if diff is None:
            out[q] = "ok"
        elif q in KNOWN_ORACLE_DIFFS and not diff.startswith("error:"):
            out[q] = f"differs (known: {KNOWN_ORACLE_DIFFS[q]}): {diff}"
        else:
            out[q] = f"FAILS: {diff}"
    return out


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timed_pass(spark, corpus: str, spans: Spans, trace: bool) -> dict[str, float]:
    """One pass over both groups; query -> wall seconds. Traced passes
    also split each query into construct, forced physical planning and
    execution."""
    from streaming_feature_store_spark.plans.queries import QUERIES

    times = {}
    for group, qs in GROUPS.items():
        with spans.span(f"group.{group}"):
            for q in qs:
                t0 = time.perf_counter()
                with spans.span(q):
                    with spans.span(f"{q}.construct"):
                        df = QUERIES[q](spark, corpus)
                    if trace:
                        with spans.span(f"{q}.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with spans.span(f"{q}.exec"):
                        force(df)
                times[q] = time.perf_counter() - t0
                spark.catalog.clearCache()
    return times


def layer_metrics(spark, spans: Spans) -> dict:
    from perfbench.trace import SparkRest, jobs_in, stage_totals

    rest = SparkRest(spark)
    jobs, stages = rest.jobs(), rest.stages()
    out = {}
    for group, qs in GROUPS.items():
        ids = {i for s, e in spans.intervals(f"group.{group}") for j in jobs_in(jobs, s, e) for i in j["stageIds"]}
        for k, v in stage_totals(stages, ids).items():
            out[f"spark.{group}.{k}"] = v
        for q in qs:
            for part in ("construct", "plan", "exec"):
                out[f"plans.queries.{q}.{part}_s"] = pct(spans.durations(f"{q}.{part}"), 50)
            out[f"plans.queries.{q}.jobs"] = pct([len(jobs_in(jobs, s, e)) for s, e in spans.intervals(q)], 50)
    return out

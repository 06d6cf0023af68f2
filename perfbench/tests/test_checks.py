"""Each correctness check accepts a right result and rejects the same result
with one value corrupted (no Spark needed)."""

from __future__ import annotations

import copy
import datetime as dt

import numpy as np
import pyarrow as pa
import pytest

from perfbench import online_lookup, stream_ingest
from perfbench.offline_batch import KNOWN_ORACLE_DIFFS, oracle_diff, oracle_failures, oracle_report


def _row(user, ws, n, s, mx, mn):
    return {
        "user_id": user,
        "window_start_s": ws,
        "event_count": n,
        "value_sum": s,
        "value_max": mx,
        "value_min": mn,
    }


def test_stream_view_check_rejects_one_corrupted_value():
    recompute = [_row(1, 60, 2, 3.5, 2.0, 1.5), _row(1, 120, 1, 1.0, 1.0, 1.0), _row(2, 60, 1, 9.25, 9.25, 9.25)]
    served = [_row(1, 120, 1, 1.0, 1.0, 1.0), _row(2, 60, 1, 9.25, 9.25, 9.25)]
    expected = stream_ingest.newest_windows(recompute)
    assert stream_ingest.view_mismatches(expected, stream_ingest.newest_windows(served)) == set()

    corrupted = copy.deepcopy(served)
    corrupted[1]["value_sum"] = 9.2501
    assert stream_ingest.view_mismatches(expected, stream_ingest.newest_windows(corrupted)) == {2}
    assert stream_ingest.view_mismatches(expected, stream_ingest.newest_windows(served[:1])) == {2}


def _events(rows):
    users, secs, values = zip(*rows)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return pa.table(
        {
            "user_id": pa.array(users, pa.int64()),
            "ts": pa.array([base + dt.timedelta(seconds=s) for s in secs], pa.timestamp("us", tz="UTC")),
            "value": pa.array(values, pa.float64()),
        }
    )


def test_expected_view_is_the_newest_sliding_window():
    ev = _events([(7, 1, 50.0), (7, 601, 150.0), (7, 630.5, 0.1), (8, 3, 25.0)])
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    exp = online_lookup.expected_view(ev)
    # user 7's newest window starts at minute 10 and holds its last two events
    assert exp[7][:4] == (base + 600, 2, 150.1, 150.0)
    assert exp[8][:4] == (base, 1, 25.0, 25.0)
    assert exp[7][4] == online_lookup.NOW_S - (base + 600)


def _response(keys, expected):
    cols = online_lookup.FEATURES
    return [{"user_id": k, **dict(zip(cols, expected.get(k, online_lookup.UNKNOWN)))} for k in keys]


def test_lookup_check_rejects_corrupted_missing_and_stale_rows():
    expected = {1: (60, 2, 3.5, 2.0, 100), 2: (120, 1, 1.0, 1.0, 40)}
    keys = [1, 2, 99]
    good = _response(keys, expected)
    assert online_lookup.served(good) == online_lookup.wanted(keys, expected)
    assert good[2]["event_count"] is None  # unknown key: null features

    bad = copy.deepcopy(good)
    bad[0]["value_max"] = 2.5
    assert online_lookup.served(bad) != online_lookup.wanted(keys, expected)
    assert online_lookup.served(good[:2]) != online_lookup.wanted(keys, expected)

    # after an upsert the pre-upsert row is stale and must fail
    expected = {u: (60, 1, 1.0, 1.0, 0) for u in range(online_lookup.UPSERT_ROWS)}
    before = dict(expected)
    cols = ["user_id", "event_count", "value_sum", "value_max", "window_start_s"]
    rows = online_lookup.upsert_rows(np.random.default_rng(0), expected, cols)
    u = rows[0][0]
    assert expected[u][0] > before[u][0]
    assert online_lookup.served(_response([u], expected)) == online_lookup.wanted([u], expected)
    assert online_lookup.served(_response([u], before)) != online_lookup.wanted([u], expected)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: rows[-1].update(v=rows[-1]["v"] + 1e-9),
        lambda rows: rows.pop(),
        lambda rows: rows[0].update(extra=1),
    ],
)
def test_oracle_check_rejects_one_corrupted_result(corrupt):
    duck = [{"k": 1, "v": 0.5}, {"k": 2, "v": float("nan")}, {"k": 3, "v": None}]
    spark = [dict(r) for r in reversed(duck)]  # order does not matter
    assert oracle_diff(spark, ["k", "v"], duck) is None
    corrupt(spark)
    assert oracle_diff(spark, sorted(spark[0]), duck) is not None


def test_only_a_known_oracle_difference_passes():
    known = next(iter(KNOWN_ORACLE_DIFFS))
    oracle = {"q_ok": None, known: "3/10000 rows differ", "q_other": "1/10 rows differ"}
    assert oracle_failures(oracle) == ["q_other"]
    report = oracle_report(oracle)
    assert report["q_ok"] == "ok"
    assert report[known].startswith("differs (known: ")
    assert report["q_other"].startswith("FAILS: ")
    # an error is never the known difference
    assert oracle_failures({known: "error: RuntimeError()"}) == [known]

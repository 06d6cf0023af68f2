"""Freshness accounting: a file belongs to the micro-batch whose source
offset range holds the file's source-log entry, not to the batch whose id
equals that entry's index."""

from __future__ import annotations

import json

from perfbench import stream_ingest


def _progress(batch_id, start, end, t, dur_ms, rows):
    return {
        "batchId": batch_id,
        "timestamp": f"2026-01-01T00:00:{t:06.3f}Z",
        "numInputRows": rows,
        "durationMs": {"triggerExecution": dur_ms},
        "sources": [
            {
                "startOffset": None if start is None else {"logOffset": start},
                "endOffset": {"logOffset": end},
            }
        ],
        "stateOperators": [],
    }


def _write_log(ck, entries):
    d = ck / "sources" / "0"
    d.mkdir(parents=True)
    for idx, names in entries.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///src/{n}", "timestamp": 0, "batchId": idx}) for n in names]
        suffix = ".compact" if idx == 9 else ""
        (d / f"{idx}{suffix}").write_text("\n".join(lines))
        (d / f".{idx}.crc").write_text("")


def test_files_map_through_offsets_not_batch_ids(tmp_path):
    ck = tmp_path / "ck"
    _write_log(ck, {0: ["a", "b"], 1: ["c"], 2: ["d", "e"]})
    progress = [
        _progress(0, None, 0, 1.0, 2000, 200),
        _progress(1, 0, 0, 3.0, 100, 0),  # no-data batch: watermark only
        _progress(2, 0, 1, 3.5, 2500, 100),
        _progress(3, 1, 1, 6.0, 100, 0),
        _progress(4, 1, 2, 6.5, 3000, 200),
    ]
    log_index = stream_ingest.source_log(str(ck))
    assert log_index == {"a": 0, "b": 0, "c": 1, "d": 2, "e": 2}
    bs = stream_ingest.batches(progress)
    assert [b.batch_id for b in bs] == [0, 2, 4]
    commits = stream_ingest.file_commits(log_index, bs)
    assert {n: b.batch_id for n, b in commits.items()} == {"a": 0, "b": 0, "c": 2, "d": 4, "e": 4}
    # file d commits when batch 4 ends (6.5 s + 3.0 s), not with batch 2
    assert commits["d"].end_s - commits["a"].start_s == 8.5


def test_compacted_log_entries_are_read(tmp_path):
    ck = tmp_path / "ck"
    _write_log(ck, {9: ["x", "y"], 10: ["z"]})
    assert stream_ingest.source_log(str(ck)) == {"x": 9, "y": 9, "z": 10}

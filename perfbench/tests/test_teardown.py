"""An interrupted run leaves nothing behind: no JVM, Python worker or feeder
thread survives, the temp root is gone and the working tree is unchanged."""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time

import pytest

from perfbench.common import ROOT, alive, children

RUN = [sys.executable, "perfbench/run.py", "--workload", "stream_ingest", "--seed", "3", "--seconds", "60", "--trace", "0"]


def _tree_state() -> str:
    """Tracked changes plus every untracked and ignored path, outside
    bytecode caches."""
    out = subprocess.run(
        ["git", "status", "--porcelain", "--ignored", "--untracked-files=all"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return "\n".join(line for line in out.splitlines() if "__pycache__" not in line)


def _is_git_tree() -> bool:
    return subprocess.run(["git", "rev-parse"], cwd=ROOT, capture_output=True).returncode == 0


def _leftovers() -> set[str]:
    names = ("hs_err_pid*.log", "spark-warehouse", "metastore_db", "derby.log")
    return {p for n in names for p in glob.glob(os.path.join(ROOT, n))}


@pytest.mark.parametrize("sig", [signal.SIGTERM, signal.SIGINT])
def test_interrupt_mid_stream_leaves_nothing(sig):
    before = _tree_state() if _is_git_tree() else None
    leftovers = _leftovers()
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    proc = subprocess.Popen(RUN, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        live = os.path.join(ROOT, ".perfbench_tmp", f"run-{proc.pid}", "run", "src", "live-*.parquet")
        deadline = time.monotonic() + 300
        while not glob.glob(live):
            assert proc.poll() is None, proc.stderr.read()[-3000:]
            assert time.monotonic() < deadline, "live phase never started"
            time.sleep(0.2)
        tree = children(proc.pid)
        assert tree, "expected a JVM under the benchmark"
        proc.send_signal(sig)
        out, err = proc.communicate(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    assert proc.returncode != 0
    assert '"correct"' not in out  # no result line
    assert "threads_alive=0" in err and "processes_alive=0" in err, err[-3000:]
    deadline = time.monotonic() + 10
    while any(alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not [p for p in tree if alive(p)]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp", f"run-{proc.pid}"))
    assert _leftovers() == leftovers
    if before is not None:
        assert _tree_state() == before

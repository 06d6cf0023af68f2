"""CI-style guard: EVERY catalog query must match its DuckDB oracle.

Runs the driver-gate replica (tools/check_parity.py) over the full
``queries()``/``oracle_sql()`` catalog at sf0.001 in a subprocess — its own
JVM at full local parallelism, so the conftest session's small test
configuration doesn't slow the sweep. This is what keeps future queries from
landing without a locally-verified oracle (VERDICT r2, next-round #10).
"""

import os
import subprocess
import sys

import pytest


@pytest.mark.slow
def test_all_queries_match_oracle_sf0001():
    proc = subprocess.run(
        [sys.executable, "tools/check_parity.py", "/root/testdata/sf0.001"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=1500,
    )
    tail = "\n".join(proc.stdout.splitlines()[-5:])
    assert proc.returncode == 0, f"parity failures:\n{tail}\n{proc.stderr[-2000:]}"

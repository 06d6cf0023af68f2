import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_feature_store_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _named_ids(config) -> list[str]:
    """Node ids named on the command line (``path::test``), rootdir-relative."""
    ids = []
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            rel = os.path.relpath(os.path.abspath(path), config.rootpath)
            ids.append(f"{rel.replace(os.sep, '/')}::{rest}")
    return ids


def pytest_collection_modifyitems(config, items):
    """Two-tier suite: the multi-second ``slow`` tests are deselected by
    default. ``-m <expr>`` picks the tier itself (``-m slow`` runs them),
    and a test named by node id runs whatever its marks."""
    if config.option.markexpr:
        return
    named = _named_ids(config)
    keep, slow = [], []
    for item in items:
        picked = any(
            item.nodeid == n or item.nodeid.startswith((n + "::", n + "["))
            for n in named
        )
        (slow if item.get_closest_marker("slow") and not picked else keep).append(item)
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = keep

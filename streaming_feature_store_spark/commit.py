"""One commit rule for every versioned artifact the package persists.

An artifact lives in a root dir as version dirs. ``v=<n>`` holds a whole
snapshot; ``d=<n>`` holds only the rows version ``n`` adds to the versions
below it (the delta logs of ``curation.daily_ingest``). The artifact at
version ``n`` is its newest snapshot ``v=k`` with ``k ≤ n``, plus the deltas
``k < d ≤ n``.

A version dir is visible iff ``_SUCCESS`` is in it, and ``_SUCCESS`` is
written last, so a reader, or the retry of a crashed writer, never sees a
torn version:

- a single Spark write commits its own dir: the job commit writes the marker
  once every task's files are in place, and an overwrite deletes the old
  marker first;
- a version made of several sub-writes (an IVF index's centroids and cells,
  a model bundle's model and manifest) is committed by
  :func:`commit_version`, which writes the marker by tmp + rename once every
  sub-write is done.

Writers version by batch or day id and overwrite their own version on a
retry, so no write needs a transaction. Versions written by a session with
``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``, or staged by
tooling without the marker, are invisible; :func:`newest` warns when that is
all it finds. The listing is local-filesystem; on a cluster a table format's
manifest plays its part, as the metadata log does for Structured Streaming's
file sink.
"""

from __future__ import annotations

import os
import re
import shutil
import warnings
from collections.abc import Callable

import pyarrow.fs as pafs

MARKER = "_SUCCESS"
_VERSION = re.compile(r"([vd])=(\d+)")


def _versions(root: str) -> list[tuple[int, str, bool]]:
    """``(n, dir name, committed)`` for each version dir in ``root``, oldest
    first."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        m = _VERSION.fullmatch(name)
        if m:
            ok = os.path.exists(os.path.join(root, name, MARKER))
            out.append((int(m.group(2)), name, ok))
    return sorted(out)


def newest(root: str, upto: int | None = None) -> int | None:
    """The newest committed version ≤ ``upto`` (None: the newest outright),
    or None when there is none.

    A writer passes its batch id: a crashed attempt of batch N may already
    have written version N+1, and the retry must read the version before the
    batch, not its own torn or whole output. When version dirs exist in
    scope but none is committed, this warns and returns None: a crashed
    first attempt leaves exactly that and its retry starts from nothing, but
    so does a state written without the marker, which would otherwise be
    reseeded in silence."""
    in_scope = [(n, ok) for n, _, ok in _versions(root) if upto is None or n <= upto]
    done = [n for n, ok in in_scope if ok]
    if in_scope and not done:
        warnings.warn(
            f"{root}: {len(in_scope)} version dir(s) exist but none carries a "
            f"{MARKER} marker, so the artifact reads as empty. If they were "
            "written without the marker (marksuccessfuljobs=false or external "
            "tooling), no reader or writer can see them; re-commit them.",
            stacklevel=2,
        )
    return max(done, default=None)


def read_newest(root: str, read: Callable, upto: int | None = None):
    """``read(*dirs)`` over the committed dirs that make up the newest
    version ≤ ``upto``: its snapshot, then its deltas, oldest first. None
    when no version is committed in scope, or when its dirs hold no data
    file (only markers); every error ``read`` raises propagates."""
    v = newest(root, upto)
    if v is None:
        return None
    done = [(n, name) for n, name, ok in _versions(root) if ok and n <= v]
    k = max((n for n, name in done if name[0] == "v"), default=-1)
    dirs = [
        os.path.join(root, name)
        for n, name in done
        if n > k or (n == k and name[0] == "v")
    ]
    if not any(f[0] not in "._" for d in dirs for f in os.listdir(d)):
        return None
    return read(*dirs)


def sweep(root: str, keep_last: int = 2) -> list[int]:
    """Keep the newest ``keep_last`` committed snapshots (at least one) and
    delete what no reader of them needs: older snapshots, deltas at or below the oldest one
    kept, and torn dirs below the newest committed version. Torn dirs above
    it belong to a writer that may be mid-commit and are left alone, and a
    root with no committed snapshot is left whole. Returns the deleted
    version numbers, oldest first.

    Run it outside the writer. Keep at least 2 where a retry of the current
    batch may still read the version before it."""
    vs = _versions(root)
    snaps = [n for n, name, ok in vs if ok and name[0] == "v"]
    if not snaps:
        return []
    keep = snaps[-min(max(keep_last, 1), len(snaps))]
    top = max(n for n, _, ok in vs if ok)
    gone = []
    for n, name, ok in vs:
        if n < keep or (n == keep and name[0] == "d") or (not ok and n < top):
            shutil.rmtree(os.path.join(root, name))
            gone.append(n)
    return gone


def write_text(path: str, text: str) -> None:
    """Write a small file whole or not at all: under a temp name, then
    renamed over ``path``. ``path`` is a local path or a filesystem URI."""
    fs, p = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    fs.create_dir(p.rsplit("/", 1)[0])
    with fs.open_output_stream(f"{p}.tmp") as f:
        f.write(text.encode())
    fs.move(f"{p}.tmp", p)


def commit_version(vdir: str, *writes: Callable[[], object]) -> None:
    """Commit the version dir ``vdir`` made of several sub-writes: drop the
    marker a committed earlier attempt left, run ``writes`` in order, then
    write the marker. A crash before the end leaves ``vdir`` invisible, and
    the rerun rewrites it."""
    marker = os.path.join(vdir, MARKER)
    if os.path.exists(marker):
        os.remove(marker)
    for write in writes:
        write()
    write_text(marker, "")

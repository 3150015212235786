"""The engine's on-disk state: one root, one source fingerprint, one
atomic install.

Every persistent cache the engine keeps — staged copies and derived
relations of a fixture, stream input chunks, the q164 view store, the
IVF centroid store, the trained models — lives under ``root()``, which
is ``$TMPDIR/nfl_predictions_spark`` (``TMPDIR`` moves it; nothing else
does). Entries derived from a fixture are keyed by ``staged_path`` on the
fixture's basename AND a fingerprint of its source parquets, so two
fixtures that share a basename, or a fixture regenerated in place, never
read each other's bytes. Every entry is installed by ``atomic_stage``:
built in a private directory, then renamed into place as a unit, so a
reader sees a complete entry (``_SUCCESS`` present) or none.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame

#: superseded generations of one (kind, fixture) are reaped only after
#: this long without a hand-out, so a concurrent session still scanning
#: one never loses it mid-query
GC_GRACE_S = 1800.0


def root() -> str:
    """The cache root. Read per call, so ``TMPDIR`` (or a patched
    ``tempfile.gettempdir``) moves it."""
    return os.path.join(tempfile.gettempdir(), "nfl_predictions_spark")


def path(*parts: str) -> str:
    return os.path.join(root(), *parts)


def fingerprint(sf_dir: str, tables) -> str:
    """Twelve hex digits of an md5 over each source parquet's (size,
    mtime_ns): a fixture regenerated at the same path mints a new key."""
    fp = hashlib.md5()
    for t in tables:
        try:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            fp.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            fp.update(f"{t}:missing".encode())
    return fp.hexdigest()[:12]


def staged_path(sf_dir: str, kind: str, sources=("events",)) -> str:
    """``<root>/<kind>_<sf basename>_<fingerprint of sources>``, with
    deferred GC of superseded generations of the same (kind, basename).
    ``kind`` may hold a subdirectory (``"mv/nation_rev"``)."""
    base = os.path.basename(os.path.normpath(sf_dir))
    stem = path(f"{kind}_{base}")
    out = f"{stem}_{fingerprint(sf_dir, sources)}"
    parent, prefix = os.path.split(stem)
    keep = os.path.basename(out)
    reap_quiet(
        parent,
        lambda name: (name == prefix or name.startswith(prefix + "_")) and name != keep,
    )
    touch(out)
    return out


def reap_quiet(parent: str, superseded: Callable[[str], bool]) -> None:
    """Remove each entry of ``parent`` whose name ``superseded`` picks,
    once it has been quiet for ``GC_GRACE_S``: a concurrent session (or a
    second fixture sharing the basename) may still be scanning it."""
    now = time.time()
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for name in names:
        p = os.path.join(parent, name)
        try:
            if superseded(name) and now - os.stat(p).st_mtime > GC_GRACE_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def touch(p: str) -> None:
    """Reads don't update a directory's mtime; touching a generation on
    every hand-out keys ``reap_quiet``'s grace window on last use, not
    last write."""
    try:
        os.utime(p)
    except OSError:
        pass


def atomic_stage(build: DataFrame | Callable[[str], None], out: str) -> None:
    """Materialize ``out`` unless it is already complete (``_SUCCESS``).

    ``build`` is a writer ``build(tmp_dir)`` that creates ``tmp_dir``
    and leaves ``_SUCCESS`` in it when done (any Spark file write does),
    or a DataFrame, written as parquet. It runs in a private directory
    next to ``out``, which is then renamed into place: two sessions that
    both find ``out`` missing each build privately, and the loser's
    rename fails, so a running reader never has files deleted under it.
    A failed rename with a complete winner in place adopts the winner;
    an incomplete leftover (no ``_SUCCESS``, from an interrupted writer)
    is removed and the rename retried once."""
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return
    if isinstance(build, DataFrame):
        build = build.write.mode("overwrite").parquet
    parent = os.path.dirname(out)
    os.makedirs(parent, exist_ok=True)
    private = tempfile.mkdtemp(prefix=".stage_", dir=parent)
    try:
        tgt = os.path.join(private, "data")
        build(tgt)
        try:
            os.rename(tgt, out)
        except OSError:
            if not os.path.exists(os.path.join(out, "_SUCCESS")):
                shutil.rmtree(out, ignore_errors=True)
                try:
                    os.rename(tgt, out)
                except OSError:
                    pass  # a concurrent healer installed a complete copy
    finally:
        shutil.rmtree(private, ignore_errors=True)

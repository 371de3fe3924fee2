"""Crash-safe materialize-once cache for fixture-derived test tables.

Five queries (delta_scan, delta_time_travel, xml_ingest,
schema_evolution_scan, orc_scan) convert the parquet fixtures into
another storage layout once per scale factor and read it back on every
subsequent run. This module is the one implementation all five share,
so none keeps its own completeness check: a guard that only tests that
the directory exists is crash-unsafe, because killing the process
mid-write leaves a half-materialized cache that every later run trusts
forever.

Correctness properties:

* ATOMIC PUBLISH — the writer populates a temp sibling and a single
  ``os.rename`` publishes it; a killed write leaves only an orphaned
  ``.tmp`` directory, never a half-cache that passes the guard.
* CONTENT-KEYED — the cache key folds in the source fixture's
  (mtime_ns, size), so a REGENERATED fixture at the same path gets a
  fresh cache instead of being silently served stale copies of the
  old data (which would fail parity spuriously — or worse, pass it
  spuriously).
* RACE-SAFE — concurrent sessions each write their own pid-suffixed
  temp dir; the first rename wins, losers discard their copy
  (POSIX rename onto an existing directory fails, which is exactly
  the arbitration needed).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable


def materialize_once(
    tag: str,
    sf_dir: str,
    source_table: str,
    writer: Callable[[str], None],
) -> str:
    """Return a cache directory for ``tag`` derived from
    ``{sf_dir}/{source_table}.parquet``, invoking ``writer(tmp_path)``
    exactly once per (fixture path, fixture content) to populate it."""
    src = os.path.join(sf_dir, f"{source_table}.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fp = "nosrc"
    key = hashlib.md5(f"{sf_dir}|{fp}".encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_{tag}_{key}")
    if os.path.exists(base):
        return base
    tmp = f"{base}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        writer(tmp)
        try:
            os.rename(tmp, base)  # atomic publish
        except OSError:
            # Only a lost publish race is survivable — and a lost race
            # means the winner's cache is LIVE. Any other OSError here
            # (writer never created tmp → ENOENT, tempdir spanning
            # filesystems → EXDEV) would otherwise hand back a path
            # that does not exist and defer the cache bug to an
            # obscure downstream read failure (ADVICE r8).
            if not os.path.exists(base):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return base

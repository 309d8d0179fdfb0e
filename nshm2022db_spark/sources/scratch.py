"""Scratch-landing helpers for queries that round-trip through a real
file format (ragged CSV, header CSVs, GeoJSON, stream source dirs).

Two concerns the call sites share:

* **Stable keys.** Python's builtin ``hash(str)`` is salted per process
  (PYTHONHASHSEED), so a scratch path keyed on it never survives a run —
  every process re-lands the files. ``scratch_path`` keys on a SHA-1
  digest of the sf dir instead.
* **Atomic completion.** A multi-directory landing (rates + props CSVs)
  is not atomic; checking ``os.path.exists(base)`` can see a half-written
  landing from a crashed or concurrent run. Callers write everything,
  then ``mark_landed(base)``; readers trust the landing only when
  ``is_landed(base)``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

_MARKER = "_LANDED"
# bumped when a landing's on-disk table layout changes, so tables landed
# by older code are rebuilt instead of read (2: commit-log tables only —
# no `_CURRENT`-pointer / `v{N}` dir tables; 3: every table a partition
# map — no single-dir or `dirs`-list merge-on-read manifests; 4: a
# migrated raw layout's `"."` dir carries a recorded schema)
_LAYOUT = 4


def _corpus_fingerprint(sf: str) -> str:
    """(name, mtime_ns, size) of every parquet in the sf dir — the
    cheapest stable identity of the CORPUS CONTENT. Keying scratch
    dirs on it means a corpus regenerated in place lands fresh scratch
    (old markers simply stop matching) instead of serving stale
    landed indexes/tables across processes — the staleness class the
    mtime-keyed centroid memo already guards against in-process."""
    try:
        entries = sorted(
            (n, st.st_mtime_ns, st.st_size)
            for n in os.listdir(sf)
            if n.endswith(".parquet")
            for st in [os.stat(os.path.join(sf, n))]
        )
    except (FileNotFoundError, NotADirectoryError):
        entries = []
    return repr(entries)


def scratch_path(kind: str, sf: str) -> str:
    """Per-(kind, sf-dir, corpus-content, layout) scratch directory path,
    stable across processes while the corpus and layout are unchanged."""
    key = hashlib.sha1(
        f"{sf}|{_corpus_fingerprint(sf)}|layout{_LAYOUT}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"{kind}_{key}")


def is_landed(base: str) -> bool:
    return os.path.exists(os.path.join(base, _MARKER))


def mark_landed(base: str) -> None:
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, _MARKER), "w") as f:
        f.write("ok")

"""ACID table counters read from the table roots only: the manifests
(``_manifests/v{N}.json``, each listing the snapshot's data entries)
and the data files on disk. No Spark, no package internals.

An entry is a directory of parquet part files; counters work on the
part files, the unit a reader opens and a merge rewrites.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq


def _versions(root: str) -> list[int]:
    return sorted(int(f[1:-5]) for f in os.listdir(os.path.join(root, "_manifests"))
                  if f.startswith("v") and f.endswith(".json"))


def _manifest(root: str, v: int) -> dict:
    with open(os.path.join(root, "_manifests", f"v{v}.json")) as fh:
        return json.load(fh)


def _files(entry: str) -> list[str]:
    if os.path.isfile(entry):
        return [entry]
    return sorted(os.path.join(entry, f) for f in os.listdir(entry)
                  if f.endswith(".parquet"))


def live_files(root: str) -> list[str]:
    m = _manifest(root, _versions(root)[-1])
    return [f for e in m["files"] for f in _files(e)]


def head_version(root: str) -> int:
    return _versions(root)[-1]


def commits_since(root: str, base: int) -> dict:
    """Commits after manifest ``base``: bytes of the data files they
    added, and per commit the share of the previous snapshot's data
    files it replaced."""
    added_bytes = 0
    fractions = []
    prev = set(f for e in _manifest(root, base)["files"] for f in _files(e))
    for v in (x for x in _versions(root) if x > base):
        cur = set(f for e in _manifest(root, v)["files"] for f in _files(e))
        added_bytes += sum(os.path.getsize(f) for f in cur - prev)
        if prev:
            fractions.append(len(prev - cur) / len(prev))
        prev = cur
    return {"added_bytes": added_bytes, "rewrite_fractions": fractions}


def live_layout(roots: list[str]) -> dict:
    """Live data files, bytes and rows (from parquet footers) summed over
    the tables at ``roots``."""
    files = [f for r in roots for f in live_files(r)]
    return {"files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}

"""Build-once artifact store for every index and layout the engine builds
once per corpus and then only reads (the reference's index DDL vs its
per-query ``queryNodes``, reference README.md:72-79 vs server.py:87).

An entry ``<repo>/.cache/<family>/<key>/`` holds the ``data/`` its build
wrote plus ``meta.json``.  The key covers the build ``params`` (version
token included) and each source's files by relative name, size and
``mtime_ns``, listed driver-side with ``os.walk`` (paths it cannot see,
such as object stores, add nothing).  A build writes into its own tmp dir
and is published with one ``os.rename``: a racing loser uses the winner's
entry, and an entry without a readable ``meta.json`` is rebuilt, the
damaged one kept as ``<key>.corrupt-<uuid>``.  Clear with ``rm -rf .cache``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time
import uuid
from pathlib import Path
from typing import Callable, Iterable

# os.path, not Path.resolve(): importing this module does no I/O
ROOT = Path(os.path.abspath(__file__)).parents[1] / ".cache"
META, DATA = "meta.json", "data"

#: process-wide counters, reported in the bench sidecar
STATS: dict[str, float] = {"hits": 0, "builds": 0, "build_s": 0.0}
_STATS_LOCK = threading.Lock()


def fingerprint(sources: Iterable[str]) -> list[list[list]]:
    """Per source path: sorted ``[relative name, size, mtime_ns]`` of
    every file under it (a plain file is its own single entry)."""
    out = []
    for src in sources:
        if os.path.isfile(src):
            top, files = os.path.dirname(src), [src]
        else:
            walk = os.walk(src)
            top, files = src, [os.path.join(d, n) for d, _, names in walk for n in names]
        entries = []
        for f in files:
            st = os.stat(f)
            entries.append([os.path.relpath(f, top), st.st_size, st.st_mtime_ns])
        out.append(sorted(entries))
    return out


def _read_meta(entry: Path) -> dict | None:
    """The entry's meta, or None when the entry is absent or corrupt."""
    try:
        return json.loads((entry / META).read_text())
    except (OSError, ValueError):
        return None


def load_or_build(
    family: str, params: dict, sources: Iterable[str], build: Callable[[str], dict]
) -> tuple[str, dict]:
    """``(data path, meta)`` for ``family`` at ``params`` over ``sources``,
    running ``build(out)`` first when no valid entry exists.  ``build``
    writes its files to ``out`` (a path inside this build's own tmp dir,
    not yet created) and returns a JSON-able dict, which comes back as
    read from JSON (keys become strings) on a hit and on a build alike."""
    blob = json.dumps({"params": params, "sources": fingerprint(sources)}, sort_keys=True)
    entry = ROOT / family / hashlib.md5(blob.encode()).hexdigest()[:16]
    data = str(entry / DATA)
    meta = _read_meta(entry)
    if meta is not None:
        with _STATS_LOCK:
            STATS["hits"] += 1
        return data, meta

    tmp = entry.with_name(f"{entry.name}.tmp-{uuid.uuid4().hex}")
    tmp.mkdir(parents=True)
    try:
        t0 = time.perf_counter()
        text = json.dumps(build(str(tmp / DATA)))
        (tmp / META).write_text(text)
        with _STATS_LOCK:
            STATS["builds"] += 1
            STATS["build_s"] += time.perf_counter() - t0
        try:
            os.rename(tmp, entry)
        except OSError:  # entry exists: published by a racing build, or corrupt
            published = _read_meta(entry)
            if published is not None:
                shutil.rmtree(tmp, ignore_errors=True)
                return data, published
            os.rename(entry, entry.with_name(f"{entry.name}.corrupt-{uuid.uuid4().hex}"))
            os.rename(tmp, entry)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return data, json.loads(text)

"""The build-once artifact store (mcp_server_vector_search_spark/artifacts.py)
on a tmp root with trivial builds — no Spark needed."""

from __future__ import annotations

import json
import os
import threading
from pathlib import Path

import pytest

from mcp_server_vector_search_spark import artifacts


@pytest.fixture
def store(tmp_path, monkeypatch):
    monkeypatch.setattr(artifacts, "ROOT", tmp_path / "store")
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.parquet").write_text("rows")
    return str(src)


def _counting_build(calls):
    def build(out):
        calls.append(out)
        Path(out).write_text(f"build {len(calls)}")
        return {"n": len(calls), "by_cell": {1: 0.5}}

    return build


def test_second_call_is_a_hit_without_build(store):
    src = store
    calls = []
    before = dict(artifacts.STATS)
    path1, meta1 = artifacts.load_or_build("fam", {"v": 1}, [src], _counting_build(calls))
    path2, meta2 = artifacts.load_or_build("fam", {"v": 1}, [src], _counting_build(calls))
    assert len(calls) == 1
    assert path1 == path2 and Path(path2).read_text() == "build 1"
    # the build's own return value comes back JSON-normalized, like a hit
    assert meta1 == meta2 == {"n": 1, "by_cell": {"1": 0.5}}
    assert artifacts.STATS["builds"] == before["builds"] + 1
    assert artifacts.STATS["hits"] == before["hits"] + 1
    # different params: a different entry
    path3, _ = artifacts.load_or_build("fam", {"v": 2}, [src], _counting_build(calls))
    assert path3 != path1 and len(calls) == 2


def test_changed_source_at_same_path_rebuilds(store):
    src = store
    calls = []
    path1, _ = artifacts.load_or_build("fam", {"v": 1}, [src], _counting_build(calls))
    f = os.path.join(src, "part-0.parquet")
    with open(f, "w") as fh:
        fh.write("regenerated rows")
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    path2, meta2 = artifacts.load_or_build("fam", {"v": 1}, [src], _counting_build(calls))
    assert len(calls) == 2 and path2 != path1 and meta2["n"] == 2
    # a plain-file source is fingerprinted too
    path3, _ = artifacts.load_or_build("fam", {"v": 1}, [f], _counting_build(calls))
    n = len(calls)
    with open(f, "a") as fh:
        fh.write("+")
    path4, _ = artifacts.load_or_build("fam", {"v": 1}, [f], _counting_build(calls))
    assert len(calls) == n + 1 and path4 != path3


def test_truncated_meta_is_rebuilt(store):
    src = store
    calls = []
    path, _ = artifacts.load_or_build("fam", {"v": 1}, [src], _counting_build(calls))
    entry = Path(path).parent
    meta_file = entry / artifacts.META
    meta_file.write_text(meta_file.read_text()[:5])  # crash mid-write
    path2, meta2 = artifacts.load_or_build("fam", {"v": 1}, [src], _counting_build(calls))
    assert len(calls) == 2 and path2 == path
    assert meta2["n"] == 2 and json.loads(meta_file.read_text()) == meta2
    # the damaged entry is kept aside; no tmp dir is left behind
    names = sorted(p.name for p in entry.parent.iterdir())
    assert len(names) == 2 and names[0] == entry.name
    assert names[1].startswith(f"{entry.name}.corrupt-")
    # a missing meta.json is corrupt in the same way
    meta_file.unlink()
    _, meta3 = artifacts.load_or_build("fam", {"v": 1}, [src], _counting_build(calls))
    assert len(calls) == 3 and meta3["n"] == 3


def test_two_threads_publish_exactly_one_entry(store):
    src = store
    both_building = threading.Barrier(2, timeout=10)
    results = [None, None]

    def build(out):
        both_building.wait()  # both threads are mid-build before either publishes
        Path(out).write_text(threading.current_thread().name)
        return {"thread": threading.current_thread().name}

    def run(i):
        results[i] = artifacts.load_or_build("fam", {"v": 1}, [src], build)

    threads = [threading.Thread(target=run, args=(i,), name=f"b{i}") for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    (path_a, meta_a), (path_b, meta_b) = results
    assert path_a == path_b and meta_a == meta_b
    entry = Path(path_a).parent
    assert list(entry.parent.iterdir()) == [entry]  # the loser's tmp dir is gone
    assert json.loads((entry / artifacts.META).read_text()) == meta_a
    assert Path(path_a).read_text() == meta_a["thread"]


def test_failed_build_leaves_nothing(store):
    src = store

    def build(out):
        Path(out).write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifacts.load_or_build("fam", {"v": 1}, [src], build)
    assert list((artifacts.ROOT / "fam").iterdir()) == []

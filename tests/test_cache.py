"""Failure modes of the fixture-keyed cache (``bearly_spark.cache``).

Plain-file builders only: no Spark session is needed. Every test points
the scratch root at its own tmp dir.
"""

import json
import os
import signal
import subprocess
import sys
import textwrap
import time
from pathlib import Path

import pytest

from bearly_spark import cache

REPO = str(Path(__file__).resolve().parent.parent)


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    root = tmp_path / "scratch"
    monkeypatch.setattr(cache, "SCRATCH", str(root))
    return root


@pytest.fixture
def src(tmp_path):
    sf = tmp_path / "sfT"
    sf.mkdir()
    f = sf / "documents.parquet"
    f.write_bytes(b"fixture")
    return f


def _touch(path: Path) -> None:
    now = time.time() + 5
    os.utime(path, (now, now))


def _counting_builder(builds: list):
    def build(out):
        os.makedirs(out)
        (Path(out) / "part-0").write_text("payload")
        builds.append(out)
        return {"n": len(builds)}

    return build


def _temps(root: Path) -> list[str]:
    return [d for d in os.listdir(root) if ".tmp" in d]


# -------------------------------------------------------------------
# derived_dir
# -------------------------------------------------------------------


def test_derived_dir_two_calls_one_build(scratch, src):
    builds = []
    build = _counting_builder(builds)
    p1, m1 = cache.derived_dir(str(src.parent), "t", [str(src)], build)
    marker = scratch / "t-sfT" / "_BUILT"
    stamp = marker.stat().st_mtime_ns
    p2, m2 = cache.derived_dir(str(src.parent), "t", [str(src)], build)
    assert p1 == p2 == str(scratch / "t-sfT" / "index")
    assert len(builds) == 1 and m1 == m2 == {"n": 1}
    assert (Path(p1) / "part-0").read_text() == "payload"
    assert marker.stat().st_mtime_ns == stamp  # a hit never touches the marker
    assert sorted(os.listdir(scratch)) == ["t-sfT"]


def test_derived_dir_touched_source_rebuilds(scratch, src):
    builds = []
    build = _counting_builder(builds)
    cache.derived_dir(str(src.parent), "t", [str(src)], build)
    _touch(src)
    _, meta = cache.derived_dir(str(src.parent), "t", [str(src)], build)
    assert len(builds) == 2 and meta == {"n": 2}
    # a directory source is walked file by file
    d = src.parent / "table.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a")
    cache.derived_dir(str(src.parent), "t", [str(d)], build)
    cache.derived_dir(str(src.parent), "t", [str(d)], build)
    assert len(builds) == 3
    (d / "part-1.parquet").write_bytes(b"b")
    cache.derived_dir(str(src.parent), "t", [str(d)], build)
    assert len(builds) == 4


def test_derived_dir_code_digest_change_misses(scratch, src, monkeypatch):
    builds = []
    build = _counting_builder(builds)
    cache.derived_dir(str(src.parent), "t", [str(src)], build)
    cache.derived_dir(str(src.parent), "t", [str(src)], build)
    assert len(builds) == 1
    monkeypatch.setattr(cache, "_code_digest", lambda b: "edited-builder")
    cache.derived_dir(str(src.parent), "t", [str(src)], build)
    assert len(builds) == 2
    marker = json.loads((scratch / "t-sfT" / "_BUILT").read_text())
    assert marker["code"] == "edited-builder"


def test_code_digest_covers_the_builders_file():
    def here(out):
        return None

    assert cache._code_digest(here) == cache._code_digest(_counting_builder([]))
    assert cache._code_digest(here) != cache._code_digest(json.dumps)


def test_derived_dir_failed_build_serves_nothing(scratch, src):
    def broken(out):
        os.makedirs(out)
        (Path(out) / "part-0").write_text("half")
        raise RuntimeError("builder died midway")

    with pytest.raises(RuntimeError):
        cache.derived_dir(str(src.parent), "t", [str(src)], broken)
    assert os.listdir(scratch) == []  # no entry, no temp dir

    builds = []
    good = _counting_builder(builds)
    cache.derived_dir(str(src.parent), "t", [str(src)], good)
    _touch(src)
    with pytest.raises(RuntimeError):
        cache.derived_dir(str(src.parent), "t", [str(src)], broken)
    # the stale entry survives the failed rebuild but is never served
    path, _ = cache.derived_dir(str(src.parent), "t", [str(src)], good)
    assert len(builds) == 2 and (Path(path) / "part-0").read_text() == "payload"
    assert _temps(scratch) == []


_CHILD = textwrap.dedent(
    """
    import json, os, sys, time
    sys.path.insert(0, {repo!r})
    from bearly_spark import cache

    cache.SCRATCH, src, mode, rendezvous = sys.argv[1:5]

    def build(out):
        os.makedirs(out)
        for i in range(8):
            with open(os.path.join(out, f"part-{{i}}"), "w") as f:
                f.write(f"{{os.getpid()}}:{{i}}")
            if i == 3:
                open(os.path.join(rendezvous, str(os.getpid())), "w").close()
                if mode == "hang":
                    time.sleep(600)
                deadline = time.time() + 60  # until both builders are midway
                while len(os.listdir(rendezvous)) < 2 and time.time() < deadline:
                    time.sleep(0.05)
        return {{"parts": 8}}

    path, meta = cache.derived_dir(os.path.dirname(src), "race", [src], build)
    cells = [open(os.path.join(path, p)).read().split(":") for p in os.listdir(path)]
    # intact = all 8 parts, all written by ONE builder
    intact = sorted(int(i) for _, i in cells) == list(range(8)) and (
        len({{pid for pid, _ in cells}}) == 1
    )
    print(json.dumps({{"path": path, "meta": meta, "n": len(cells), "intact": intact}}))
    """
)


def _child(tmp_path: Path, scratch: Path, src: Path, mode: str) -> subprocess.Popen:
    script = tmp_path / "child.py"
    script.write_text(_CHILD.format(repo=REPO))
    rendezvous = tmp_path / "rendezvous"
    rendezvous.mkdir(exist_ok=True)
    return subprocess.Popen(
        [sys.executable, str(script), str(scratch), str(src), mode, str(rendezvous)],
        stdout=subprocess.PIPE, text=True,
    )


def test_derived_dir_killed_builder_is_never_served(tmp_path, scratch, src):
    child = _child(tmp_path, scratch, src, "hang")
    deadline = time.time() + 60
    while not os.listdir(tmp_path / "rendezvous") and time.time() < deadline:
        time.sleep(0.05)
    child.send_signal(signal.SIGKILL)
    child.wait()
    (left,) = _temps(scratch)  # the killed builder's half-written temp dir
    assert not (scratch / left / "_BUILT").exists()
    # temp dirs never look like published entries
    assert list(scratch.glob("*-sfT")) == []

    builds = []
    path, meta = cache.derived_dir(str(src.parent), "race", [str(src)],
                                   _counting_builder(builds))
    assert len(builds) == 1 and meta == {"n": 1}
    assert path == str(scratch / "race-sfT" / "index")
    assert _temps(scratch) == []  # the dead builder's leftover is swept


def test_derived_dir_concurrent_builders_publish_one_entry(tmp_path, scratch, src):
    children = [_child(tmp_path, scratch, src, "race") for _ in range(2)]
    outs = [json.loads(c.communicate(timeout=120)[0]) for c in children]
    assert all(c.returncode == 0 for c in children)
    assert outs[0] == outs[1]
    assert outs[0] == {
        "path": str(scratch / "race-sfT" / "index"),
        "meta": {"parts": 8},
        "n": 8,
        "intact": True,
    }
    assert len(os.listdir(tmp_path / "rendezvous")) == 2  # both really built
    assert os.listdir(scratch) == ["race-sfT"]


# -------------------------------------------------------------------
# memo
# -------------------------------------------------------------------


def test_memo_two_calls_one_build(src):
    calls = []
    build = lambda: calls.append(1) or ["value"]  # noqa: E731
    assert cache.memo([str(src)], ("t-one", 1), build) == ["value"]
    assert cache.memo([str(src)], ("t-one", 1), build) == ["value"]
    assert len(calls) == 1
    cache.memo([str(src)], ("t-one", 2), build)  # other params: other entry
    assert len(calls) == 2


def test_memo_touched_source_replaces_generation(src):
    calls = []
    build = lambda: calls.append(1) or len(calls)  # noqa: E731
    assert cache.memo([str(src)], "t-gen", build) == 1
    _touch(src)
    assert cache.memo([str(src)], "t-gen", build) == 2
    assert cache.memo([str(src)], "t-gen", build) == 2
    assert sum(1 for k in cache._MEMO if k[0] == "t-gen") == 1


def test_memo_stores_neither_none_nor_unstatable(src, tmp_path):
    before = dict(cache._MEMO)
    calls = []
    assert cache.memo([str(src)], "t-none", lambda: calls.append(1)) is None
    assert cache.memo([str(src)], "t-none", lambda: calls.append(1)) is None
    missing = str(tmp_path / "missing.parquet")
    assert cache.memo([missing], "t-missing", lambda: calls.append(1) or 7) == 7
    assert cache.memo([missing], "t-missing", lambda: calls.append(1) or 7) == 7
    assert len(calls) == 4 and dict(cache._MEMO) == before


def test_memo_one_size_bound(src, monkeypatch):
    monkeypatch.setattr(cache, "_MEMO_MAX", 2)
    monkeypatch.setattr(cache, "_MEMO", type(cache._MEMO)())
    for i in range(3):
        cache.memo([str(src)], ("t-bound", i), lambda: i)
    assert [k[0] for k in cache._MEMO] == [("t-bound", 1), ("t-bound", 2)]

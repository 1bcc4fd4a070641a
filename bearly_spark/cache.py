"""One fixture-keyed cache for derived results.

A reused result is sound only while its key covers everything it
depends on, so both entry points key on a stat signature of the fixture
files the result derives from (``[path, mtime_ns, size]`` per file; a
directory source is walked file by file):

- :func:`memo` holds a small driver-side value in process, keyed on
  ``params`` plus the signature (fitted centroids, percentile cutpoints,
  merge tables, frozen index models).
- :func:`derived_dir` holds a directory under the repo's ``.scratch/``
  (indexes, edge lists, commit-log fixtures), keyed on the signature
  plus a digest of the code that builds it. It builds into a private
  temp dir, writes its JSON marker last and publishes with one
  ``os.rename``, so a crash or a concurrent builder never exposes a
  half-written entry.
"""

from __future__ import annotations

import errno
import hashlib
import inspect
import json
import os
import shutil
import tempfile
from collections import OrderedDict
from functools import lru_cache
from pathlib import Path

_PACKAGE = Path(__file__).resolve().parent

#: Repo-local scratch root (gitignored), next to the package.
SCRATCH = str(_PACKAGE.parent / ".scratch")

#: Size bound of the whole memo store; least recently used goes first.
_MEMO_MAX = 128
_MEMO: OrderedDict = OrderedDict()

_MARKER = "_BUILT"


def sf_tag(sf_dir: str) -> str:
    """The fixture directory's basename: the suffix of its scratch entries."""
    return os.path.basename(sf_dir.rstrip("/")) or "sf"


def _signature(sources) -> list[list]:
    """``[path, mtime_ns, size]`` for every file under ``sources``.
    Raises OSError when a source is missing."""
    sig = []
    for src in map(os.path.abspath, sources):
        files = (
            sorted(os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
            if os.path.isdir(src)
            else [src]
        )
        for f in files:
            st = os.stat(f)
            sig.append([f, st.st_mtime_ns, st.st_size])
    return sig


def memo(sources, params, build):
    """``build()``, served from the in-process store while ``sources``
    keep their signature. ``params`` (hashable) names everything else
    the value depends on. Nothing is stored when a source cannot be
    stat'ed or when ``build`` returns None: width guards return None to
    keep a wide result distributed and uncached."""
    sources = tuple(map(os.path.abspath, sources))
    try:
        sig = _signature(sources)
    except OSError:
        return build()
    key = (params, sources)
    hit = _MEMO.pop(key, None)
    if hit is not None and hit[0] == sig:
        _MEMO[key] = hit
        return hit[1]
    value = build()
    if value is not None:
        _MEMO[key] = (sig, value)
        while len(_MEMO) > _MEMO_MAX:
            _MEMO.popitem(last=False)
    return value


@lru_cache(maxsize=None)
def _digest(path: str) -> str:
    """sha256 of a file, or of every ``*.py`` file under a directory;
    each path is read once per process."""
    p = Path(path)
    if not p.is_dir():
        return hashlib.sha256(p.read_bytes()).hexdigest()
    h = hashlib.sha256()
    for f in sorted(p.rglob("*.py")):
        h.update(f"{f.relative_to(p)}:{_digest(str(f))}\n".encode())
    return h.hexdigest()


def _code_digest(build) -> str:
    """Digest of the ``bearly_spark`` sources plus the file defining ``build``."""
    defining = inspect.getsourcefile(build)
    own = _digest(os.path.abspath(defining)) if defining and os.path.isfile(defining) else ""
    return hashlib.sha256(f"{_digest(str(_PACKAGE))}:{own}".encode()).hexdigest()


def _fresh(entry: str, want: dict) -> dict | None:
    """The entry's marker when it records exactly ``want``, else None."""
    try:
        with open(os.path.join(entry, _MARKER)) as f:
            got = json.load(f)
    except (OSError, ValueError):
        return None
    return got if all(got.get(k) == v for k, v in want.items()) else None


def _sweep(entry: str) -> None:
    """Remove temp dirs that killed builders of ``entry`` left behind
    (named ``<entry>.tmp<pid>.<random>``)."""
    prefix = f"{os.path.basename(entry)}.tmp"
    for d in os.listdir(SCRATCH):
        pid = d[len(prefix):].split(".")[0] if d.startswith(prefix) else ""
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)  # signal 0 only checks that the pid exists
        except ProcessLookupError:
            shutil.rmtree(os.path.join(SCRATCH, d), ignore_errors=True)
        except OSError:
            pass


def _publish(tmp: str, entry: str, want: dict) -> None:
    """Rename ``tmp`` to ``entry``. An entry another builder already
    published for ``want`` wins; a stale one is moved aside first."""
    while True:
        try:
            os.rename(tmp, entry)
            return
        except OSError as e:
            if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
        if _fresh(entry, want) is not None:
            return
        try:
            os.rename(entry, f"{tmp}.old")
        except FileNotFoundError:
            continue
        shutil.rmtree(f"{tmp}.old", ignore_errors=True)


def derived_dir(sf_dir: str, name: str, sources, build):
    """``(path, meta)`` of the entry ``.scratch/<name>-<sf tag>/``: ``path``
    is its ``index/`` payload, ``meta`` the JSON value ``build(path)``
    returned when it wrote the payload. The marker ``_BUILT`` records
    the source signature, the code digest and ``meta``; a hit never
    touches it. Temp dirs end in a random suffix, never in ``-<sf tag>``."""
    entry = os.path.join(SCRATCH, f"{name}-{sf_tag(sf_dir)}")
    want = {"sources": _signature(sources), "code": _code_digest(build)}
    got = _fresh(entry, want)
    if got is None:
        os.makedirs(SCRATCH, exist_ok=True)
        _sweep(entry)
        tmp = tempfile.mkdtemp(
            prefix=f"{os.path.basename(entry)}.tmp{os.getpid()}.", dir=SCRATCH
        )
        try:
            meta = build(os.path.join(tmp, "index"))
            with open(os.path.join(tmp, _MARKER), "w") as f:
                json.dump({**want, "meta": meta}, f)
            _publish(tmp, entry, want)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        got = _fresh(entry, want)  # ours, or an identical concurrent build's
    return os.path.join(entry, "index"), got["meta"]

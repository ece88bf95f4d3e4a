"""The one build-once protocol for persisted per-sf_dir artifacts.

Every persisted artifact (the near-dup pair table, the learned BPE
merge table, the re-laid-out stream sources, the bucketed twins, ...)
is published by :func:`build_once`, so the cache key, the success
marker and the promote step cannot drift apart between artifacts.
The key folds in:

* the absolute sf_dir path and the nanosecond mtimes of the tables the
  artifact reads (``inputs``) — regenerating one of them invalidates
  the artifact, and regenerating a table it does not read does not;
* ``key`` — the governing ALGORITHM constants (thresholds, df caps,
  merge counts, pretokenizer pattern).  Without them, editing a
  constant would silently reuse a stale artifact computed under the
  old semantics (the mtime alone cannot see code changes) — a
  confusing oracle-mismatch trap that vanishes after an unrelated
  ``rm -rf .cache``;
* :data:`ARTIFACT_SCHEME_VERSION`.

The cache root is ``SPARK_GRAFT_CACHE_DIR``, else ``.cache/`` at the
repository root.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable, Iterable

# Bump on ANY change to producing-pipeline logic that is not visible in
# a keyed constant (new shingling rule, changed pair ordering, ...).
# Folded into every cache key so stale artifacts cannot survive a code
# change that leaves the constants untouched.
ARTIFACT_SCHEME_VERSION = "v3"

_SUCCESS = "_SUCCESS"


def artifact_path(
    sf_dir: str, name: str, inputs: Iterable[str], key: str
) -> str:
    """Cache path of artifact ``name`` built from the sf_dir tables
    ``inputs`` under the algorithm constants ``key``."""
    parts = [ARTIFACT_SCHEME_VERSION, os.path.abspath(sf_dir)]
    for table in inputs:
        try:
            mtime = os.stat(os.path.join(sf_dir, f"{table}.parquet")).st_mtime_ns
        except OSError:
            mtime = 0
        parts.append(f"{table}={mtime}")
    parts.append(key)
    digest = hashlib.md5(":".join(parts).encode()).hexdigest()[:16]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = os.environ.get("SPARK_GRAFT_CACHE_DIR") or os.path.join(
        repo_root, ".cache"
    )
    return os.path.join(base, name, digest)


def build_once(
    sf_dir: str,
    name: str,
    inputs: Iterable[str],
    key: str,
    write: Callable[[str], None],
) -> str:
    """Return the directory of artifact ``name``, building it first if
    no complete copy exists.

    ``path/_SUCCESS`` marks a complete copy.  On a miss ``write(tmp)``
    fills a temp dir private to this process, which is marked complete
    and promoted to ``path`` by one rename, so a reader never sees a
    half-written artifact.  A failed ``write`` leaves no ``path`` (the
    next call rebuilds).  A failed rename is benign only when a
    concurrent writer has promoted its identical copy first; any other
    rename failure (cross-device cache mount, permissions) is raised
    here rather than as a read error far from the cause.
    """
    path = artifact_path(sf_dir, name, inputs, key)
    if os.path.exists(os.path.join(path, _SUCCESS)):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    # a leftover of this pid is a dead process's (pids are reused)
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write(tmp)
        open(os.path.join(tmp, _SUCCESS), "a").close()
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.replace(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, _SUCCESS)):
            raise
    return path

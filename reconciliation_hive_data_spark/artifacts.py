"""Durable derived artifacts (bucketed tables, ORC copies, dedup indexes).

Several queries follow the ingest-once pattern: pay a shuffle/encode cost
once per source dataset, persist the result next to the warehouse, and let
every later run re-attach. This module owns the three hazards that pattern
carries:

- **Path collisions** — artifact locations are keyed by a hash of the
  *absolute* source directory, so two sf_dirs that share a basename
  (``/a/sf0.01`` vs ``/b/sf0.01``) can never claim each other's artifacts.
- **Staleness** — freshness is an equality compare of a stat-based content
  fingerprint (relative name, size, mtime_ns of every file in the source),
  not an mtime ``>=``: a source restored from archive with an *older*
  mtime still invalidates, because any difference mismatches. On a real
  cluster object store the same role is played by snapshot/commit ids of a
  transactional table format. The fingerprint also folds in the *transform
  version* — the source text of the ``build`` callable plus any ``code=``
  dependencies the caller names — so editing the build logic (or a helper
  it delegates to, e.g. a fault-injection function) rebuilds the artifact
  even though the input data is unchanged. Without this, runs would
  silently reconcile fresh sources against an artifact built by stale
  code.
- **Write atomicity / races** — builders write into a temp dir and publish
  with a single ``os.rename``; an exclusive ``flock`` serializes
  concurrent builders (parallel pytest workers, overlapping sessions) on
  this host. Multi-host deployments would swap the flock for catalog-level
  commit semantics (Iceberg/Delta optimistic commit), which is why the
  locking is isolated here rather than inlined at call sites.
- **Orphans** — an artifact outlives its source when the source directory
  is deleted (a test corpus under a temp dir, a dropped dataset); nothing
  can re-attach to it, so :func:`prune_orphans` removes it.
"""

from __future__ import annotations

import atexit
import fcntl
import functools
import glob
import hashlib
import inspect
import json
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable

from pyspark.sql import SparkSession


def _file_stats(path: str) -> list[tuple[str, int, int]]:
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
        return sorted(out)
    st = os.stat(path)
    return [(os.path.basename(path), st.st_size, st.st_mtime_ns)]


def source_fingerprint(paths: Iterable[str]) -> str:
    """Stat-based fingerprint of the given source files/datasets."""
    stats = [(p, _file_stats(p)) for p in sorted(paths)]
    return hashlib.md5(json.dumps(stats, sort_keys=True).encode()).hexdigest()


def _code_token(obj: Callable | str) -> str:
    """Version token for a transform dependency: its source text when
    retrievable, else a stable name (builtins, C extensions, REPL)."""
    if isinstance(obj, str):
        return obj
    try:
        return inspect.getsource(obj)
    except (OSError, TypeError):
        return getattr(obj, "__qualname__", repr(obj))


def warehouse_root(spark: SparkSession) -> str:
    return spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")


def _dir_key(sf_dir: str) -> str:
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


def artifact_location(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Stable artifact path keyed by the absolute source dir, never its
    basename."""
    return os.path.join(warehouse_root(spark), f"rhds_{kind}_{_dir_key(sf_dir)}")


@functools.cache
def process_tmp_root(prefix: str) -> str:
    """One temp directory per process and ``prefix``, removed at exit."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def sink_dir(sf_dir: str, name: str) -> str:
    """Scratch path for a query's write-then-read-back sink (the opposite
    of an artifact: rewritten on every call, never reused). It lives in
    one per-process temp directory that is removed at exit, keyed by the
    absolute source dir, so neither two processes nor two sf_dirs that
    share a basename write the same path."""
    return os.path.join(process_tmp_root("rhds_sinks_"), _dir_key(sf_dir), name)


def ensure_artifact(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    sources: Iterable[str],
    build: Callable[[str], None],
    code: Iterable[Callable | str] = (),
) -> tuple[str, bool]:
    """Return ``(location, rebuilt)`` for artifact ``kind`` of ``sf_dir``.

    ``sources`` are paths under ``sf_dir`` the artifact derives from;
    ``build(tmp_dir)`` must materialize the artifact into ``tmp_dir``.
    The build runs only when the recorded fingerprint differs — the
    fingerprint covers both the source data (stat-based) and the transform
    version (``build``'s own source text plus every ``code`` dependency:
    helper callables the build delegates to, or literal version strings).
    Publication is rename-atomic under an exclusive flock.
    """
    loc = artifact_location(spark, sf_dir, kind)
    src_fp = source_fingerprint(
        os.path.join(sf_dir, s) if not os.path.isabs(s) else s for s in sources
    )
    tokens = [_code_token(build)] + [_code_token(c) for c in code]
    fp = hashlib.md5(
        json.dumps([src_fp, tokens], sort_keys=True).encode()
    ).hexdigest()
    meta = loc + ".meta.json"
    os.makedirs(os.path.dirname(loc), exist_ok=True)
    with open(loc + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            if os.path.isdir(loc) and os.path.exists(meta):
                try:
                    with open(meta) as fh:
                        if json.load(fh).get("fingerprint") == fp:
                            return loc, False
                except (OSError, json.JSONDecodeError):
                    pass
            tmp = f"{loc}.tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            build(tmp)
            shutil.rmtree(loc, ignore_errors=True)
            os.rename(tmp, loc)
            with open(meta + ".tmp", "w") as fh:
                json.dump({"fingerprint": fp, "sf_dir": os.path.abspath(sf_dir)}, fh)
            os.replace(meta + ".tmp", meta)
            return loc, True
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def prune_orphans(root: str) -> list[str]:
    """Remove every ``rhds_*`` artifact under warehouse ``root`` whose
    recorded ``sf_dir`` no longer exists: its directory, ``.meta.json`` and
    ``.lock``. Each is removed under its exclusive flock, as
    :func:`ensure_artifact` publishes it. Artifacts without a readable
    ``.meta.json`` are left alone. Returns the removed locations."""
    removed = []
    for meta in sorted(glob.glob(os.path.join(root, "rhds_*.meta.json"))):
        loc = meta.removesuffix(".meta.json")
        with open(loc + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                try:
                    with open(meta) as fh:
                        sf_dir = json.load(fh).get("sf_dir")
                except (OSError, json.JSONDecodeError):
                    continue
                if not sf_dir or os.path.exists(sf_dir):
                    continue
                shutil.rmtree(loc, ignore_errors=True)
                os.remove(meta)
                os.remove(loc + ".lock")
                removed.append(loc)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
    return removed

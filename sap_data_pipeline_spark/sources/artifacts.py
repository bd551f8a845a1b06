"""Durable corpus-artifact store: content-addressed parquet
materializations of expensive corpus indexes.

A production curation pipeline does not re-sketch 100 TB per query: the
near-dup pair graph and its component labeling are **pipeline
artifacts** — built once per (corpus content, sketch params), stored
beside the warehouse, and served by every downstream audit/curation
query (the same economics as the versioned table's manifest: storage is
the cache, sessions are stateless).  The store makes the first call of
a **cold** session a parquet read instead of a full sketch +
connected-components build (r8 verdict #2: the 13.5 s standalone
``semantic_dedup_clusters`` cost becomes a scan).

Every reader goes through :func:`serve`, the one serving path:

* a process ``memo`` sits in front of the store, keyed by the
  artifact's store path (root/family/fingerprint) and, for DataFrame
  frames, the Spark application — so pointing
  ``SPARK_GRAFT_ARTIFACT_DIR`` at another root is a fresh key, never a
  scan of the old root's files; clearing ``memo`` simulates a cold
  session;
* behind it, frames go through :func:`load_or_build` (parquet) and
  plain-data models through :func:`load_or_build_json`;
* when :func:`corpus_fingerprint` is None (no local source files, e.g.
  in-memory frames or a ``file:``/``hdfs:`` URI) ``serve`` returns
  ``build()`` as is: no memo, no persistence.

``plans.catalog_ext._near_dup_index_cache`` is an alias of ``memo``
kept only because the benchmark's ``perfbench/workloads.py`` clears it
by that name between its cold and warm ``near_dup_clusters`` ops.

Layout and commit protocol::

    {root}/{family}/{fingerprint}/{name}/   one parquet dir per frame

``fingerprint`` is an md5 over the source table's file listing
(relative name, size, mtime_ns — cheap, no data scan), the build
params, and a format version, so ANY corpus or param change addresses a
fresh directory and stale indexes simply age out (prunable by mtime).
The build writes every frame under ``{root}/{family}/{fp}.__tmp__*``
and commits with ONE atomic directory rename — the final path's
existence is the completeness marker, concurrent builders race safely
(loser discards its tmp and reads the winner's commit), and a crash
mid-build leaves only an ignorable tmp.

``SPARK_GRAFT_ARTIFACT_DIR`` overrides the root (tests point it at a
tmp dir); the default is **per-user** — ``$XDG_CACHE_HOME`` (or
``~/.cache``) ``/spark_graft_artifacts``, created mode 0700.  Artifacts
directly determine query results (trained codebooks, pair graphs), so
the store must not live in a world-writable location where another
local user could pre-create poisoned content at predictable
fingerprint paths; ``_checked_root`` additionally refuses to serve
from a root owned by a different uid.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: The process memo in front of the store (see the module docstring).
memo: dict[tuple, object] = {}

#: Builder-code version, hashed into every fingerprint.  Bump whenever a
#: build algorithm changes behavior (connected-components tie-breaking,
#: KMeans init, BPE merge order, ...) so old-code artifacts age out
#: instead of being silently served under the new code's key.  Callers'
#: ``version=`` params remain family-local format markers on top.
ARTIFACT_VERSION = "2"


def artifact_root() -> str:
    env = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    if env:
        return env
    cache_home = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(cache_home, "spark_graft_artifacts")


def _checked_root() -> str:
    """The artifact root, created 0700 if absent and ownership-verified:
    serving a model/index parquet written by another uid would let that
    user alter this user's query results, so a foreign-owned root is a
    hard error, not a fallback."""
    root = artifact_root()
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"artifact root {root!r} is owned by uid {st.st_uid}, not the "
            f"current user (uid {os.getuid()}); refusing to serve artifacts "
            "from it — set SPARK_GRAFT_ARTIFACT_DIR to a directory you own"
        )
    return root


def corpus_fingerprint(sf_dir: str, table: str, *, params: str,
                       version: str = "v1") -> str | None:
    """Content key for ``{sf_dir}/{table}.parquet`` + build params.

    (name, size, mtime_ns) per file — metadata only, never a data scan;
    immutable testdata and any sanely-written warehouse table change
    mtime on rewrite.  Returns None when the source path doesn't exist
    (synthetic in-memory stars): callers fall back to in-process-only
    builds.
    """
    path = os.path.join(sf_dir or "", f"{table}.parquet")
    entries: list[tuple[str, int, int]] = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    elif os.path.isdir(path):
        for base, _, names in os.walk(path):
            for n in names:
                if n.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(base, n))
                rel = os.path.relpath(os.path.join(base, n), path)
                entries.append((rel, st.st_size, st.st_mtime_ns))
    else:
        return None
    entries.sort()
    h = hashlib.md5(
        f"{ARTIFACT_VERSION}|{version}|{params}|{entries!r}".encode()
    )
    return h.hexdigest()[:20]


def load_or_build(
    spark: SparkSession,
    family: str,
    fingerprint: str,
    build: Callable[[], dict[str, DataFrame]],
) -> dict[str, DataFrame]:
    """Serve the ``family``/``fingerprint`` frames from storage, building
    and committing them first if absent.  Returned DataFrames are plain
    parquet scans — session-independent, no lineage, no pinned executor
    storage."""
    final = os.path.join(_checked_root(), family, fingerprint)
    if not os.path.isdir(final):
        frames = build()
        tmp = f"{final}.__tmp__{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp, exist_ok=True)
        try:
            for name, df in frames.items():
                df.write.mode("overwrite").parquet(os.path.join(tmp, name))
            try:
                os.rename(tmp, final)  # the atomic commit
            except OSError:
                if not os.path.isdir(final):  # real failure, not a race
                    raise
        finally:
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
    try:  # LRU touch: prune() keeps recently-served artifacts
        os.utime(final)
    except OSError:
        pass  # racing maintenance; worst case the artifact ages a beat early
    return {
        name: spark.read.parquet(os.path.join(final, name))
        for name in sorted(os.listdir(final))
        if os.path.isdir(os.path.join(final, name))
    }


def load_or_build_json(family: str, fingerprint: str,
                       build: Callable[[], object]) -> object:
    """Small plain-data artifacts (trained codebooks, centroid sets,
    PCA bases — kilobytes of nested lists): same content-addressed
    layout as the parquet frames, committed as one JSON file via
    atomic replace.  Training quantizers is exactly as much a corpus
    artifact as the pair graph — a cold session should load the
    codebook, not re-run KMeans."""
    final = os.path.join(_checked_root(), family, fingerprint + ".json")
    if not os.path.isfile(final):
        obj = build()
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = f"{final}.__tmp__{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, final)  # atomic; racing writers produce equal bytes
    try:  # LRU touch for prune()
        os.utime(final)
    except OSError:
        pass  # racing maintenance; worst case the artifact ages a beat early
    with open(final) as fh:
        return json.load(fh)


def serve(spark: SparkSession, family: str, build: Callable[[], object], *,
          sf_dir: str | None, table: str, params: str,
          json: bool = False) -> object:
    """Serve the ``family`` artifact of ``{sf_dir}/{table}`` under
    ``params``: from the process memo, else from the store, else built
    and committed.  ``build`` returns ``{name: DataFrame}`` for parquet
    frames, or plain JSON-able data when ``json`` is set."""
    fp = corpus_fingerprint(sf_dir or "", table, params=params)
    if fp is None:
        return build()
    path = os.path.join(artifact_root(), family, fp)
    if json:
        key: tuple = (path,)
    else:
        try:
            key = (path, spark.sparkContext.applicationId)
        except AttributeError:  # Spark Connect has no sparkContext
            key = (path, id(spark))
    if key not in memo:
        # module-global lookups at call time: instrumentation patches them
        memo[key] = (load_or_build_json(family, fp, build) if json
                     else load_or_build(spark, family, fp, build))
    return memo[key]


def prune(*, keep_seconds: float, now: float | None = None) -> list[str]:
    """Age out artifacts not served within ``keep_seconds`` (their
    fingerprint dir's mtime — touched on every ``load_or_build`` hit —
    is the LRU clock).  Stale fingerprints are unreachable garbage by
    construction (a corpus/param change addresses a new directory), so
    pruning can never break a reader that would still hit them; a
    pruned artifact that turns out live again is just rebuilt.
    Crashed builders' ``__tmp__`` leftovers age out the same way (a
    LIVE builder's tmp is younger than any sane cutoff).  Returns
    removed paths.

    Concurrency: per-entry stat/remove is wrapped so racing pruners (or
    a builder committing/removing mid-sweep) skip the entry instead of
    raising.  The LRU clock is touched at *load* time, not per query —
    a long-lived session holds parquet scans whose backing files a
    pruner in another process could delete — so callers must keep
    ``keep_seconds`` well above any plausible session lifetime (the
    round-hygiene default is 7 days; sessions live minutes)."""
    import time as _time

    root = artifact_root()
    if not os.path.isdir(root):
        return []
    cutoff = (now if now is not None else _time.time()) - keep_seconds
    removed: list[str] = []
    for family in os.listdir(root):
        fam_dir = os.path.join(root, family)
        if not os.path.isdir(fam_dir):
            continue
        for fp in os.listdir(fam_dir):
            path = os.path.join(fam_dir, fp)
            try:
                if os.stat(path).st_mtime >= cutoff:
                    continue
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:  # JSON model artifacts (and their tmp leftovers)
                    os.remove(path)
            except OSError:
                continue  # concurrent pruner/builder won the race; skip
            removed.append(path)
    return removed

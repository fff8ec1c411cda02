"""Session-scoped temp storage: build-once artifacts and bounded
tempdir pools.

``session_artifact`` is the ONE build-once-per-corpus cache of the
package.  A query that derives something expensive from a corpus (a
pair graph, a signature table, a feed fixture, a trained quantizer)
asks for it by name; the first call builds it, every later call in
the process reuses it.  The contract:

- **Key**: ``(name, sf_dir, params)``.  ``params`` carries whatever
  else the artifact depends on (bucket count, probe size); an
  artifact tied to session state (catalog tables) puts the
  ``applicationId`` in it, so a restarted session rebuilds.
- **Fingerprint**: ``(entry, mtime_ns, size)`` of every top-level
  ``*.parquet`` entry of ``sf_dir``.  A corpus regenerated under the
  same path changes it, and the next call rebuilds instead of
  serving a stale snapshot.
- **Lock**: lookup and publication take ``CACHE_LOCK``; ``build``
  runs OUTSIDE it, because it launches Spark jobs.  Concurrent first
  calls may both build; the first to publish wins and the loser's
  directory is removed at once, so both callers get the same value.
- **Eviction**: publishing a new fingerprint for a key evicts the old
  entry and removes its directory.
- **Lifetime**: each artifact owns one ``TemporaryDirectory`` (under
  ``tempfile``'s default location, i.e. ``TMPDIR``) that lives as
  long as the process; its finalizer removes it at exit.
- **Values**: a path, a schema, a model or a count, never a
  DataFrame (``TypeError``): a DataFrame is bound to the session that
  made it, and would outlive that session in the cache.  Callers read
  a stored path back per call, passing the stored schema when a warm
  hit must not run a schema-inference job.

At 100 TB an artifact is a table a pipeline persists next to the
corpus; this function is the one place where that switch is made.

``TempDirPool`` serves the other pattern: per-run dirs whose
lifetime outlives the writing function but not many later runs.  The
package has ONE pool (``_POOL``; callers ask ``new_dir(purpose,
prefix)``), and its contract is a rolling window: **a dir lives until
``keep`` newer dirs of its purpose exist**, then it is deleted; what
survives is removed atexit.  By the time a dir rotates out its
consumer is done — an iterative loop has moved past the round that
read it, and a query result has been collected before its query has
written ``keep`` more dirs — so the DataFrames handed out over pool
dirs stay lazy scans, never eager checkpoints.

``reroot(df, purpose)`` is the one write-then-read-back of the
package: it writes ``df`` as parquet into a fresh pool dir and reads
it back with the schema of the DataFrame it wrote (no
schema-inference job).  Two kinds of caller need it:

- **Lineage cuts** in iterative loops (operators/graph.py).
  Re-rooting on a parquet scan is LOAD-BEARING, not hygiene: chained
  self-joins degrade super-linearly past ~19 links, and
  ``localCheckpoint``'s LogicalRDD keeps the source plan's estimated
  statistics, which each self-join multiplies — a pointer-jump loop
  squares its ``sizeInBytes`` every jump until the driver spends
  minutes on million-digit BigInts (r10, measured).  A parquet
  scan's statistics are its file size, so a cut resets both the join
  chain and the stats (BENCH_NOTES "self-join chain degradation").
  A localCheckpoint or a reliable checkpoint resets neither.
- **Streaming state tables** (``streaming.windows.run_state_table``):
  each micro-batch's merged state lands in a new dir, so a batch
  never overwrites the version it reads, and the next batch's plan
  starts from a scan instead of a lineage that grows per batch.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

CACHE_LOCK = threading.Lock()
# (name, sf_dir, params) -> (fingerprint, TemporaryDirectory, value)
_ARTIFACTS: dict[tuple, tuple] = {}


def corpus_fingerprint(sf_dir: str | None) -> tuple | None:
    """``(entry, mtime_ns, size)`` of every top-level ``*.parquet``
    entry of ``sf_dir``; None when it cannot be listed."""
    if not sf_dir:
        return None
    try:
        with os.scandir(sf_dir) as it:
            return tuple(sorted(
                (e.name, st.st_mtime_ns, st.st_size)
                for e in it
                if e.name.endswith(".parquet")
                for st in (e.stat(),)
            ))
    except OSError:
        return None


def _remove(tmp: tempfile.TemporaryDirectory) -> None:
    try:
        tmp.cleanup()
    except OSError:
        pass


def session_artifact(
    name: str, sf_dir: str, build: Callable[[str], Any], *params
) -> Any:
    """Return the artifact ``name`` of the corpus at ``sf_dir``,
    calling ``build(workdir)`` on a miss; ``build`` writes under the
    fresh ``workdir`` and returns the value to cache.  See the module
    docstring for the key, lock, eviction and lifetime rules."""
    key = (name, sf_dir, params)
    fp = corpus_fingerprint(sf_dir)
    with CACHE_LOCK:
        held = _ARTIFACTS.get(key)
    if held is not None and held[0] == fp:
        return held[2]
    tmp = tempfile.TemporaryDirectory(prefix=f"spark_{name}_")
    try:
        value = build(tmp.name)
        items = value if isinstance(value, (tuple, list)) else (value,)
        if any(isinstance(v, DataFrame) for v in items):
            raise TypeError(
                f"session artifact {name!r} must not hold a DataFrame: "
                "store its path (and schema) and read it back per call"
            )
    except BaseException:
        _remove(tmp)
        raise
    with CACHE_LOCK:
        held = _ARTIFACTS.get(key)
        if held is not None and held[0] == fp:
            winner, dropped = held, tmp  # lost the race to publish
        else:
            winner = _ARTIFACTS[key] = (fp, tmp, value)
            dropped = held[1] if held is not None else None  # stale
    if dropped is not None:
        _remove(dropped)
    return winner[2]


class TempDirPool:
    def __init__(self, keep: int = 8) -> None:
        self.keep = keep
        self._dirs: dict[str, list] = {}
        atexit.register(self.cleanup_all)

    def new_dir(self, purpose: str, prefix: str) -> str:
        tmp = tempfile.TemporaryDirectory(prefix=prefix)
        pool = self._dirs.setdefault(purpose, [])
        pool.append(tmp)
        while len(pool) > self.keep:
            old = pool.pop(0)
            try:
                old.cleanup()
            except OSError:
                pass
        return tmp.name

    def cleanup_all(self) -> None:
        for pool in self._dirs.values():
            for tmp in pool:
                try:
                    tmp.cleanup()
                except OSError:
                    pass
        self._dirs.clear()


_POOL = TempDirPool()


def new_dir(purpose: str, prefix: str) -> str:
    """A fresh dir from the package's one pool (see module docstring
    for its lifetime)."""
    return _POOL.new_dir(purpose, prefix)


def reroot(
    df: DataFrame, purpose: str, spark: SparkSession | None = None
) -> DataFrame:
    """Write ``df`` as parquet into a fresh pool dir and return a scan
    of it read with ``df``'s schema: same rows and column types, a
    plan rooted on a datasource (see module docstring).  The scan
    belongs to ``spark`` (default: ``df``'s session) — a foreachBatch
    batch lives in the stream's cloned session, whose conf is frozen
    at query start."""
    path = os.path.join(new_dir(purpose, f"spark_{purpose}_"), "t")
    df.write.parquet(path)
    return (spark or df.sparkSession).read.schema(df.schema).parquet(path)

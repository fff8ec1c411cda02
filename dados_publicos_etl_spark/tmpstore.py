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
- **Values**: a ``Table`` handle, a model or a count, never a
  DataFrame (``TypeError``): a DataFrame is bound to the session that
  made it, and would outlive that session in the cache.  ``build``
  persists a table with ``write_table`` and returns the handle;
  callers reopen it per call with ``open_table``.

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

``write_table`` and ``open_table`` are the one persisted-table
handle: ``write_table`` writes parquet and returns ``Table(path,
schema)``, ``open_table`` reopens it with that schema, so reopening a
table the engine wrote — zero-row and partitioned ones too — runs no
schema-inference job.  A table the engine did not write is opened
by ``io.open_parquet``, with a schema read from one footer.
``reroot(df, purpose)`` is the pair on a fresh pool dir.  Two kinds
of caller need it:

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

``observed(df, name, **aggs)`` is the one ``Observation`` builder:
the scalars ride the next action over ``df`` (CollectMetrics passes
rows through) at no job of their own.  ``checkpoint_observed`` rides
them on an eager checkpoint, under the materialization rules of the
iterative operators:

- **A round's scalar rides its eager checkpoint** (r12): a change
  count, a seed or a normalizer costs no job of its own.
- **A lazy checkpoint loses AQE coalescing**: it materializes inside
  the consuming job, whose shuffles then run at full width (r10:
  Borůvka 4.97x vs 1.56x at the 10x probe); lazy checkpoints stay
  only where they flatten a plan chain at no extra job.
- **A cut every ``CUT_EVERY`` (4) rounds guards the self-join
  chain**: a round adds ~3 self-join links, and past ~19 planning
  degrades super-linearly however the state is checkpointed (a
  100-row table: 0.1 s -> 60 s a step by link 24); ``Rounds.cut``
  re-roots the state (``reroot``).

``Rounds(query, bound)`` is the one bounded-round rule of the
convergence loops (CC, k-core, Borůvka, k-truss): ``for r in rounds``
runs rounds ``1..bound``, which may change the state, then a probe
round ``bound + 1``; each round ends with
``if rounds.fixpoint(<observed test>): break``.  A probe round with
no fixpoint raises ``FixpointNotReached(query, bound)``, never a
truncated state; a state already at its fixpoint when the bound is
spent returns, equal to an oracle that unrolls ``bound`` rounds.
Per-round side outputs (k-core layers, the Borůvka forest) stay in
the caller; fixed-round loops (PageRank, PPR, Bellman-Ford, label
propagation, HITS) stay plain ``for`` loops.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import threading
from typing import Any, Callable, NamedTuple, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from dados_publicos_etl_spark.io import _fs

CACHE_LOCK = threading.Lock()
# (name, sf_dir, params) -> (fingerprint, TemporaryDirectory, value)
_ARTIFACTS: dict[tuple, tuple] = {}


def corpus_fingerprint(sf_dir: str | None) -> tuple | None:
    """``(entry, modification time, length)`` of every top-level
    ``*.parquet`` entry of ``sf_dir``, listed through the lake
    filesystem (any Hadoop URI); None when it cannot be listed."""
    if not sf_dir:
        return None
    try:
        fs, root = _fs(sf_dir)
        listing = fs.listStatus(root)
    except Py4JJavaError:
        return None
    return tuple(sorted(
        (st.getPath().getName(), st.getModificationTime(), st.getLen())
        for st in listing
        if st.getPath().getName().endswith(".parquet")
    ))


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
                "return its write_table handle and open_table it per call"
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


class Table(NamedTuple):
    """A parquet table the engine wrote and its read-back schema."""

    path: str
    schema: StructType


def write_table(
    df: DataFrame, path: str, partition_by: Sequence[str] = (), **options
) -> Table:
    """Write ``df`` as parquet at ``path`` (overwriting); the handle's
    schema lists the data columns, then the ``partition_by`` ones."""
    writer = df.write.mode("overwrite").options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    data = [f for f in df.schema.fields if f.name not in partition_by]
    return Table(path, StructType(data + [df.schema[c] for c in partition_by]))


def open_table(spark: SparkSession, table: Table) -> DataFrame:
    """A scan of ``table`` read with its stored schema: no job."""
    return spark.read.schema(table.schema).parquet(table.path)


def reroot(
    df: DataFrame, purpose: str, spark: SparkSession | None = None
) -> DataFrame:
    """Write ``df`` into a fresh pool dir and reopen it: same rows and
    column types, a plan rooted on a datasource (see module
    docstring).  The scan belongs to ``spark`` (default: ``df``'s
    session) — a foreachBatch batch lives in the stream's cloned
    session, whose conf is frozen at query start."""
    path = os.path.join(new_dir(purpose, f"spark_{purpose}_"), "t")
    return open_table(spark or df.sparkSession, write_table(df, path))


def observed(
    df: DataFrame, name: str | None = None, **aggs: Column
) -> tuple[DataFrame, Observation]:
    """``df`` observing ``aggs`` (aliased by keyword) as one
    ``Observation`` named ``name`` (default: a UUID)."""
    obs = Observation(name)
    return df.observe(obs, *(c.alias(k) for k, c in aggs.items())), obs


def checkpoint_observed(
    df: DataFrame, **aggs: Column
) -> tuple[DataFrame, dict]:
    """The eager ``localCheckpoint`` of ``df`` and the values of
    ``aggs`` (None for a sum, min or max over no rows), in one job."""
    df, obs = observed(df, **aggs)
    return df.localCheckpoint(), obs.get


CUT_EVERY = 4


class FixpointNotReached(RuntimeError):
    """A convergence loop spent its round bound without a fixpoint."""

    def __init__(self, query: str, bound: int) -> None:
        super().__init__(
            f"{query} reached no fixpoint within {bound} rounds; raise "
            "its round bound (engine and any unrolled oracle share it)"
        )
        self.query, self.bound = query, bound


class Rounds:
    """The bounded-round rule (see the module docstring)."""

    def __init__(self, query: str, bound: int) -> None:
        self.query, self.bound, self.round = query, bound, 0

    def __iter__(self):
        for self.round in range(1, self.bound + 2):
            yield self.round

    def fixpoint(self, reached: bool) -> bool:
        """``reached``; raises ``FixpointNotReached`` in the probe round
        without it."""
        if not reached and self.round > self.bound:
            raise FixpointNotReached(self.query, self.bound)
        return reached

    def cut(self, df: DataFrame, purpose: str) -> DataFrame:
        """``reroot`` on every ``CUT_EVERY``-th round."""
        return reroot(df, purpose) if self.round % CUT_EVERY == 0 else df

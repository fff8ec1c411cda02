"""Query registry: name -> (Spark plan builder, DuckDB oracle SQL).

Each registered query is one operator-coverage proof from SURVEY.md §2:
the Spark side is the idiomatic DataFrame/SQL plan, the oracle is the
ANSI-SQL equivalent DuckDB runs on the same parquet for the driver's
differential check (row-count + schema + order-insensitive value hash).

Rules that keep the differential check stable (see __spark_entry__
contract):
- alias every computed column identically on both sides;
- round every floating aggregate on both sides (Spark's partial
  aggregation order differs from DuckDB's — raw double sums differ in
  the last bits);
- cast integer SUMs to BIGINT in the oracle (DuckDB widens to
  HUGEINT);
- format timestamps to strings when they appear in output;
- deterministic tie-breaks on every LIMIT/top-k.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


class QuerySpec:
    """One registered query.  ``oracle`` may be passed as the SQL
    string, ``None`` (non-SQL-expressible, rows-only check), or a
    ZERO-ARG CALLABLE returning the SQL — the lazy form exists for
    oracles whose generation is expensive (the multimodal fixture
    reimplementations regenerate thousands of images), so plain
    imports stay fast and only an actual differential pays the
    generation, once."""

    __slots__ = ("name", "fn", "_oracle", "description",
                 "rows_only_reason")

    def __init__(
        self,
        name: str,
        fn: SparkQuery,
        oracle: str | Callable[[], str] | None,
        description: str = "",
        rows_only_reason: str | None = None,
    ) -> None:
        if oracle is None and not rows_only_reason:
            raise ValueError(
                f"query {name!r}: a rows-only registration (oracle="
                "None) must declare rows_only_reason — the machine-"
                "readable why-no-oracle the driver artifact surfaces"
            )
        self.name = name
        self.fn = fn
        self._oracle = oracle
        self.description = description
        self.rows_only_reason = rows_only_reason

    @property
    def oracle(self) -> str | None:
        if callable(self._oracle):
            self._oracle = self._oracle()
        return self._oracle


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | Callable[[], str] | None,
    description: str = "",
    rows_only_reason: str | None = None,
):
    """Decorator registering a (spark, sf_dir) -> DataFrame query.
    ``rows_only_reason`` is REQUIRED when oracle is None: the one-line
    non-SQL-expressibility justification, exported machine-readably by
    __spark_entry__.rows_only() (round-9 verdict item #8)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            first = QUERIES[name].fn
            raise ValueError(
                f"query {name!r} is already registered by "
                f"{first.__module__}.{first.__qualname__}"
            )
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                  description=description,
                                  rows_only_reason=rows_only_reason)
        return fn

    return deco

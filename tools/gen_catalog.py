#!/usr/bin/env python
"""Regenerate CATALOG.md: the full query catalog (name, check type,
description) straight from the registry, so the coverage surface is
reviewable without reading every module."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def render() -> str:
    """The text of CATALOG.md for the current registry."""
    from dados_publicos_etl_spark.plans import QUERIES
    from dados_publicos_etl_spark.plans import catalog  # noqa: F401

    lines = [
        "# CATALOG — every registered query",
        "",
        "Generated by `python tools/gen_catalog.py` from the",
        "`plans/registry.py` registry (the same one `__spark_entry__.py`",
        "exposes to the driver).  Check = `oracle` (DuckDB differential,",
        "hash-exact) or `rows-only` (model-dependent; see COVERAGE.md for",
        "each one's golden/pytest pin).",
        "",
        f"**{len(QUERIES)} queries** — "
        f"{sum(1 for s in QUERIES.values() if s.oracle)} oracle-checked, "
        f"{sum(1 for s in QUERIES.values() if not s.oracle)} rows-only.",
        "",
        "| Query | Check | Description |",
        "|---|---|---|",
    ]
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        check = "oracle" if spec.oracle else "rows-only"
        desc = " ".join(spec.description.split())
        lines.append(f"| `{name}` | {check} | {desc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(os.path.join(REPO, "CATALOG.md"), "w") as fh:
        fh.write(render())
    print("wrote CATALOG.md")


if __name__ == "__main__":
    main()

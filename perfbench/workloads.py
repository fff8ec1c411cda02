"""Workload definitions: which ops one cold pass runs, in which order.

Catalog workloads name registered queries (``plans.QUERIES``).  The op
list and its order are fixed; the seed changes the data only.  (A seeded
order would move the JVM's first-action warm-up, about 4 s, and the
Python workers' start, about 3 s, from op to op and with them the
per-op latency metrics.)  Each list is a subset of its modules'
registrations, sized so that a run stays inside the time budget in
``README.md``.
"""

from __future__ import annotations

WORKLOADS = {
    "etl_medallion": None,  # ops come from etl.ops
    "catalog_mix": (
        # OLAP reads: table opens, Catalyst and JVM execution, no build
        "q3_shipping_priority",  # plans.relational; pays the JVM warm-up
        "q9_product_profit",  # plans.tpch_full; multi-table join
        "q12_shipmode_priority",  # plans.tpch_extra
        # iterative curation: eager builds, fixpoints, Python workers
        "similarity_ann_lsh",  # operators.similarity; mapInPandas
        "k_core_peel",  # operators.graph; fixpoint peeling
        # streaming micro-batches: state and WAL commits
        "stream_dedup_watermark",  # streaming.windows; stateful
    ),
}

# The registering modules of the catalog ops; the traced run reports op
# and build time per module so that a claim can name its module.
MODULES = (
    "plans.relational", "plans.tpch_full", "plans.tpch_extra",
    "operators.similarity", "operators.graph", "streaming.windows",
)


def module_of(fn) -> str:
    """``dados_publicos_etl_spark.operators.dedup`` -> ``operators.dedup``."""
    return ".".join(fn.__module__.split(".")[-2:])

"""Seeded input generators for the benchmark.

Two input sets, both a pure function of the seed and cached on disk by
seed (generation happens before any timed work):

* ``tables(seed)``: the ten catalog tables (TPC-H-shaped star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value domains of the repository's test corpus
  (``FIXTURES.md`` group B), one parquet file per table.
* ``cnae(seed)``: the reference pipeline's raw input: a latin-1
  ``CODIGO;DESCRICAO`` CSV zipped the way the public portal ships it,
  with the dirt of ``FIXTURES.md`` A1 (padding, empty strings, quoted
  ``;``, latin-1-range characters, a few malformed lines), plus daily
  increment files for the incremental write path.
"""

from __future__ import annotations

import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table.  Small on purpose: a cold pass is dominated by
# per-op fixed costs (table opens, planning, job scheduling, codegen),
# which is what the benchmark measures.
ROWS = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "lineitem": 12000,
    "events": 2000,
    "documents": 500,
    "embeddings": 500,
}
CNAE_ROWS = 10000
INCREMENT_ROWS = 3000
# (partition day, delivery) — day 2 is delivered twice; the second
# delivery must replace the first.
INCREMENTS = [
    ("2024-01-01", "a"),
    ("2024-01-02", "a"),
    ("2024-01-02", "b"),
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])
_CNAE_WORDS = (
    "Cultivo de cereais algodão café cana-de-açúcar criação bovinos "
    "Fabricação produtos têxteis Comércio atacadista varejista peças "
    "Serviços manutenção reparação máquinas Atividades apoio à extração "
    "minérios Construção edifícios Transporte rodoviário carga"
).split()

_DAY_US = 86_400_000_000


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _table_arrays(seed: int) -> dict[str, dict[str, pa.Array]]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, dict[str, pa.Array]] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25, dtype=np.int32)),
    }
    nc = n["customer"]
    out["customer"] = {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
    }
    ns = n["supplier"]
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(_PTYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
    }
    no = n["orders"]
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, no)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no)),
    }
    nl = n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, nl)),
    }
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        # ~5% near-duplicates: an earlier document plus trailing "dup"s.
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS[0], nd, p=_LANGS[1])),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    }
    return out


def _cache(root: str, build) -> str:
    """Run ``build(tmp)`` once per ``root``; atomic via rename."""
    if os.path.isfile(os.path.join(root, "manifest.json")):
        return root
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return root


def tables(cache_dir: str, seed: int) -> str:
    """Directory holding ``<table>.parquet`` for every catalog table."""

    def build(tmp: str) -> dict:
        manifest = {}
        for name, cols in _table_arrays(seed).items():
            # Rows in a seeded random order: results must not depend on it.
            perm = np.random.default_rng([seed, len(name)]).permutation(len(next(iter(cols.values()))))
            t = pa.table(cols).take(pa.array(perm))
            path = os.path.join(tmp, f"{name}.parquet")
            pq.write_table(t, path)
            manifest[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
        return manifest

    return _cache(os.path.join(cache_dir, f"tables-{seed}"), build)


def _cnae_line(rng, code: int) -> str:
    words = rng.choice(_CNAE_WORDS, int(rng.integers(2, 7)))
    desc = " ".join(words)
    kind = rng.random()
    if kind < 0.04:
        return f"{code};"  # empty description -> NULL
    if kind < 0.06:
        return f'{code};""'  # quoted empty -> NULL
    if kind < 0.16:
        return f'{code};"  {desc}; {words[0]}  "'  # quoted delimiter + padding
    if kind < 0.30:
        return f"{code};   {desc}   "  # unquoted padding
    if kind < 0.302:
        return f"{code}x;{desc}"  # malformed code -> NULL CODIGO
    if kind < 0.304:
        return f"{code}"  # missing field -> NULL DESCRICAO
    return f"{code};{desc}"


def cnae(cache_dir: str, seed: int) -> str:
    """Directory with ``cnae.zip`` (latin-1 CSV inside) and
    ``increments/<day>_<delivery>.csv`` (UTF-8, ``CODIGO;DESCRICAO``)."""

    def build(tmp: str) -> dict:
        rng = np.random.default_rng([seed, 1])
        codes = rng.permutation(np.arange(100000, 100000 + 3 * CNAE_ROWS))[:CNAE_ROWS]
        body = "\n".join(_cnae_line(rng, int(c)) for c in codes) + "\n"
        with zipfile.ZipFile(os.path.join(tmp, "cnae.zip"), "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("Cnaes.csv", body.encode("iso-8859-1"))
        inc_dir = os.path.join(tmp, "increments")
        os.makedirs(inc_dir)
        manifest = {"cnae_rows": CNAE_ROWS, "zip_bytes": os.path.getsize(os.path.join(tmp, "cnae.zip")),
                    "csv_bytes": len(body.encode("utf-8")), "increments": {}}
        for day, delivery in INCREMENTS:
            inc_codes = rng.choice(codes, INCREMENT_ROWS, replace=False)
            lines = "\n".join(_cnae_line(rng, int(c)) for c in inc_codes) + "\n"
            path = os.path.join(inc_dir, f"{day}_{delivery}.csv")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(lines)
            manifest["increments"][f"{day}_{delivery}"] = {
                "rows": INCREMENT_ROWS, "bytes": os.path.getsize(path)}
        return manifest

    return _cache(os.path.join(cache_dir, f"cnae-{seed}"), build)

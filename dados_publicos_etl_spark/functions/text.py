"""Text expression helpers shared by the text-analysis / dedup
operators.  All pure Catalyst expressions; tokenization is defined
once here so Spark plans and DuckDB oracles can agree on semantics:

  token   := maximal run of non-whitespace ( split on \\s+ )
  word    := maximal run of [A-Za-z0-9]+
  norm(t) := lower(t) with whitespace runs collapsed to single spaces

The portable hash is defined here too: the first ``n`` hex chars of
an ``md5`` digest read as a long (``hex_long``; DuckDB twin
``duck_md5_long_sql``).  Every operator whose result must match the
oracle bit for bit — dedup, sampling, Bloom filters, HyperLogLog,
noise seeds — hashes through it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"
WORD = "[A-Za-z0-9]+"


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(c) if isinstance(c, str) else c
    return F.split(F.lower(c), WS)


def distinct_tokens(c: Column | str) -> Column:
    return F.array_distinct(tokens(c))


def word_count(c: Column | str) -> Column:
    """BPE-ish word counting: number of [A-Za-z0-9]+ runs."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(c, F.lit(WORD))


def normalized(c: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed spaces."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(c), WS, " "))


def fingerprint_md5(c: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalized(c))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) over a token-array
    column.  IMPORTANT: pass a materialized column REFERENCE (select
    the token split into a column first) — lambda bodies have no
    common-subexpression elimination, so an inline split() here would
    re-tokenize once per element_at reference (measured 10s vs 0.5s
    at sf0.1).
    """

    def shingle_at(i):
        # element_at + concat instead of slice + concat_ws: avoids an
        # array allocation per shingle (~2x faster at sf0.1)
        parts: list[Column] = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(toks, i + j))
        return F.concat(*parts)

    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                shingle_at,
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(c: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of raw text, the unit for
    near-dup similarity.  Unigram token sets are degenerate on small
    vocabularies (everything overlaps); n-grams encode word order so
    only genuine near-duplicates score high.

    Convenience form over an inline tokenization — for hot paths
    prefer ``select(tokens(...).alias(t)).select(
    shingles_from_tokens(col(t)))`` (see that function's warning).
    """
    return shingles_from_tokens(tokens(c), n)


def md5_hashed_shingles(shingle_arr: Column, hexlen: int = 7) -> Column:
    """Distinct PORTABLE shingle hashes: md5 of each shingle string,
    first ``hexlen`` hex chars as a long (``hex_long``), bit-identical
    on Spark and DuckDB, unlike xxhash64.  The default 7 hex chars
    give a 28-bit universe, sized so the minhash permutation family's
    ``a*h + b`` stays inside int64 (see operators/dedup.py); SimHash
    takes 15 (60 bits).  Pass a MATERIALIZED shingle-array column
    reference (same no-CSE warning as shingles_from_tokens).
    """
    return F.array_distinct(
        F.transform(shingle_arr, lambda s: hex_long(F.md5(s), hexlen))
    )


def hex_long(hex_col: Column | str, n: int, start: int = 1) -> Column:
    """The portable hash: ``n`` hex chars of ``hex_col`` from ``start``
    (1-based) read as a long — ``conv(substring(h, start, n), 16, 10)``
    cast to BIGINT.  Over an ``md5`` digest it is bit-identical on
    Spark and DuckDB (``duck_md5_long_sql``), which hash()/xxhash64
    are not.  NULL in, NULL out on both engines.

    ``n`` bounds the universe at ``16**n`` values: 7 hex chars (28
    bits) keep the minhash permutation's ``a*h + b`` inside int64
    (see operators/dedup.py), 15 (60 bits) is the widest that never
    reaches the sign bit.  Callers slice one digest column more than
    once (HyperLogLog bucket from chars 1-2, rank word from 3-8)
    instead of hashing twice."""
    return F.conv(F.substring(hex_col, start, n), 16, 10).cast("long")


def duck_md5_long_sql(expr: str, hexlen: int = 7) -> str:
    """DuckDB fragment equal to ``hex_long(F.md5(expr), hexlen)``, the
    oracle side of the portable hash."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {hexlen})) AS BIGINT)"


def duck_shingles_sql(text_expr: str, n: int = 3) -> str:
    """DuckDB SQL fragment equivalent to ``shingles(text_expr, n)``."""
    toks = f"string_split_regex(lower({text_expr}), '{WS}')"
    return f"""
    CASE WHEN len({toks}) >= {n} THEN
      list_distinct(list_transform(
        generate_series(1, len({toks}) - {n - 1}),
        i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))
    ELSE [array_to_string({toks}, ' ')] END
    """


def jaccard_tokens(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-)token arrays (double)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union

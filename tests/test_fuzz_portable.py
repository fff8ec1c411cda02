"""Adversarial/differential tests for the round-8 PORTABLE machinery
— the constructions every ANN/SemDeDup oracle now stands on:

1. the milli-quantization expression (Spark ROUND vs DuckDB ROUND on
   float32-origin doubles, hammered at the half-integer boundaries
   where rounding modes could diverge),
2. integer-exact Lloyd (`_lloyd_int`) vs the unrolled SQL CTEs
   (`_lloyd_sql`) on RANDOM synthetic embeddings — shapes, dims and
   cell counts the catalog never exercises, including empty-cell
   drops, and
3. the int16-LE byte replay (`_audio_byte_sql` get_bit arithmetic)
   vs numpy ``frombuffer`` on arbitrary unicode payloads, and
4. the portable hash (`functions.text.hex_long` over ``md5``) and the
   HyperLogLog / geometric-noise rank (`functions.numeric.
   leading_zero_rank`) vs their DuckDB twins.

The catalog's differentials prove these on the fixture corpus; this
file proves the CONSTRUCTIONS, so a future corpus regeneration or a
new consumer cannot silently step outside their validated domain.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def test_milli_quantization_parity_adversarial(spark):
    """CAST(ROUND(x*1000, 0) AS BIGINT) must agree between Spark and
    DuckDB for float32-origin values — including every float32
    nearest a half-integer boundary in the working range, the only
    inputs where HALF_UP-style implementations could split."""
    ks = np.arange(-6000, 6001)
    cand = ((ks + 0.5) / 1000.0).astype("float32")
    rng = np.random.RandomState(7)
    rand = rng.uniform(-6, 6, 30000).astype("float32")
    vals = np.unique(np.concatenate([cand, rand])).astype("float32")
    pdf = pd.DataFrame({"i": np.arange(len(vals)), "x": vals})

    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select(
            "i",
            F.expr(
                "CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)"
            ).alias("q"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    duck = con.execute(
        "SELECT i, CAST(ROUND(CAST(x AS DOUBLE)*1000, 0) AS BIGINT) AS q"
        " FROM t ORDER BY i"
    ).df()
    merged = got.merge(duck, on="i", suffixes=("_s", "_d"))
    bad = merged[merged.q_s != merged.q_d]
    assert bad.empty, bad.head(5)


@pytest.mark.parametrize(
    "seed,n,dim,k",
    [
        (11, 60, 8, 4),
        (12, 100, 16, 5),
        # k > distinct natural clusters forces empty-cell drops on
        # at least some draws; dim not a divisor of anything special
        (13, 40, 6, 9),
    ],
)
def test_lloyd_int_matches_unrolled_sql_on_random_embeddings(
    spark, seed, n, dim, k
):
    """The driver-side integer Lloyd must equal the unrolled-CTE SQL
    round for round on arbitrary random embeddings — same sample
    order, same init, same argmin ties, same integer means, same
    empty-cell behavior — not just on the fixture corpus the catalog
    oracles run against."""
    from dados_publicos_etl_spark.operators.similarity import (
        _IVF_ROUNDS,
        _ann_prelude_sql,
        _collect_quantized_sample,
        _lloyd_int,
        _lloyd_sql,
    )

    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            # plain Python floats: numpy float32 scalars inside the
            # lists bind as opaque objects in DuckDB's registration
            "embedding": [[float(x) for x in v] for v in vecs],
        }
    )
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(pdf.vec_id, vecs)],
        "vec_id long, embedding array<float>",
    )

    n_train = 10_000  # >= n: the sample is the whole table
    train = _collect_quantized_sample(emb, n_train, "vec_id", "embedding")
    ids, cents = _lloyd_int(train, k, _IVF_ROUNDS)
    engine = {
        int(cid): [int(x) for x in c] for cid, c in zip(ids, cents)
    }

    con = duckdb.connect()
    con.register("embeddings", pdf)
    sql = f"""
    WITH {_ann_prelude_sql()},
    {_lloyd_sql('ivf', n_train, k, _IVF_ROUNDS, 1, dim)}
    SELECT cid, c FROM ivfc{_IVF_ROUNDS} ORDER BY cid
    """
    oracle = {int(r[0]): [int(x) for x in r[1]] for r in con.execute(sql).fetchall()}
    assert engine == oracle


def test_int16_byte_replay_matches_numpy(spark):
    """The get_bit byte replay (multimodal_audio_segments oracle) must
    reproduce numpy's little-endian int16 reinterpretation for
    arbitrary unicode payloads — multibyte UTF-8, quotes, newlines,
    emoji, lone ASCII — not just the fixture corpus text."""
    from dados_publicos_etl_spark.operators.multimodal import (
        _audio_byte_sql,
    )

    texts = [
        "AB",
        "hello world",
        'quotes "and" more\'s',
        "línhas\ncom\tacentuação é ç ü",
        "emoji 🎛️🔊 mixed with ascii",
        "ÿþ boundary bytes",
        "x",  # single byte: zero complete samples
        "ab" * 300,  # long run
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    con = duckdb.connect()
    con.register("t", pdf)
    sql = f"""
    WITH raw AS (
      SELECT doc_id, CAST(encode(text) AS BIT) AS bits,
             octet_length(encode(text)) AS nb
      FROM t WHERE octet_length(encode(text)) >= 2
    )
    SELECT doc_id, g.i,
           {_audio_byte_sql('2*g.i')} + 256 * {_audio_byte_sql('2*g.i + 1')}
           - CASE WHEN {_audio_byte_sql('2*g.i')}
                       + 256 * {_audio_byte_sql('2*g.i + 1')} >= 32768
                  THEN 65536 ELSE 0 END AS v
    FROM raw, generate_series(0, 2047) g(i)
    WHERE 2 * g.i + 1 < nb
    ORDER BY doc_id, g.i
    """
    got: dict[int, list[int]] = {}
    for doc_id, _i, v in con.execute(sql).fetchall():
        got.setdefault(int(doc_id), []).append(int(v))
    for i, t in enumerate(texts):
        b = t.encode("utf-8")
        expect = [
            int(x)
            for x in np.frombuffer(b[: len(b) - (len(b) % 2)], "<i2")
        ]
        assert got.get(i, []) == expect, (i, t)


def test_spectral_magnitude_seam_matches_duckdb():
    """The one float seam in the portable DFT
    (audio_spectral_centroid): mag = floor(sqrt(double(re^2+im^2))
    + 0.5).  re^2+im^2 exceeds 2^53, so the int->double conversion
    itself rounds — this pins that DuckDB's HUGEINT->DOUBLE cast and
    Python's float(int) round identically (both correctly rounded),
    and that the sqrt/add/floor chain lands on the same integer,
    across random magnitudes at the operator's actual scale
    (|re|,|im| <= 32767 * 1e6 * 128 ~ 4.3e12)."""
    import math
    import random

    rng = random.Random(7)
    cases = []
    for _ in range(2000):
        re = rng.randint(-4_300_000_000_000, 4_300_000_000_000)
        im = rng.randint(-4_300_000_000_000, 4_300_000_000_000)
        cases.append((re, im))
    # adversarial: perfect squares and off-by-one around them, where
    # floor(sqrt+0.5) sits on a boundary
    for s in [1, 2, 10**6, 4_299_999_999_999]:
        for d in (-1, 0, 1):
            cases.append((s + d, 0))
    con = duckdb.connect()
    con.register(
        "c", pd.DataFrame(cases, columns=["re", "im"]).reset_index()
    )
    rows = con.execute(
        """
        SELECT index,
               CAST(FLOOR(sqrt(CAST(CAST(re AS HUGEINT) * re
                                    + CAST(im AS HUGEINT) * im AS DOUBLE))
                          + 0.5) AS BIGINT)
        FROM c ORDER BY index
        """
    ).fetchall()
    for (idx, db), (re, im) in zip(rows, cases):
        py = int(math.floor(math.sqrt(float(re * re + im * im)) + 0.5))
        assert py == db, (re, im, py, db)


def test_spec_trig_table_shared_and_bounded():
    """The portable DFT's trig table: generated once, embedded
    verbatim in the oracle (no cross-engine libm seam by
    construction); values bounded by the fixed-point scale and the
    quarter-symmetry identities hold exactly in the rounded domain
    where they must (cq[0]=scale, sq[0]=0, cq[N/2]=-scale,
    sq[N/4]=scale)."""
    from dados_publicos_etl_spark.operators.multimodal import (
        _SPEC_N,
        _TRIG_SCALE,
        _spec_trig,
    )

    cq, sq = _spec_trig()
    assert len(cq) == len(sq) == _SPEC_N
    assert max(max(map(abs, cq)), max(map(abs, sq))) <= _TRIG_SCALE
    assert cq[0] == _TRIG_SCALE and sq[0] == 0
    assert cq[_SPEC_N // 2] == -_TRIG_SCALE and sq[_SPEC_N // 2] == 0
    assert sq[_SPEC_N // 4] == _TRIG_SCALE and cq[_SPEC_N // 4] == 0
    # table is embedded in the registered oracle verbatim
    from dados_publicos_etl_spark.plans import QUERIES

    oracle = QUERIES["audio_spectral_centroid"].oracle
    assert f"(3, {cq[3]}, {sq[3]})" in oracle


def test_semdedup_cell_rule_matches_sql_rule():
    """semdedup_n_cells / _ivf_n_train (engine, python ints) vs the
    prm CTE (oracle, GREATEST/LEAST over COUNT(*)) — the round-9
    dynamic-k conversion holds only if both derive identical (k,
    n_train) from ANY corpus size, including the boundary counts
    around the floor, the //32 steps, and both caps."""
    from dados_publicos_etl_spark.operators.similarity import (
        _ivf_n_train,
        _semdedup_prm_sql,
        semdedup_n_cells,
    )

    ns = [1, 2, 31, 32, 511, 512, 513, 540, 541, 2000, 5000,
          131071, 131072, 131073, 200000, 4096 * 32, 4096 * 32 + 1,
          10**7]
    con = duckdb.connect()
    for n in ns:
        con.execute("CREATE OR REPLACE VIEW embeddings AS "
                    f"SELECT * FROM range({n})")
        k_sql, nt_sql = con.execute(
            f"WITH {_semdedup_prm_sql()} SELECT k, n_train FROM prm"
        ).fetchone()
        assert (int(k_sql), int(nt_sql)) == (
            semdedup_n_cells(n), _ivf_n_train(semdedup_n_cells(n))
        ), n


def test_hex_long_parity_with_duckdb(spark):
    """``hex_long(md5(x), n, start)`` must equal DuckDB's
    ``CAST(('0x' || substr(md5(x), start, n)) AS BIGINT)`` for every
    slice the catalog takes (2/6/8-char HLL and Bloom slices, the
    7-char minhash universe, the 15-char band hash, the rank word at
    offset 3), on the empty string, ASCII, multi-byte UTF-8 and NULL
    (NULL on both sides).  ``duck_md5_long_sql`` is the start-1 twin."""
    from dados_publicos_etl_spark.functions.text import (
        duck_md5_long_sql,
        hex_long,
    )

    slices = [(2, 1), (6, 1), (7, 1), (8, 1), (15, 1), (6, 3)]
    texts = ["", "hello world", "naïve café — 数据 🚀", None]
    pdf = pd.DataFrame({"i": range(len(texts)), "x": texts})
    sdf = spark.createDataFrame(pdf, "i long, x string")
    got = sdf.select(
        "i",
        *[hex_long(F.md5("x"), n, start) for n, start in slices],
    ).orderBy("i").collect()
    oracle = [
        f"CAST(('0x' || substr(md5(x), {start}, {n})) AS BIGINT)"
        for n, start in slices
    ]
    con = duckdb.connect()
    con.register("t", pdf)
    duck = con.execute(
        f"SELECT i, {', '.join(oracle)} FROM t ORDER BY i"
    ).fetchall()
    assert [tuple(r) for r in got] == duck
    for i, *vals in duck:
        if texts[i] is None:
            assert vals == [None] * len(slices)
        else:
            assert all(0 <= v < 16**n for v, (n, _) in zip(vals, slices))
    for (n, start), sql in zip(slices, oracle):
        if start == 1:
            assert duck_md5_long_sql("x", n) == sql


def test_leading_zero_rank_parity_with_duckdb(spark):
    """``leading_zero_rank(w, 25)`` vs the oracle's ``CASE WHEN w = 0
    THEN 25 ELSE 25 - length(bin(w)) END`` at the edges of the 24-bit
    word: 0 (rank 25), 1, the top bit alone and all bits set (rank 1:
    a 24-bit word leaves the 25th bit always zero)."""
    from dados_publicos_etl_spark.functions.numeric import leading_zero_rank

    ws = [0, 1, 2**23, 2**24 - 1]
    got = [
        r.r
        for r in spark.createDataFrame([(w,) for w in ws], "w long")
        .select(leading_zero_rank(F.col("w"), 25).alias("r"))
        .collect()
    ]
    duck = [
        r
        for (r,) in duckdb.execute(
            "SELECT CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END"
            f" FROM unnest({ws}::BIGINT[]) AS t(w)"
        ).fetchall()
    ]
    assert got == duck == [25, 24, 1, 1]


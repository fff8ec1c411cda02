"""PII scrubbing operators (north-star extension: what a
training-data pipeline must do before text leaves the trust
boundary).

Pattern-based redaction and salted-hash pseudonymization, all pure
Catalyst expressions (``regexp_count`` / ``regexp_replace`` /
``sha2``): a narrow map over the scan with no Python in the row path,
so the scrubber runs at full scan bandwidth on a 100 TB corpus and
composes with filters/dedup in the same stage.

Patterns use only regex constructs with identical semantics in Java
(Spark) and RE2 (DuckDB oracle): character classes, bounded repeats,
alternation — no backrefs, no lookaround.

The driver's synthetic ``documents.text`` contains no organic PII, so
the registered query plants deterministic PII derived from
``doc_id``/``source`` on BOTH engine and oracle sides, then proves
the scrubber removes exactly all of it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import leading_zero_rank
from dados_publicos_etl_spark.functions.text import hex_long
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query

# Java/RE2-portable patterns (no lookaround, no backrefs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

PII_PATTERNS: dict[str, str] = {"EMAIL": EMAIL_RE, "PHONE": PHONE_RE}


def redact_pii(
    c: Column | str, patterns: dict[str, str] = PII_PATTERNS
) -> Column:
    """Replace each PII pattern with a ``<LABEL>`` placeholder.

    Chained ``regexp_replace`` — one generated-code pass per pattern,
    still a narrow map.  Order matters when patterns overlap: run the
    most specific first (dict order is application order).
    """
    col = F.col(c) if isinstance(c, str) else c
    for label, pat in patterns.items():
        col = F.regexp_replace(col, pat, f"<{label}>")
    return col


def pseudonymize(c: Column | str, salt: str) -> Column:
    """Salted SHA-256 pseudonym: stable joinable surrogate for an
    identifier without exposing it.  Same salt => same pseudonym, so
    referential integrity across tables survives scrubbing."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sha2(F.concat(F.lit(salt), col.cast("string")), 256)


@query(
    "pii_redaction",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail-' || source || '.com or +55-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' now' AS synth
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(synth, '{EMAIL_RE}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(synth, '{PHONE_RE}')) AS INT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(synth,
                 '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g')) AS clean_md5,
           CAST(len(regexp_extract_all(
             regexp_replace(regexp_replace(synth,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g'),
             '{EMAIL_RE}')) AS INT) AS residual_pii
    FROM planted
    """,
    description="PII scrub: plant deterministic email+phone per doc, "
    "count and redact both, prove zero residual — chained "
    "regexp_replace, narrow map, no Python.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail-"),
        F.col("source"),
        F.lit(".com or +55-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    base = docs.select("doc_id", synth.alias("synth"))
    clean = redact_pii("synth")
    return base.select(
        "doc_id",
        F.regexp_count("synth", F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count("synth", F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
        F.regexp_count(clean, F.lit(EMAIL_RE)).alias("residual_pii"),
    )


@query(
    "k_anonymity_audit",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           COUNT(*) >= 10 AS k_anonymous,
           CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000)
                AS INT)) AS BIGINT) AS l_diversity
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    description="k-anonymity / l-diversity audit: equivalence classes "
    "over the quasi-identifier tuple (nation, market segment) with "
    "class size, a k>=10 anonymity flag, and the count of distinct "
    "sensitive-value buckets (acctbal/1000) as l-diversity.  One "
    "hash aggregate over the scan — the privacy audit costs the "
    "same as any GROUP BY at 100 TB; classes below k are the rows a "
    "release pipeline must suppress or generalize.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            (F.count(F.lit(1)) >= 10).alias("k_anonymous"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 1000).cast("int")
            ).alias("l_diversity"),
        )
    )


@query(
    "masked_customer_view",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal >= 5000
                THEN 'REDACTED' ELSE c_mktsegment END AS segment_visible,
           md5('governance-salt:' || CAST(c_custkey AS STRING)
               || ':' || c_name) AS name_token,
           CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT)
             AS acctbal_bucket,
           c_nationkey
    FROM customer
    """,
    description="Row/column security as a policy view: sensitive "
    "columns leave the trust boundary masked (salted-hash name "
    "token, bucketed balance, conditional segment redaction for "
    "high-value rows) while join keys stay intact — the governance "
    "projection every warehouse enforces.  Pure narrow map; the "
    "policy composes with any downstream query at zero extra cost "
    "and the token is stable for joins across masked tables.",
)
def masked_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") >= 5000, "REDACTED")
        .otherwise(F.col("c_mktsegment"))
        .alias("segment_visible"),
        F.md5(
            F.concat(
                F.lit("governance-salt:"),
                F.col("c_custkey").cast("string"),
                F.lit(":"),
                F.col("c_name"),
            )
        ).alias("name_token"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("long")
        .alias("acctbal_bucket"),
        "c_nationkey",
    )


# ---------------------------------------------------------------------------
# Right-to-erasure propagation across the relational star
# ---------------------------------------------------------------------------


@query(
    "erasure_propagation",
    oracle="""
    WITH tombstones AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ), o AS (
      SELECT o_orderkey,
             (o_custkey IN (SELECT c_custkey FROM tombstones)) AS purge
      FROM orders
    ), l AS (
      SELECT (o.purge) AS purge
      FROM lineitem li JOIN o ON li.l_orderkey = o.o_orderkey
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT COUNT(*) FROM tombstones) AS BIGINT) AS rows_purged,
           CAST((SELECT COUNT(*) FROM customer) -
                (SELECT COUNT(*) FROM tombstones) AS BIGINT) AS rows_kept
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM o WHERE purge) AS BIGINT),
           CAST((SELECT COUNT(*) FROM o WHERE NOT purge) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM l WHERE purge) AS BIGINT),
           CAST((SELECT COUNT(*) FROM l WHERE NOT purge) AS BIGINT)
    """,
    description="Right-to-erasure (GDPR art. 17) propagation audit: "
    "a deletion-request list (customers keyed % 97 — the stand-in "
    "for the tombstone table a DSR workflow maintains) cascades "
    "through the FK star customer -> orders -> lineitem, reporting "
    "purged vs retained row counts per table BEFORE any destructive "
    "write.  Scale shape: the tombstone list broadcasts (requests "
    "are << corpus), orders stamp purge with one broadcast semi-"
    "lookup, lineitem inherits through its orderkey equi-join; one "
    "conditional aggregate per table, no anti-join materialization "
    "of survivors.  The dry-run report IS the audit artifact; the "
    "destructive pass reuses the same stamped plans as filters.",
)
def erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    tomb = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o = orders.join(
        F.broadcast(tomb), orders.o_custkey == tomb.c_custkey, "left"
    ).select(
        "o_orderkey", F.col("c_custkey").isNotNull().alias("purge")
    )
    l = li.join(o, li.l_orderkey == o.o_orderkey).select("purge")

    def counts(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("tbl"),
            F.sum(F.when(F.col("purge"), 1).otherwise(0))
            .cast("long")
            .alias("rows_purged"),
            F.sum(F.when(F.col("purge"), 0).otherwise(1))
            .cast("long")
            .alias("rows_kept"),
        )

    c = cust.select(
        (F.col("c_custkey") % 97 == 0).alias("purge")
    )
    return (
        counts(c, "customer")
        .unionAll(counts(o.select("purge"), "orders"))
        .unionAll(counts(l, "lineitem"))
    )


# ---------------------------------------------------------------------------
# Differentially-private count release (discrete Laplace, portable)
# ---------------------------------------------------------------------------

_DP_BITS = 24  # truncation of each geometric tail (P < 6e-8)


@query(
    "dp_noisy_counts",
    oracle=f"""
    WITH grp AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM documents GROUP BY lang, source
    ), seeded AS (
      SELECT lang, source, true_count,
             md5(lang || '|' || source || '|dp1') AS h1,
             md5(lang || '|' || source || '|dp2') AS h2
      FROM grp
    ), words AS (
      SELECT lang, source, true_count,
             CAST(('0x' || substr(h1, 1, 6)) AS BIGINT) AS w1,
             CAST(('0x' || substr(h2, 1, 6)) AS BIGINT) AS w2
      FROM seeded
    ), noise AS (
      SELECT lang, source, true_count,
             (CASE WHEN w1 = 0 THEN {_DP_BITS}
                   ELSE {_DP_BITS} - length(bin(w1)) END
              - CASE WHEN w2 = 0 THEN {_DP_BITS}
                     ELSE {_DP_BITS} - length(bin(w2)) END) AS eta
      FROM words
    )
    SELECT lang, source, true_count,
           CAST(eta AS BIGINT) AS noise,
           CAST(true_count + eta AS BIGINT) AS noisy_count
    FROM noise
    """,
    description="Discrete-Laplace noisy-count CALIBRATION DEMO over "
    "the (lang, source) histogram: two-sided geometric noise with "
    "alpha = 1/2 (the epsilon = ln 2 mechanism SHAPE), built "
    "PORTABLY — each geometric draw is the leading-zero count of a "
    "24-bit md5-seeded word (P(lz >= k) = 2^-k exactly), exact "
    "integer arithmetic on both engines with no RNG or log() seam.  "
    "NOT a DP release as registered: the demo salt is public (and "
    "true_count is emitted for the calibration audit), so anyone "
    "can recompute eta — the noise DISTRIBUTION is what the "
    "differential verifies.  The library form "
    "dp_noisy_group_counts() takes a caller-secret salt and drops "
    "true_count; its epsilon = ln 2 guarantee holds exactly while "
    "the salt stays secret (round-9 ADVICE).  Scale: one "
    "partial-aggregated GROUP BY to a |langs x sources| table; the "
    "noise is a per-row constant expression.  (Truncating each "
    "geometric at 24 bits perturbs the distribution by < 6e-8 — "
    "documented, not hidden.)",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered DEMO mode: the salt ("dp") is public and true_count
    is kept, so the release is deterministic and auditable — the
    differential check verifies the mechanism's integer arithmetic,
    not a privacy property.  Production callers use
    :func:`dp_noisy_group_counts` with a secret salt."""
    docs = read_table(spark, sf_dir, "documents")
    grp = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    return _with_dp_noise(grp, ["lang", "source"], salt="dp").select(
        "lang",
        "source",
        "true_count",
        "noise",
        "noisy_count",
    )


def _with_dp_noise(
    grp: DataFrame, keys: list[str], *, salt: str, bits: int = _DP_BITS
) -> DataFrame:
    """Add (noise, noisy_count) discrete-Laplace columns to a counted
    group table ``grp`` (columns ``keys`` + ``true_count``).  The
    per-group seed is md5(k1 || '|' || ... || kn || '|' || salt ||
    tag) — F.concat, NOT concat_ws, so a NULL key NULL-propagates the
    seed exactly like the oracle's || operator (round-9 ADVICE)."""

    def geo(tag: str) -> Column:
        parts: list[Column] = []
        for k in keys:
            parts.append(F.col(k))
            parts.append(F.lit("|"))
        parts.append(F.lit(salt + tag))
        return leading_zero_rank(
            hex_long(F.md5(F.concat(*parts).cast("binary")), 6), bits
        )

    eta = (geo("1") - geo("2")).cast("long")
    return grp.select(
        "*",
        eta.alias("noise"),
        (F.col("true_count") + eta).alias("noisy_count"),
    )


def dp_noisy_group_counts(
    df: DataFrame,
    keys: list[str],
    *,
    salt: str,
    bits: int = _DP_BITS,
) -> DataFrame:
    """Epsilon = ln 2 discrete-Laplace count release over ``keys``.

    The noise seed is a keyed hash of (group key, ``salt``): the DP
    guarantee holds EXACTLY WHILE THE SALT STAYS SECRET — publish the
    salt (or reuse the registered demo's public one) and any reader
    can recompute eta and invert the release.  Unlike the registered
    demo, ``true_count`` is NOT emitted.  Reproducibility per
    (dataset, salt) is the feature: an auditable pipeline can re-run
    the release bit-identically without storing the noise."""
    grp = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    noisy = _with_dp_noise(grp, keys, salt=salt, bits=bits)
    return noisy.select(*keys, "noisy_count")

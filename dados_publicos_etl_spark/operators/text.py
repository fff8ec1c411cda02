"""Text-analysis operators over the ``documents`` table (north-star
extension; SURVEY.md §2.B "text analysis").

Everything is Catalyst expression form — tokenization, stats, the
language-ID heuristic and fingerprinting run JVM-side with no Python
in the row path, so they scale to 100 TB document corpora as a
narrow map over the scan (no shuffle except where aggregation is the
point, e.g. term frequencies).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.text import (
    WORD,
    WS,
    distinct_tokens,
    fingerprint_md5,
    tokens,
    word_count,
)
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.tmpstore import (
    open_table,
    session_artifact,
    write_table,
)


# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic.  Deterministic and SQL-replicable.  The
# heuristic's language set is exactly these four — a marker-based
# argmax only works for languages with distinctive high-frequency
# function words in Latin script; CJK et al. would need unicode
# script-range detection (count codepoints in CJK blocks) rather
# than more marker entries.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
}


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_text,
           CAST(len(string_split_regex(lower(text), '{WS}')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split_regex(lower(text), '{WS}'))) AS INT)
             AS n_distinct_tokens,
           CAST(len(regexp_extract_all(text, '{WORD}')) AS INT) AS n_words,
           ROUND(CAST(LENGTH(text) AS DOUBLE)
                 / len(string_split_regex(lower(text), '{WS}')), 4) AS avg_token_span,
           ROUND(CAST(len(list_distinct(string_split_regex(lower(text), '{WS}'))) AS DOUBLE)
                 / len(string_split_regex(lower(text), '{WS}')), 4) AS type_token_ratio
    FROM documents
    """,
    description="Per-document quality stats: char/token/word counts, "
    "type-token ratio (all narrow-map expressions).",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_distinct = F.size(distinct_tokens("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_text"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        word_count("text").alias("n_words"),
        F.round(F.length("text").cast("double") / n_tokens, 4).alias(
            "avg_token_span"
        ),
        F.round(n_distinct.cast("double") / n_tokens, 4).alias(
            "type_token_ratio"
        ),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '{WS}', ' ', 'g'))) AS fp_md5,
           CAST(LENGTH(trim(regexp_replace(lower(text), '{WS}', ' ', 'g'))) AS BIGINT)
             AS n_chars_norm
    FROM documents
    """,
    description="Deterministic document fingerprint: md5 over "
    "normalized text (dedup key; rolling-hash fingerprints are the "
    "simhash query).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    from dados_publicos_etl_spark.functions.text import normalized

    return docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp_md5"),
        F.length(normalized("text")).cast("long").alias("n_chars_norm"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = LANG_MARKERS[lang]
    hits = " + ".join(
        f"CASE WHEN list_contains(toks, '{m}') THEN 1 ELSE 0 END"
        for m in markers
    )
    return f"({hits})"


@query(
    "lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(string_split_regex(lower(text), '{WS}')) AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('fr')} AS s_fr,
             {_lang_score_sql('de')} AS s_de
      FROM t
    )
    SELECT doc_id, lang,
           CASE
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
             WHEN s_fr >= s_de THEN 'fr'
             ELSE 'de'
           END AS predicted_lang
    FROM scored
    """,
    description="Stopword-marker language-ID heuristic (deterministic "
    "argmax with fixed tie-break order en>es>fr>de).",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = distinct_tokens("text")
    scores = {}
    for lang in ("en", "es", "fr", "de"):
        score = None
        for m in LANG_MARKERS[lang]:
            hit = F.when(F.array_contains(toks, m), 1).otherwise(0)
            score = hit if score is None else score + hit
        scores[lang] = score
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["de"]),
            "en",
        )
        .when(
            (scores["es"] >= scores["fr"]) & (scores["es"] >= scores["de"]),
            "es",
        )
        .when(scores["fr"] >= scores["de"], "fr")
        .otherwise("de")
    )
    return docs.select("doc_id", "lang", pred.alias("predicted_lang"))


@query(
    "term_frequency",
    oracle=f"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split_regex(lower(text), '{WS}')) AS token
          FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
    description="Corpus term frequencies: tokenize -> explode -> "
    "count -> top-k (partial agg before the shuffle keeps the "
    "explode local).",
)
def term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TF-IDF and quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "and", "of", "a", "to")


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '{WS}')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tfidf FROM (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4)
               AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4)
                        DESC, tf.term) AS rn
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      WHERE tf.doc_id < 50)
    WHERE rn <= 5
    """,
    description="TF-IDF: term frequencies join smoothed document "
    "frequencies (broadcast — the vocabulary is small relative to the "
    "corpus), top-5 terms per doc for a bounded doc sample.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar job; the corpus count is one number
    tfidf = F.round(
        F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0), 4
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.filter(F.col("doc_id") < 50)
        .join(F.broadcast(df_), "term")
        .select("doc_id", "term", tfidf.alias("tfidf"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "doc_quality_pandas_udf",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
               AS n_punct,
             CAST(len(string_split_regex(lower(text), '{WS}')) AS DOUBLE)
               AS n_tokens,
             CAST(len(list_filter(string_split_regex(lower(text), '{WS}'),
                      x -> list_contains(['the','and','of','a','to'], x)))
               AS DOUBLE) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           ROUND(0.5 * LEAST(n_chars / 500.0, 1.0)
                 + 0.3 * (1.0 - n_punct / n_chars)
                 + 0.2 * (n_stop / n_tokens), 4) AS quality
    FROM t
    """,
    description="Quality scoring via a vectorized scalar pandas_udf "
    "(Arrow-batched): length, punctuation and stopword ratios folded "
    "into one score — the per-row math mirrors the oracle exactly.",
)
def doc_quality_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    import pandas as pd

    stop = set(STOPWORDS)
    punct_re = _re.compile(r"[^A-Za-z0-9\s]")
    ws_re = _re.compile(WS)

    def _quality(text):
        import numpy as np

        n_chars = text.str.len().astype("float64")
        n_punct = text.map(lambda s: len(punct_re.findall(s))).astype("float64")
        toks = text.str.lower().map(ws_re.split)
        n_tokens = toks.map(len).astype("float64")
        n_stop = toks.map(lambda ts: sum(1 for t in ts if t in stop)).astype(
            "float64"
        )
        score = (
            0.5 * np.minimum(n_chars / 500.0, 1.0)
            + 0.3 * (1.0 - n_punct / n_chars)
            + 0.2 * (n_stop / n_tokens)
        )
        return pd.Series(np.trunc(score * 1e4 + np.copysign(0.5, score)) / 1e4)

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf's signature inference can't resolve — attach real
    # annotation objects instead.
    _quality.__annotations__ = {"text": pd.Series, "return": pd.Series}
    quality = F.pandas_udf(_quality, "double")

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality(F.col("text")).alias("quality"))


# GPT-2-style pretokenizer classes, minus lookarounds so the SAME
# pattern runs on Spark (java.util.regex) and DuckDB (RE2): a token
# is an optionally-space-prefixed letter run, digit run, or
# punctuation run.  Subword (BPE) token counts are ~= pretoken
# count x a per-language constant, so this is the standard cheap
# estimator for "how many LLM tokens is this corpus" at 100 TB —
# a narrow map expression, no UDF, no vocabulary broadcast.
_BPE_ISH = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


@query(
    "token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_ISH}'))
                AS INT) AS n_bpe_tokens,
           CAST(len(string_split_regex(lower(text), '{WS}')) AS INT)
             AS n_ws_tokens
    FROM documents
    """,
    description="BPE-ish token counting: GPT-2-style pretokenizer "
    "regex (letter/digit/punct runs, space-prefixed) next to the "
    "whitespace count — the LLM-budget estimator as a pure "
    "expression.",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        # regexp_count, not size(regexp_extract_all(...)): counting
        # must not materialize the match array (measured 1.8s -> map
        # cost only at sf0.1).  DuckDB has no regexp_count, so the
        # oracle keeps the len(regexp_extract_all()) form.
        F.regexp_count(F.lower("text"), F.lit(_BPE_ISH))
        .cast("int")
        .alias("n_bpe_tokens"),
        F.size(tokens("text")).alias("n_ws_tokens"),
    )


@query(
    "char_entropy_quality",
    oracle="""
    WITH c AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chars,
           CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_alphabet,
           ROUND(entropy(ch), 4) AS char_entropy
    FROM c GROUP BY doc_id
    """,
    description="Character-distribution Shannon entropy per document "
    "(base-2) — the classic cheap quality/garbage signal: binary "
    "junk and repeated-character spam score far from natural text's "
    "~4.2 bits/char.  Computed in ONE Arrow-batched pandas pass as a "
    "narrow map (numpy bincount per doc, no explode, no shuffle) — "
    "the oracle's unnest-per-character GROUP BY shape would shuffle "
    "a row per BYTE at 100 TB; the map-side histogram never leaves "
    "the scan stage.",
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def ent(batches):
        for pdf in batches:
            ns, alphas, hs = [], [], []
            for t in pdf["text"]:
                # per-codepoint histogram; bincount over ordinals is
                # the vectorized form of the oracle's GROUP BY ch
                codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
                counts = np.bincount(codes) if len(codes) else np.array([])
                counts = counts[counts > 0]
                p = counts / counts.sum() if len(counts) else counts
                ns.append(len(codes))
                alphas.append(len(counts))
                hs.append(
                    float(-(p * np.log2(p)).sum()) if len(codes) else 0.0
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_chars": ns,
                    "n_alphabet": alphas,
                    "h": hs,
                }
            )

    docs = read_table(spark, sf_dir, "documents")
    s = docs.select("doc_id", "text").mapInPandas(
        ent, schema="doc_id long, n_chars long, n_alphabet long, h double"
    )
    return s.select(
        "doc_id",
        "n_chars",
        "n_alphabet",
        F.round(F.col("h"), 4).alias("char_entropy"),
    )


@query(
    "pmi_collocations",
    oracle="""
    WITH tt AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
      FROM tt
    ),
    bgc AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS cnt
            FROM bg GROUP BY p.w1, p.w2),
    n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM bgc),
    uni1 AS (SELECT w1, SUM(cnt) AS c1 FROM bgc GROUP BY w1),
    uni2 AS (SELECT w2, SUM(cnt) AS c2 FROM bgc GROUP BY w2)
    SELECT b.w1, b.w2, CAST(b.cnt AS BIGINT) AS cnt,
           ROUND(ln((b.cnt * n.total) / (u1.c1 * u2.c2)), 4) AS pmi
    FROM bgc b
    JOIN uni1 u1 ON b.w1 = u1.w1
    JOIN uni2 u2 ON b.w2 = u2.w2
    CROSS JOIN n
    WHERE b.cnt >= 5
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 25
    """,
    description="Collocation mining by pointwise mutual information: "
    "adjacent-token bigram counts (built in-row, no self-join), "
    "PMI = ln(p(w1,w2)/(p(w1)p(w2))) with a min-count support "
    "filter, top-25.  Two hash aggregates over the bigram table + "
    "broadcast marginals — vocabulary-bounded state at any corpus "
    "size; the classic phrase-detection pass before tokenizer "
    "training.",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("toks"))
    # size guard: sequence(1, 0) DESCENDS in Spark ([1, 0]) and the
    # out-of-bounds element_at throws under ANSI — a 1-token document
    # must yield NO bigrams, exactly like DuckDB's empty
    # generate_series(1, 0)
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(1, size(toks) - 1), "
        "i -> named_struct('w1', element_at(toks, i), "
        "'w2', element_at(toks, i + 1))) "
        "ELSE array() END"
    )
    bgc = (
        toks.select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # three downstream consumers, one agg job
    )
    # no bigram (an empty corpus): the sum is NULL and no row survives
    total = float(
        bgc.agg(F.sum("cnt").alias("t")).collect()[0]["t"] or 0
    )
    uni1 = bgc.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    uni2 = bgc.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    return (
        bgc.filter(F.col("cnt") >= 5)
        .join(F.broadcast(uni1), "w1")
        .join(F.broadcast(uni2), "w2")
        .select(
            "w1",
            "w2",
            "cnt",
            F.round(
                F.log((F.col("cnt") * F.lit(total)) / (F.col("c1") * F.col("c2"))),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )


@query(
    "unicode_nfc_normalize",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             text || ' cafe' || chr(769) || ' A' || chr(778)
                  || chr(64257) || 'nal #' || CAST(doc_id AS STRING)
               AS raw
      FROM documents
    )
    SELECT doc_id,
           md5(nfc_normalize(raw)) AS nfc_md5,
           CAST(LENGTH(nfc_normalize(raw)) AS BIGINT) AS n_cp_nfc,
           CAST(LENGTH(raw) AS BIGINT) AS n_cp_raw
    FROM planted
    """,
    description="Unicode NFC normalization — the canonical-form pass "
    "a multilingual corpus needs before dedup/tokenization (the SAME "
    "text in composed vs decomposed form would hash differently and "
    "escape exact dedup).  Decomposed sequences (combining acute, "
    "ring) are planted per doc on both sides; Spark normalizes via "
    "one Arrow pass (unicodedata NFC), the oracle via DuckDB's "
    "nfc_normalize — md5 equality proves the two Unicode "
    "implementations agree codepoint-for-codepoint; the codepoint "
    "counts expose the composition (raw > nfc).",
)
def unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = read_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            # decomposed forms, explicit escapes (an editor
            # NFC-normalizing this file must not change the plant):
            # "cafe" + U+0301, "A" + U+030A, U+FB01 ligature
            F.lit(" cafe\u0301 A\u030a\ufb01nal #"),
            F.col("doc_id").cast("string"),
        ).alias("raw"),
    )

    def norm(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf["nfc"] = pdf["raw"].map(
                lambda s: unicodedata.normalize("NFC", s)
            )
            yield pdf

    out = planted.mapInPandas(
        norm, schema="doc_id long, raw string, nfc string"
    )
    return out.select(
        "doc_id",
        F.md5("nfc").alias("nfc_md5"),
        F.length("nfc").cast("long").alias("n_cp_nfc"),
        F.length("raw").cast("long").alias("n_cp_raw"),
    )


@query(
    "inverted_index_build",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '{WS}')) AS term
      FROM documents
    ), tf AS (
      SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf
      FROM tok GROUP BY term, doc_id
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(list(doc_id ORDER BY tf DESC, doc_id)[1:5], ',')
             AS top_postings
    FROM tf GROUP BY term
    HAVING COUNT(*) >= 50
    """,
    description="Inverted-index construction (the IR/search shape): "
    "tokenize -> per-(term, doc) tf -> per-term posting lists "
    "ordered by tf (truncated to the top-5 postings for the "
    "impact-ordered index head; full lists would just be the same "
    "collect without the slice).  Two hash aggregates, both "
    "map-side combinable; per-term state is the posting list — at "
    "100 TB postings write as parquet partitioned by term prefix "
    "and the HAVING floor drops the hapax tail that dominates "
    "vocabulary size.",
)
def inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("tf")
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.array_join(
                F.slice(
                    F.expr(
                        "transform(array_sort(collect_list(struct(-tf AS ntf,"
                        " doc_id))), x -> x.doc_id)"
                    ),
                    1,
                    5,
                ),
                ",",
            ).alias("top_postings"),
        )
        .filter(F.col("doc_freq") >= 50)
    )


@query(
    "lexical_logodds_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(lower(text), '{WS}')) AS term
      FROM documents WHERE lang IN ('en', 'de')
    ), c AS (
      SELECT term,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS b
      FROM tok GROUP BY term
    ), tot AS (
      SELECT CAST(SUM(a) AS DOUBLE) AS na, CAST(SUM(b) AS DOUBLE) AS nb,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM c
    )
    SELECT term, CAST(a AS BIGINT) AS cnt_en, CAST(b AS BIGINT) AS cnt_de,
           ROUND(ln((a + 0.5) / (tot.na - a + tot.v * 0.5))
                 - ln((b + 0.5) / (tot.nb - b + tot.v * 0.5)), 4)
             AS log_odds
    FROM c CROSS JOIN tot
    WHERE a + b >= 30
    ORDER BY log_odds DESC, term
    LIMIT 20
    """,
    description="Corpus-comparison lexical divergence: per-term "
    "log-odds ratio with a Dirichlet(0.5) prior (Monroe et al.'s "
    "'fightin' words' statistic) between the en and de slices — "
    "which terms characterize one sub-corpus against another, the "
    "standard audit when merging corpus sources or debugging a "
    "contaminated language split.  One conditional aggregate over "
    "the exploded tokens + scalar totals; vocabulary-bounded state.",
)
def lexical_logodds_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de")
    )
    tok = docs.select("lang", F.explode(tokens("text")).alias("term"))
    c = tok.groupBy("term").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("b"),
    )
    tot = c.agg(
        F.sum("a").cast("double").alias("na"),
        F.sum("b").cast("double").alias("nb"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    lo = F.log(
        (F.col("a") + 0.5) / (F.col("na") - F.col("a") + F.col("v") * 0.5)
    ) - F.log(
        (F.col("b") + 0.5) / (F.col("nb") - F.col("b") + F.col("v") * 0.5)
    )
    return (
        c.filter(F.col("a") + F.col("b") >= 30)
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.col("a").alias("cnt_en"),
            F.col("b").alias("cnt_de"),
            F.round(lo, 4).alias("log_odds"),
        )
        .orderBy(F.desc("log_odds"), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (merge-rule learning at corpus scale)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6

def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (word, freq, char-seq) vocab: the only corpus-scale stage
    of BPE training, a session artifact so repeat invocations pay
    only the merge rounds."""

    def build(workdir: str):
        docs = read_table(spark, sf_dir, "documents")
        words = docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("word")
        )
        vocab = (
            words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(
                "word",
                "freq",
                F.array_join(F.split("word", ""), " ").alias("seq"),
            )
        )
        return write_table(vocab, f"{workdir}/vocab")

    return open_table(spark, session_artifact("bpe_vocab", sf_dir, build))


def _bpe_cte_chain() -> str:
    """The BPE merge recurrence unrolled into a CTE chain (same
    precedent as the PageRank oracle): each round counts adjacent
    symbol pairs over the CURRENT vocab segmentation, picks the
    (count DESC, pair ASC) argmax, and rewrites every word's
    segmentation with the double-space boundary-safe replace that
    exactly reproduces greedy left-to-right BPE merging.  Shared by
    the training oracle (reads m1..mR) and the encoding oracle
    (reads the final segmentation wR)."""
    parts = ["""
    WITH w0 AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             array_to_string(string_split(word, ''), ' ') AS seq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
            AS word FROM documents)
      GROUP BY word
    )"""]
    for r in range(1, _BPE_ROUNDS + 1):
        prev = f"w{r - 1}"
        parts.append(f""",
    p{r} AS (
      SELECT u.p[1] AS a, u.p[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, string_split(seq, ' ') AS toks FROM {prev}) s,
           (SELECT unnest(list_zip(s.toks[1:len(s.toks)-1],
                                   s.toks[2:len(s.toks)])) AS p) u
      GROUP BY a, b
    ),
    m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    w{r} AS (
      SELECT word, freq,
             trim(regexp_replace(
               replace(' ' || replace(seq, ' ', '  ') || ' ',
                       ' ' || m.a || '  ' || m.b || ' ',
                       ' ' || m.a || m.b || ' '),
               ' +', ' ', 'g')) AS seq
      FROM {prev} CROSS JOIN m{r} m
    )""")
    return "".join(parts)


def _bpe_oracle() -> str:
    sel = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a || ' ' || b AS pair, "
        f"a || b AS new_token, cnt AS pair_count FROM m{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return (
        _bpe_cte_chain()
        + f"\n    SELECT CAST(merge_rank AS INT) AS merge_rank, pair, "
        f"new_token, pair_count FROM ({sel}) ORDER BY merge_rank"
    )


def _bpe_encode_oracle() -> str:
    return (
        _bpe_cte_chain()
        + f""",
    dw AS (
      SELECT source, doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS word
      FROM documents
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(w.seq, ' '))) AS BIGINT)
             AS n_bpe_tokens
    FROM dw JOIN w{_BPE_ROUNDS} w USING (word)
    GROUP BY source
    """
    )


@query(
    "bpe_train_merges",
    oracle=_bpe_oracle(),
    description=f"BPE tokenizer TRAINING at corpus scale: learn the "
    f"first {_BPE_ROUNDS} merge rules over the corpus vocabulary — "
    "each round one pair-count aggregate over the (distinct-word, "
    "frequency) table, a 1-row argmax collected to the driver "
    "(O(1) scalar, the same pattern as PageRank's node count), and "
    "a boundary-safe segmentation rewrite pushed back down as a "
    "Catalyst string expression.  The corpus reduces to its VOCAB "
    "after one shuffle (freq-weighted pair counts make word "
    "multiplicity free), so round cost scales with distinct words, "
    "not tokens — the property that makes BPE training feasible at "
    "100 TB.  Oracle: the recurrence unrolled into CTEs; the "
    "double-space replace trick reproduces greedy left-to-right "
    "merging exactly (pytest pins it against a canonical pure-"
    "Python BPE).",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE merges: vocab = word->freq (one GROUP BY), then per
    round: explode adjacent symbol pairs of each word's current
    segmentation weighted by freq, argmax (count DESC, pair ASC),
    rewrite segmentations.  The rewrite pads token boundaries with
    doubled spaces so ' a  b ' matches are non-overlapping BUT
    adjacent merge sites each keep their own boundary space —
    replace() left-to-right semantics then equals canonical greedy
    BPE ('a a a a' -> 'aa aa', 'a a a' -> 'aa a')."""
    merges, _final = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, pair string, new_token string, "
        "pair_count bigint",
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the merge-learning loop; returns (merges, final vocab DF
    with the post-merge segmentation).  Training is deterministic per
    corpus, so both are a session artifact."""
    merges, table = session_artifact(
        "bpe_final", sf_dir, partial(_run_bpe_merges, spark, sf_dir)
    )
    return merges, open_table(spark, table)


def _run_bpe_merges(spark: SparkSession, sf_dir: str, workdir: str):
    vocab = _bpe_vocab(spark, sf_dir)
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        s = vocab.select("freq", F.split("seq", " ").alias("toks"))
        n1 = F.size("toks") - 1
        pairs = s.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n1),
                    F.slice("toks", 2, n1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(
                F.col("p.a").alias("a"), F.col("p.b").alias("b")
            )
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((r, f"{a} {b}", a + b, cnt))
        padded = F.concat(
            F.lit(" "),
            F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        vocab = vocab.select(
            "word",
            "freq",
            F.trim(
                F.regexp_replace(
                    F.replace(
                        padded,
                        F.lit(f" {a}  {b} "),
                        F.lit(f" {a}{b} "),
                    ),
                    " +",
                    " ",
                )
            ).alias("seq"),
        ).localCheckpoint()
    return merges, write_table(vocab, f"{workdir}/final")


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (Gopher-style repetitiveness filter)
# ---------------------------------------------------------------------------

# Gopher-style keep band: below the floor the text is pathologically
# repetitive (compresses too well); above the ceiling it is
# noise-like (low redundancy for its length — random ASCII tops out
# near 0.76, natural language sits around 0.3-0.5).  The band only
# means anything once the document is long enough that DEFLATE's
# fixed overhead (~tens of bytes) stops dominating the ratio — short
# docs pass through unflagged.
_ZRATIO_LO, _ZRATIO_HI = 0.25, 0.70
_ZRATIO_MIN_BYTES = 500


@query(
    "compression_ratio_quality",
    oracle=None,
    rows_only_reason="zlib DEFLATE is not SQL-expressible; the "
    "output is deterministic for a fixed zlib level, so it is "
    "golden-pinned (tests/golden) and property-tested (planted "
    "repetitive vs noise docs land on the correct side of the band)",
    description="Compression-ratio quality signal: per-document "
    "DEFLATE ratio (zlib level 6) as the cheap, language-agnostic "
    "repetitiveness/noise detector used by large-corpus quality "
    "pipelines — highly repetitive text compresses far below the "
    f"natural-language band ([{_ZRATIO_LO}, {_ZRATIO_HI}]), random "
    "noise sits above it; documents under "
    f"{_ZRATIO_MIN_BYTES} bytes pass unflagged (DEFLATE overhead "
    "dominates their ratio).  One Arrow mapInPandas pass (narrow, "
    "no shuffle): compressing a few KB per document is the cheapest "
    "whole-document signal there is, and it needs no model or "
    "vocabulary.",
)
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio + keep flag; Arrow-batched."""
    import pandas as pd

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def comp(batches):
        import zlib

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            n_raw = [len(b) for b in raw]
            n_comp = [len(zlib.compress(b, 6)) for b in raw]
            ratio = [
                round(c / r, 6) if r else 1.0
                for c, r in zip(n_comp, n_raw)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.Series(n_raw, dtype="int64"),
                    "n_compressed": pd.Series(n_comp, dtype="int64"),
                    "ratio": pd.Series(ratio, dtype="float64"),
                    "keep": pd.Series(
                        [
                            n < _ZRATIO_MIN_BYTES
                            or _ZRATIO_LO <= x <= _ZRATIO_HI
                            for n, x in zip(n_raw, ratio)
                        ],
                        dtype="bool",
                    ),
                }
            )

    return docs.mapInPandas(
        comp,
        "doc_id long, n_bytes long, n_compressed long, "
        "ratio double, keep boolean",
    )


@query(
    "bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    description="Tokenizer APPLICATION completing the BPE story: "
    "encode the corpus under the learned merge table and count BPE "
    "tokens per source — the token-budget accounting every training-"
    "data pipeline runs after tokenizer training.  The encoder "
    "never re-segments documents: each document word joins the "
    "BROADCAST final vocab segmentation (train once per corpus, "
    "session-cached), so encoding is one explode + one broadcast "
    "join + one partial-aggregated GROUP BY at any corpus size.  "
    "Oracle: the training CTE chain extended with the corpus join.",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, final_vocab = _bpe_train(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    dw = docs.select(
        "source",
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    vocab_tokens = final_vocab.select(
        "word", F.size(F.split("seq", " ")).alias("n_tok")
    )
    return (
        dw.join(F.broadcast(vocab_tokens), "word")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary overlap between sources (pairwise Jaccard matrix)
# ---------------------------------------------------------------------------


@query(
    "source_vocab_jaccard",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT source,
             unnest(string_split_regex(lower(text), '{WS}')) AS term
      FROM documents
    ), sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM vocab GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM vocab a JOIN vocab b
        ON a.term = b.term AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           sa.n_terms AS n_a, sb.n_terms AS n_b, i.n_inter,
           ROUND(CAST(i.n_inter AS DOUBLE)
                 / (sa.n_terms + sb.n_terms - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    """,
    description="Pairwise vocabulary Jaccard between sources — the "
    "corpus-diversity screen (which domains write in the same "
    "register?).  The corpus collapses to a distinct (source, term) "
    "table first (one hash aggregate; vocabulary is sublinear in "
    "corpus size), pairs align on TERM with a self equi-join "
    "(a.source < b.source) so the intersection count is a hash "
    "aggregate over matched terms — never a source x source x "
    "vocabulary cross product — and union sizes come from "
    "inclusion-exclusion on the tiny per-source size table "
    "(broadcast).  |sources|^2/2 output rows at any corpus scale.",
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    vocab = docs.select(
        "source", F.explode(tokens("text")).alias("term")
    ).distinct().localCheckpoint(eager=False)
    # ^ three consumers (sizes + both pair-join sides) would re-plan
    # the tokenize/explode/distinct subtree each (r10 subtree audit);
    # the checkpoint caches the |sources x vocab| table once.
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms")
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_terms").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_terms").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit over the term-frequency distribution
# ---------------------------------------------------------------------------

_ZIPF_TOP = 500


@query(
    "zipf_slope_fit",
    oracle=f"""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '{WS}'))
              AS token FROM documents)
      GROUP BY token
    ), ranked AS (
      SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token)
                     AS DOUBLE)) AS x,
             LN(CAST(freq AS DOUBLE)) AS y
      FROM tf
      ORDER BY freq DESC, token
      LIMIT {_ZIPF_TOP}
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(x), 9) AS sx, ROUND(SUM(y), 9) AS sy,
             ROUND(SUM(x * x), 9) AS sxx, ROUND(SUM(x * y), 9) AS sxy,
             ROUND(SUM(y * y), 9) AS syy
      FROM ranked
    )
    SELECT n AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept,
           ROUND(POWER(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS r2
    FROM m
    """,
    description=f"Zipf's-law fit: OLS regression of ln(freq) on "
    f"ln(rank) over the top-{_ZIPF_TOP} corpus terms — natural "
    "language sits near slope -1, so the slope is a corpus-health "
    "diagnostic (templated/boilerplate corpora flatten it, OCR "
    "noise steepens the tail).  One term-frequency aggregate, one "
    "TakeOrdered top-k (the only data-wide work), then the "
    "regression closes over a 500-row table: moment sums are "
    "ROUNDED AT 1e-9 on both engines before the closed-form "
    "slope/intercept/r2, absorbing partial-aggregation float "
    "reorder while pinning 6-decimal outputs.",
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(_ZIPF_TOP)
    )
    from pyspark.sql import Window as W

    ranked = tf.select(
        F.log(
            F.row_number()
            .over(W.orderBy(F.desc("freq"), F.asc("token")))
            .cast("double")
        ).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("x"), 9).alias("sx"),
        F.round(F.sum("y"), 9).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 9).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 9).alias("sxy"),
        F.round(F.sum(F.col("y") * F.col("y")), 9).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_NQ = 3    # query = the 3 highest-df terms (deterministic)
_BM25_TOPK = 20


@query(
    "bm25_topk",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '{WS}')) AS term
      FROM documents
    ), dl AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM toks GROUP BY 1
    ), corp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS MATERIALIZED (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), q AS (
      SELECT term, df FROM df ORDER BY df DESC, term LIMIT {_BM25_NQ}
    ), contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(((SELECT n FROM corp) - q.df + 0.5) / (q.df + 0.5) + 1.0)
             * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                + {_BM25_B} * dl.len / (SELECT avgdl FROM corp))) AS c
      FROM tf
      JOIN q ON tf.term = q.term
      JOIN dl ON tf.doc_id = dl.doc_id
    ), scored AS (
      SELECT doc_id,
             list_sum(list(c ORDER BY term)) AS score
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, ROUND(score, 6) AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
    """,
    description=f"BM25 ranked retrieval (k1={_BM25_K1}, b={_BM25_B}): "
    f"top-{_BM25_TOPK} documents for the deterministic "
    f"{_BM25_NQ}-term query (the corpus's highest-df terms), with "
    "the Robertson idf (+1 smoothing, always positive) and document-"
    "length normalization — the retrieval scorer behind search-based "
    "dedup and contamination checks.  Spark-first: tf and df are the "
    "same partial-aggregated term tables the TF-IDF and inverted-"
    "index operators build; the query terms come from a TakeOrdered "
    "top-3 over the vocabulary (never a global sort); per-doc scores "
    "fold the <= 3 contributions in SORTED TERM ORDER on both "
    "engines, so the float sum has one IEEE evaluation order and "
    "the differential check is exact.  Corpus stats (N, avgdl) are "
    "one scalar broadcast.",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    corp = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("len").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = (
        df.orderBy(F.desc("df"), "term")
        .limit(_BM25_NQ)
        .select(F.col("term").alias("q_term"), F.col("df").alias("q_df"))
    )
    contrib = (
        tf.join(F.broadcast(q), tf.term == F.col("q_term"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corp))
        .select(
            "doc_id",
            "term",
            (
                F.log(
                    ((F.col("n") - F.col("q_df") + 0.5) / (F.col("q_df") + 0.5))
                    + 1.0
                )
                * F.col("tf")
                * (_BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (
                        1.0
                        - _BM25_B
                        + _BM25_B * F.col("len") / F.col("avgdl")
                    )
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("score")
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Flesch readability scoring
# ---------------------------------------------------------------------------


@query(
    "readability_flesch",
    oracle="""
    WITH counts AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_words,
             CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(GREATEST(len(regexp_extract_all(lower(text),
                  '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
                 4) AS flesch
    FROM counts
    WHERE n_words > 0
    """,
    description="Flesch reading-ease scoring per document — the "
    "classic text-quality heuristic (its grade-level siblings gate "
    "web corpora for training mixes): word count, sentence count "
    "([.!?]+ runs), and the standard vowel-group syllable "
    "approximation, all exact regexp counts identical on both "
    "engines, combined by the published formula.  Narrow map over "
    "the scan — no shuffle at all; the whole operator whole-stage-"
    "codegens into the parquet read.",
)
def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit("[a-z0-9]+"))
        .cast("long")
        .alias("n_words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("n_sentences"),
        F.greatest(
            F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
        )
        .cast("long")
        .alias("n_syllables"),
    )
    return counts.filter(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - 84.6 * (F.col("n_syllables").cast("double") / F.col("n_words")),
            4,
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (the eval report on the lang_id gate)
# ---------------------------------------------------------------------------


_LID_PLANT = {"en": "the and", "es": "el la", "fr": "le et",
              "de": "der und"}  # two markers per plantable language

_LID_PLANT_SQL = " ".join(
    f"WHEN '{k}' THEN ' {v}'" for k, v in _LID_PLANT.items()
)


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, lang,
             text || (CASE WHEN doc_id % 10 < 8
                           THEN (CASE lang {_LID_PLANT_SQL} ELSE '' END)
                           ELSE '' END) AS synth
      FROM documents
    ), t AS (
      SELECT doc_id, lang,
             list_distinct(string_split_regex(lower(synth), '{WS}')) AS toks
      FROM planted
    ), scored AS (
      SELECT doc_id, lang,
             {{s_en}} AS s_en, {{s_es}} AS s_es,
             {{s_fr}} AS s_fr, {{s_de}} AS s_de
      FROM t
    ), pred AS (
      SELECT lang AS true_lang,
             CASE
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
               WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
               WHEN s_fr >= s_de THEN 'fr'
               ELSE 'de'
             END AS predicted_lang
      FROM scored
    )
    SELECT true_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           (true_lang = predicted_lang) AS correct
    FROM pred GROUP BY true_lang, predicted_lang
    """.format(
        s_en=_lang_score_sql("en"),
        s_es=_lang_score_sql("es"),
        s_fr=_lang_score_sql("fr"),
        s_de=_lang_score_sql("de"),
    ),
    description="Language-ID confusion matrix: the eval report on "
    "the lang_id marker heuristic.  The synthetic corpus draws all "
    "languages from one vocabulary, so (like nb_classifier's "
    "planted class token) language markers are planted on 80% of "
    "docs to give the heuristic organic-like signal; the matrix "
    "then shows exactly what a pipeline needs to know before "
    "trusting cheap routing — planted docs route correctly, the "
    "unplanted 20% fall to the tie-break default, and zh (no Latin "
    "markers) lands entirely in 'en': the blind spot is VISIBLE, "
    "not hidden.  One narrow map + one constant-size hash "
    "aggregate: |langs|^2 output rows at any corpus scale.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    plant = F.when(F.lit(False), "")
    for k, v in _LID_PLANT.items():
        plant = plant.when(F.col("lang") == k, " " + v)
    synth = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 10 < 8, plant.otherwise("")).otherwise(""),
    )
    toks = F.array_distinct(F.split(F.lower(synth), WS))
    scores = {}
    for lang in ("en", "es", "fr", "de"):
        score = None
        for m in LANG_MARKERS[lang]:
            hit = F.when(F.array_contains(toks, m), 1).otherwise(0)
            score = hit if score is None else score + hit
        scores[lang] = score
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["de"]),
            "en",
        )
        .when(
            (scores["es"] >= scores["fr"]) & (scores["es"] >= scores["de"]),
            "es",
        )
        .when(scores["fr"] >= scores["de"], "fr")
        .otherwise("de")
    )
    return (
        docs.select(F.col("lang").alias("true_lang"), pred.alias(
            "predicted_lang"))
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "true_lang",
            "predicted_lang",
            "n_docs",
            (F.col("true_lang") == F.col("predicted_lang")).alias(
                "correct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer round-trip audit (BPE encode -> decode == input)
# ---------------------------------------------------------------------------


def _bpe_roundtrip_oracle() -> str:
    return (
        _bpe_cte_chain()
        + f""",
    dw AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS word
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN replace(w.seq, ' ', '') <> word
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_roundtrip_fail,
           CAST(SUM(CASE WHEN w.seq = word THEN 1 ELSE 0 END)
                AS BIGINT) AS n_single_token
    FROM dw JOIN w{_BPE_ROUNDS} w USING (word)
    GROUP BY source
    """
    )


@query(
    "tokenizer_roundtrip_audit",
    oracle=_bpe_roundtrip_oracle(),
    description="Tokenizer LOSSLESSNESS audit: every corpus word is "
    "encoded under the learned BPE segmentation and DECODED back "
    "(concatenate the token pieces); the per-source report counts "
    "round-trip failures — the invariant a tokenizer swap must hold "
    "before any token-budget number downstream can be trusted "
    "(n_roundtrip_fail must be 0 by construction of BPE merges, and "
    "the audit PROVES it corpus-wide rather than assuming it; "
    "n_single_token additionally reports how much of the corpus the "
    "vocabulary already covers whole).  Same scale shape as "
    "bpe_encode_corpus: the segmentation table broadcasts, the scan "
    "side is one explode + one broadcast join + one "
    "partial-aggregated GROUP BY.",
)
def tokenizer_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, final_vocab = _bpe_train(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    dw = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    vocab = final_vocab.select(
        "word",
        (F.regexp_replace("seq", " ", "") != F.col("word")).alias("fail"),
        (F.col("seq") == F.col("word")).alias("single"),
    )
    return (
        dw.join(F.broadcast(vocab), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.col("fail").cast("int")).cast("long").alias(
                "n_roundtrip_fail"
            ),
            F.sum(F.col("single").cast("int")).cast("long").alias(
                "n_single_token"
            ),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (corpus-level, exact integer scores)
# ---------------------------------------------------------------------------

_RAKE_STOPS = ("the", "a", "of", "and")  # the repo's stopword set
_RAKE_SPLIT = r"\b(?:" + "|".join(_RAKE_STOPS) + r")\b"
_RAKE_TOPK = 20
_RAKE_SCALE = 1_000_000


@query(
    "rake_keyword_extraction",
    oracle=rf"""
    WITH phrases_raw AS (
      SELECT unnest(regexp_split_to_array(lower(text),
                                          '{_RAKE_SPLIT}')) AS p
      FROM documents
    ), phrases AS (
      SELECT trim(regexp_replace(p, '\s+', ' ', 'g')) AS phrase
      FROM phrases_raw
      WHERE trim(regexp_replace(p, '\s+', ' ', 'g')) <> ''
    ), occ AS (
      SELECT phrase,
             string_split(phrase, ' ') AS ws,
             len(string_split(phrase, ' ')) AS k
      FROM phrases
    ), wordstat AS (
      SELECT w AS word,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(k) AS BIGINT) AS degree
      FROM (SELECT unnest(ws) AS w, k FROM occ)
      GROUP BY w
    ), wscore AS (
      SELECT word, (degree * {_RAKE_SCALE}) // freq AS s
      FROM wordstat
    ), dphrase AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM occ GROUP BY phrase
    ), pscore AS (
      SELECT d.phrase, d.n_occurrences,
             CAST(SUM(ws.s) AS BIGINT) AS score_ppm
      FROM dphrase d,
           UNNEST(string_split(d.phrase, ' ')) AS u(w)
      JOIN wscore ws ON ws.word = u.w
      GROUP BY d.phrase, d.n_occurrences
    )
    SELECT phrase, n_occurrences, score_ppm
    FROM pscore
    ORDER BY score_ppm DESC, phrase
    LIMIT {_RAKE_TOPK}
    """,
    description="RAKE keyword extraction (Rose et al. 2010) over the "
    "corpus: candidate phrases are the maximal stopword-free token "
    "runs (split at the stopword boundaries — one regex split, no "
    "NLP model), each word scores degree/frequency over the phrase "
    "co-occurrence graph, and a phrase scores the sum of its member "
    "word scores — the zero-shot keyphrase surfacer behind corpus "
    "topic triage.  Exactness discipline: word scores integerize as "
    f"(degree * {_RAKE_SCALE}) // freq (integer division, no float "
    "ratio), so phrase scores are exact integer sums with no "
    "accumulation order — the bm25 fold problem solved by staying "
    "integral.  Scale shape: one regex-split scan, one word-stat "
    "hash aggregate (vocabulary-bounded), scores broadcast back "
    "onto DISTINCT phrases, TakeOrdered top-k — no data-scale sort.",
)
def rake_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    phrases = (
        docs.select(
            F.explode(
                F.split(F.lower("text"), _RAKE_SPLIT)
            ).alias("p")
        )
        .select(
            F.trim(F.regexp_replace("p", r"\s+", " ")).alias("phrase")
        )
        .filter(F.col("phrase") != "")
    )
    occ = phrases.select(
        "phrase",
        F.split("phrase", " ").alias("ws"),
        F.size(F.split("phrase", " ")).alias("k"),
    )
    wordstat = (
        occ.select(F.explode("ws").alias("word"), "k")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("k").alias("degree"),
        )
    )
    wscore = wordstat.select(
        "word",
        F.expr(f"(degree * {_RAKE_SCALE}) div freq").alias("s"),
    )
    dphrase = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    pscore = (
        dphrase.select(
            "phrase",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .join(F.broadcast(wscore), "word")
        .groupBy("phrase", "n_occurrences")
        .agg(F.sum("s").alias("score_ppm"))
    )
    return (
        pscore.orderBy(F.desc("score_ppm"), "phrase")
        .limit(_RAKE_TOPK)
        .select(
            "phrase",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("score_ppm").cast("long").alias("score_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language — multilingual efficiency audit
# ---------------------------------------------------------------------------


@query(
    "tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(lower(text), '{WS}')))
                AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_ISH}')))
                AS BIGINT) AS n_tokens,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT)
             AS n_bytes,
           ROUND(CAST(SUM(len(regexp_extract_all(lower(text),
                 '{_BPE_ISH}'))) AS DOUBLE)
                 / SUM(len(string_split_regex(lower(text), '{WS}'))), 4)
             AS fertility,
           ROUND(CAST(SUM(octet_length(CAST(text AS BLOB))) AS DOUBLE)
                 / SUM(len(regexp_extract_all(lower(text),
                       '{_BPE_ISH}'))), 4)
             AS bytes_per_token
    FROM documents
    GROUP BY lang
    """,
    description="Tokenizer fertility per language: tokens-per-word "
    "and bytes-per-token under the BPE-ish pretokenizer — the "
    "standard multilingual tokenizer-efficiency audit (a language "
    "with fertility 3x English pays 3x the context budget for the "
    "same content, and bytes/token decides mixture weights measured "
    "in compute rather than documents).  Pure narrow-map "
    "expressions + one partial-aggregated GROUP BY over "
    "|languages| groups; exact integer sums, one division at the "
    "end — linear at any corpus size.",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.size(tokens("text")).cast("long").alias("w"),
        F.regexp_count(F.lower("text"), F.lit(_BPE_ISH))
        .cast("long")
        .alias("t"),
        F.octet_length("text").cast("long").alias("b"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("t").cast("long").alias("n_tokens"),
        F.sum("b").cast("long").alias("n_bytes"),
        F.round(
            F.sum("t").cast("double") / F.sum("w"), 4
        ).alias("fertility"),
        F.round(
            F.sum("b").cast("double") / F.sum("t"), 4
        ).alias("bytes_per_token"),
    )

"""The ``etl_medallion`` workload: the reference DAG as a list of ops.

raw zip -> landed CSV -> cleaned -> trusted CSV + BOM -> refined parquet
-> warehouse table -> one audit row per layer, then daily increments
through dynamic partition overwrite, compaction, retention and an
atomic versioned publish.  Each op returns what the check compares
(an Arrow table or a small dict), or None.

``expected(cnae_dir)`` computes the same results with DuckDB from the
same raw files.
"""

from __future__ import annotations

import os

from gen import INCREMENTS

PROJECT = "dados_publicos"
PARTITION = "DT"
RETAIN_FROM = "2024-01-02"


def ops(spark, cnae_dir: str, lake: str):
    """[(op name, zero-arg callable)] in execution order."""
    from dados_publicos_etl_spark import audit
    from dados_publicos_etl_spark import io as eio
    from dados_publicos_etl_spark import schemas
    from dados_publicos_etl_spark.operators.clean import clean_cnae
    from dados_publicos_etl_spark.pipeline import Pipeline
    from dados_publicos_etl_spark.sources import ingest
    from pyspark.sql import functions as F

    raw = os.path.join(lake, "raw")
    trusted = os.path.join(lake, "trusted")
    refined = os.path.join(lake, "refined")
    daily = os.path.join(lake, "daily")
    published = os.path.join(lake, "published")
    monitoring = os.path.join(lake, "monitoring")
    state: dict = {}

    def ingest_op():
        with open(os.path.join(cnae_dir, "cnae.zip"), "rb") as fh:
            payload = fh.read()
        ingest.land_file(ingest.extract_zip_member(payload), os.path.join(raw, "Cnaes.csv"))

    def clean_op():
        df = eio.read_csv(spark, raw, schema=schemas.CNAE_RAW, sep=";")
        state["clean"], runs = Pipeline("cnae").add("clean", clean_cnae).run(df)
        return {"rows": runs[0].rows}

    def trusted_op():
        eio.write_csv(state["clean"], trusted, sep="|", single_file=True, bom=True)

    def refined_op():
        eio.csv_to_parquet(spark, trusted, refined, sep="|", schema=schemas.CNAE_TRUSTED)

    def warehouse_op():
        eio.save_warehouse_table(spark.read.parquet(refined), "cnae")

    def read_warehouse_op():
        return spark.table("cnae").toArrow()

    def audit_op(step: str, path: str, fmt: str, **options):
        def run():
            res = audit.audit_layer(spark, PROJECT, step, path, fmt=fmt,
                                    sink_path=monitoring, **options)
            return {"rows": res.qtd_rows}

        return run

    def increment_op(day: str, delivery: str):
        def run():
            path = os.path.join(cnae_dir, "increments", f"{day}_{delivery}.csv")
            df = clean_cnae(eio.read_csv(spark, path, schema=schemas.CNAE_RAW, sep=";"))
            eio.overwrite_partitions(df.withColumn(PARTITION, F.lit(day)), daily,
                                     [PARTITION], max_records_per_file=1000)

        return run

    def compact_op():
        return {"partitions": len(eio.compact_partitions(spark, daily, [PARTITION]))}

    def retention_op():
        return eio.enforce_retention(daily, PARTITION, RETAIN_FROM)

    def publish_op():
        eio.publish_version(spark.read.parquet(daily), published)
        return eio.read_current_version(spark, published).toArrow()

    return [
        ("ingest", ingest_op),
        ("clean", clean_op),
        ("trusted_csv", trusted_op),
        ("refined_parquet", refined_op),
        ("warehouse", warehouse_op),
        ("read_warehouse", read_warehouse_op),
        ("audit_raw", audit_op("raw", raw, "csv", sep=";")),
        ("audit_trusted", audit_op("trusted", trusted, "csv", sep="|", header="true")),
        ("audit_refined", audit_op("refined", refined, "parquet")),
        *[(f"increment_{d}_{k}", increment_op(d, k)) for d, k in INCREMENTS],
        ("compact", compact_op),
        ("retention", retention_op),
        ("publish", publish_op),
    ]


_CLEAN_SQL = """
SELECT TRY_CAST(c0 AS INTEGER) AS CODIGO,
       NULLIF(TRIM(c1), '') AS DESCRICAO,
       CASE WHEN TRY_CAST(c0 AS INTEGER) % 2 = 1 THEN 'PRIMARIO'
            ELSE 'SECUNDARIO' END AS SEGMENTO{extra}
FROM read_csv('{path}', delim=';', quote='"', escape='"', header=false,
              columns={{'c0': 'VARCHAR', 'c1': 'VARCHAR'}},
              null_padding=true, auto_detect=false)
"""


def expected(cnae_dir: str, scratch: str) -> dict:
    """{op name: expected result} — Arrow tables for the row results,
    dicts for the counters.  Ops not listed are checked for not raising."""
    import zipfile

    import duckdb

    os.makedirs(scratch, exist_ok=True)
    landed = os.path.join(scratch, "Cnaes.csv")
    with zipfile.ZipFile(os.path.join(cnae_dir, "cnae.zip")) as z:
        text = z.read(z.namelist()[0]).decode("iso-8859-1")
    with open(landed, "w", encoding="utf-8") as fh:
        fh.write(text)
    con = duckdb.connect()
    clean = con.sql(_CLEAN_SQL.format(path=landed, extra="")).arrow()
    n = clean.num_rows
    latest = {day: delivery for day, delivery in INCREMENTS}  # last delivery wins
    kept = sorted(d for d in latest if d >= RETAIN_FROM)
    parts = [
        _CLEAN_SQL.format(path=os.path.join(cnae_dir, "increments", f"{d}_{latest[d]}.csv"),
                          extra=f", '{d}' AS {PARTITION}")
        for d in kept
    ]
    published = con.sql(" UNION ALL ".join(parts)).arrow()
    con.close()
    return {
        "clean": {"rows": n},
        "read_warehouse": clean,
        "audit_raw": {"rows": n},
        "audit_trusted": {"rows": n},
        "audit_refined": {"rows": n},
        "compact": {"partitions": len(latest)},
        "retention": {"dropped": len(latest) - len(kept), "kept": len(kept)},
        "publish": published,
    }


def op_names() -> list[str]:
    return [name for name, _ in ops(None, "", "")]

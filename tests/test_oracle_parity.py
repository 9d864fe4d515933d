"""Replicates the driver's correctness gate: run every registered query
on Spark AND its DuckDB oracle on the same parquet, then compare
row counts, column names, and order-insensitive values.

This is the test that must stay green — it is exactly what
CORRECTNESS_r{N}.json measures.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from a3_fp_bigdata_spark import registry
from tests.conftest import SF0001

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def as_sorted_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in idx) for r in rows]
    return sorted(out, key=repr)


ALL = registry.all_queries()
ORACLES = registry.all_oracles()


@pytest.mark.parametrize("name", [n for n in ALL if n in ORACLES])
def test_query_matches_oracle(spark, name):
    sf_dir = SF0001
    sdf = ALL[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(sf_dir)
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_sorted = as_sorted_rows(spark_cols, spark_rows)
    d_sorted = as_sorted_rows(duck_cols, duck_rows)
    mismatches = [
        (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
    ][:5]
    assert s_sorted == d_sorted, f"{name}: value mismatch, first diffs: {mismatches}"


@pytest.mark.parametrize("name", [n for n in ALL if n not in ORACLES])
def test_rows_only_queries_run(spark, name):
    sdf = ALL[name](spark, SF0001)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_oracle_keys_subset():
    assert set(ORACLES) <= set(ALL)


def test_read_stamped_scratch_guards_torn_reads(spark, monkeypatch):
    """attest's count-flavour read-back goes through
    read_stamped_scratch, the Spark-side twin of the oracles'
    single-generation guard (r10 ADVICE: the guard was oracle-only,
    leaving the Spark read-back asymmetric). A clean single-generation
    scratch passes through intact; a torn read mixing rows from two
    generations yields ZERO rows — a loud row-count disagreement,
    never silent mixed-generation bytes. The torn state is a
    concurrent writer appending its generation between attest's write
    and its read-back."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark import data as D

    real_read = D.read_stamped_scratch
    foreign = []

    def torn_read(spark_, path):
        for rows in foreign:
            rows.coalesce(1).write.mode("append").parquet(path)
        return real_read(spark_, path)

    monkeypatch.setattr(D, "read_stamped_scratch", torn_read)

    gen_a = spark.range(3).select(F.col("id").alias("media_id"))
    clean = D.attest(spark, "torn_read_probe", gen_a)
    assert clean.count() == 3
    assert "n_src" not in clean.columns

    # torn read: a second generation's rows (different stamp) landed
    # beside generation A's — totals match neither stamp
    foreign.append(
        spark.range(5).select(
            (F.col("id") + 100).alias("media_id"),
            F.lit(5).cast("long").alias("n_src"),
        )
    )
    assert D.attest(spark, "torn_read_probe", gen_a).count() == 0

    # ADVICE r11 — the coincidence case the count-equality alone would
    # pass: 4 rows stamped 5 plus 1 row stamped 1 totals 5, matching
    # the foreign generation's stamp. countDistinct(n_src) == 1 must
    # kill it.
    foreign[:] = [
        spark.range(4).select(
            F.col("id").alias("media_id"), F.lit(5).cast("long").alias("n_src")
        )
    ]
    one_row = spark.range(1).select((F.col("id") + 50).alias("media_id"))
    assert D.attest(spark, "torn_read_probe", one_row).count() == 0


def test_audit_scratch_stale_sf_red_flags(spark):
    """The audit queries (a19/d4/sim11) share a fixed uid-scoped scratch
    path; the guard against STALE scratch (written at a different scale
    factor) is the n_src fingerprint each scratch row carries, which the
    oracle filters against its live view. Pin the failure mode: scratch
    written at sf0.001 must make the sf0.01 oracle come back EMPTY on
    the scratch side (a red row-count mismatch), not silently validate."""
    from tests.conftest import SF001

    # Spark half writes fresh scratch fingerprinted with sf0.001's count
    ALL["a19_approx_distinct_audit"](spark, SF0001).collect()

    # oracle half runs against DIFFERENT-sf views: the n_src filter must
    # reject every scratch row, so the exact-join yields zero rows
    con = duck_con(SF001)
    stale_rows = con.execute(ORACLES["a19_approx_distinct_audit"]).fetchall()
    con.close()
    assert stale_rows == [], "stale scratch validated instead of red-flagging"

    # and the matched-sf oracle still returns the real per-key rows
    con = duck_con(SF0001)
    fresh_rows = con.execute(ORACLES["a19_approx_distinct_audit"]).fetchall()
    con.close()
    assert len(fresh_rows) > 0

    # round-8 strengthening: a corpus regenerated at the SAME
    # cardinality slips past a count-only guard; the src_ck content
    # checksum must catch it. Simulate by doctoring the scratch rows:
    # keep n_src (count matches the live view) but perturb src_ck —
    # the oracle must come back empty again.
    import glob

    import pyarrow.parquet as pq
    import pyarrow.compute as pc

    from a3_fp_bigdata_spark.data import run_scratch

    files = glob.glob(f"{run_scratch('a19_approx_audit')}/*.parquet")
    assert files, "a19 scratch missing after the fresh run"
    for fpath in files:
        t = pq.read_table(fpath)
        ck = pc.add(t["src_ck"], 1)
        t = t.set_column(t.schema.get_field_index("src_ck"), "src_ck", ck)
        pq.write_table(t, fpath)
    con = duck_con(SF0001)
    doctored = con.execute(ORACLES["a19_approx_distinct_audit"]).fetchall()
    con.close()
    assert doctored == [], (
        "same-cardinality scratch with a foreign content checksum "
        "validated instead of red-flagging"
    )


def test_src_fingerprint_cross_engine_identical(spark):
    """The scratch-guard fingerprint must compute IDENTICALLY in Spark
    and DuckDB for every audited (table, key) — the property the whole
    stale-scratch protocol rests on."""
    from a3_fp_bigdata_spark.data import (
        FINGERPRINT_MOD,
        src_fingerprint,
        table,
    )

    for t, key in (
        ("documents", "doc_id"),
        ("events", "event_id"),
        ("embeddings", "vec_id"),
    ):
        row = src_fingerprint(table(spark, SF0001, t), key).collect()[0]
        con = duck_con(SF0001)
        n, ck = con.execute(
            f"SELECT count(*), CAST(sum({key} % {FINGERPRINT_MOD}) AS "
            f"BIGINT) FROM {t}"
        ).fetchone()
        con.close()
        assert (row.n_src, row.src_ck) == (n, ck), t

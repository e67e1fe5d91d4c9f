"""Mirror of the driver's t2 gate: run every queries() entry on Spark and
its oracle_sql() twin on DuckDB at the same sf, compare row count, column
names, and order-insensitive values.

Float compare uses rounding to 6 significant positions after the queries'
own explicit rounding — the queries already round, so exact equality is
expected; the tolerance only guards representation noise.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # + 0.0 collapses -0.0 -> +0.0: the values compare float-equal
        # but str() differently, which scrambles the row sort below
        return round(v, 6) + 0.0
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


ORACLED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, name):
    _check_parity(spark, name, SF_DIR)


@pytest.mark.sf001
@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity_sf001(spark, name):
    """The full oracle mirror at sf0.01 — the driver's own scale — as a
    permanent marked job (VERDICT r3 directive #6), so scale-dependent
    divergence (percentile interpolation, summation order) is caught
    every round. Excluded from the default run via addopts; invoke with
    ``pytest tests/test_oracle_parity.py -m sf001`` (see README)."""
    _check_parity(spark, name, "/root/testdata/sf0.01")


@pytest.mark.sf01
@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity_sf01(spark, name):
    """The full oracle mirror at sf0.1 — 10× the driver's correctness
    scale, the bench scale (VERDICT r6 directive #2). Catches
    scale-dependent divergence (percentile interpolation, summation
    order) that sf0.01 can't. Excluded from the default run via addopts;
    invoke with ``pytest tests/test_oracle_parity.py -m sf01``."""
    _check_parity(spark, name, "/root/testdata/sf0.1")


def _check_parity(spark, name, sf_dir):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    sdf = q(spark, sf_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck_con(sf_dir)
    res = con.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    # Driver-dtype guard: the driver compares pandas frames, where DuckDB
    # SUM(integer) -> HUGEINT lands as float64 while Spark emits int64 —
    # identical values, different value-hash (the 3 r01 hash-fails).
    # fetchall() returns Python ints and can't see this, so check the
    # pandas dtype kinds directly. Only numeric int-vs-float disagreement
    # is flagged, and only when not caused by nulls (nulls legitimately
    # promote int to float64 on BOTH engines' pandas paths).
    ddf = con.execute(sql).df()
    con.close()
    spark_types = {f.name.lower(): f.dataType.simpleString() for f in sdf.schema.fields}
    int_types = {"tinyint", "smallint", "int", "bigint"}
    float_types = {"float", "double"}
    for col in ddf.columns:
        kind = ddf[col].dtype.kind
        stype = spark_types.get(col.lower())
        if kind == "f" and stype in int_types and not ddf[col].isna().any():
            pytest.fail(
                f"{name}.{col}: oracle float64 vs Spark {stype} — driver hash "
                f"will mismatch; CAST the oracle aggregate AS BIGINT"
            )
        if kind in "iu" and stype in float_types:
            pytest.fail(
                f"{name}.{col}: oracle {ddf[col].dtype} vs Spark {stype} — "
                f"driver hash will mismatch; cast one side"
            )

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    # an empty result matches any oracle trivially — every query must
    # select something from the testdata (caught two mis-windowed queries)
    assert len(spark_rows) > 0, f"{name}: empty result — query selects nothing"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns, nd = _norm_rows(spark_cols, spark_rows), _norm_rows(duck_cols, duck_rows)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"


def test_gdpr_erasure_audit_on_empty_tables(spark, tmp_path):
    """On a zero-row copy of every table the audit must return the
    oracle's answer (four rows of zero counts, NULL erased_pct) instead
    of raising DIVIDE_BY_ZERO under ANSI."""
    import glob
    import shutil

    for t in TABLES:
        stage = tmp_path / f"{t}_stage"
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(0).coalesce(1).write.parquet(
            str(stage)
        )
        # one plain file per table, the layout DuckDB's views read
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        shutil.move(part, tmp_path / f"{t}.parquet")
        shutil.rmtree(stage)
    name = "gdpr_erasure_audit"
    sdf = entrymod.queries()[name](spark, str(tmp_path))
    con = _duck_con(str(tmp_path))
    res = con.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    con.close()
    assert len(duck_rows) == 4
    assert _norm_rows([c.lower() for c in sdf.columns], sdf.collect()) == _norm_rows(
        duck_cols, duck_rows
    )


NON_ORACLED = sorted(set(entrymod.queries().keys()) - set(ORACLED))


def test_approx_distinct_within_rsd(spark):
    """HLL++ estimates must sit within ~3 relative standard deviations of
    the exact distinct counts."""
    import pyspark.sql.functions as F

    from collimate_spark.catalog import load_table

    li = load_table(spark, "lineitem", SF_DIR)
    got = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    for r in got:
        assert abs(r.approx - r.exact) <= max(3, 0.15 * r.exact), r


@pytest.mark.parametrize("name", NON_ORACLED)
def test_rows_only(spark, name):
    """Rows-only queries must run and be deterministic across two runs."""
    q = entrymod.queries()[name]
    r1 = [tuple(r) for r in q(spark, SF_DIR).collect()]
    r2 = [tuple(r) for r in q(spark, SF_DIR).collect()]
    assert r1 == r2, f"{name}: nondeterministic output"
    # empty output would pass the driver's rows-only check trivially —
    # every current rows-only query returns rows at sf0.001
    assert len(r1) > 0, f"{name}: empty result"

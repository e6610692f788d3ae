"""Differential correctness: every oracle-declared query must match
DuckDB exactly (row count, schema arity, and order-insensitive values)
at sf0.01 — a strictly stronger local replica of the driver's t2 gate,
using exact value comparison instead of a hash.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_ORACLE


def _normalize(rows, colnames):
    """Order-insensitive canonical form: sort columns by name, then rows."""
    idx = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", repr(v))  # repr = exact double round-trip
        if hasattr(v, "isoformat"):
            return ("t", v.isoformat())
        if isinstance(v, (list, tuple)):
            return ("l", tuple(canon(x) for x in v))
        return (type(v).__name__[0], v)

    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def _all_oracle_cases():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return sorted(o), q, o


NAMES, _QUERIES, _ORACLE = _all_oracle_cases()


# --- oracle output-type lint (VERDICT r14 item 2) -------------------
#
# The driver's value-hash renders each side through pandas/Arrow, so a
# column whose DuckDB type widens differently from the Spark type breaks
# the hash even when the VALUES are identical (the r13/r14 red-row class:
# DuckDB widens SUM(BIGINT)-derived arithmetic to HUGEINT, which pandas
# materializes as float64 — `316667.0` vs `316667`).  Value comparison
# (this file's test_oracle_match) is blind to it.
# The lint therefore checks RENDERED-TYPE agreement per column: map both
# engines' types onto the pandas-render class and require equality, and
# ban HUGEINT/UHUGEINT outright (it never renders as int64).  The maps
# live in artemia_airflow_spark.plans.typelint — ONE implementation
# shared with scripts/dryrun.py, whose compare runs the same check.
from artemia_airflow_spark.plans.typelint import (
    duck_render_class as _duck_render_class,
    spark_render_class as _spark_render_class,
)

@pytest.mark.parametrize("name", NAMES)
def test_oracle_no_hugeint(duck, name):
    """DESCRIBE-only lint (cheap, no Spark): no oracle column may be
    HUGEINT/UHUGEINT — the class that shipped all four r13/r14 reds."""
    du = duck.execute(
        f"DESCRIBE SELECT * FROM ({_ORACLE[name]})"
    ).fetchall()
    huge = [r[0] for r in du if "HUGEINT" in r[1].upper()]
    assert not huge, (
        f"{name}: oracle column(s) {huge} are HUGEINT — cast to BIGINT "
        "(DuckDB widens SUM(BIGINT)-derived arithmetic; the driver's "
        "hash renders HUGEINT as float64 and fails on integer-equal "
        "values)"
    )


@pytest.mark.parametrize("name", NAMES)
def test_oracle_match(spark, duck, name):
    sdf = _QUERIES[name](spark, SF_ORACLE)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(_ORACLE[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} (spark) != {len(duck_rows)} (duckdb)"
    )
    assert sorted(c.lower() for c in spark_cols) == sorted(c.lower() for c in duck_cols), (
        f"{name}: columns {spark_cols} != {duck_cols}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: first value mismatch {mismatches[0]}"

    # Rendered-type agreement (VERDICT r14 item 2): the driver's hash
    # renders both sides through pandas/Arrow, so per-column render
    # classes must match even when values do (HUGEINT→float64 broke
    # four integer-identical results in r13/r14).
    sp = {
        f.name.lower(): _spark_render_class(f.dataType.simpleString())
        for f in sdf.schema.fields
    }
    du = {
        d[0].lower(): _duck_render_class(d[1])
        for d in duck.execute(
            f"DESCRIBE SELECT * FROM ({_ORACLE[name]})"
        ).fetchall()
    }
    assert sp == du, (
        f"{name}: rendered-type mismatch spark={sp} duckdb={du} — the "
        "driver's value-hash will diverge even if values are equal"
    )


def test_rows_only_queries_run(spark):
    """Every declared query without an oracle must still execute and
    return a stable schema (the driver's weaker rows-only check)."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    for name in sorted(set(q) - set(o)):
        df = q[name](spark, SF_ORACLE)
        assert df.columns, f"{name}: empty schema"
        assert df.count() >= 0, f"{name}: count failed"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0


def test_run_sql_view_cache_invalidated_by_foreign_sf_dir(spark):
    """r7 review fix: run_sql caches view registration per (session,
    sf_dir), but OTHER queries re-point individual fixture views at
    their own sf_dir (register_view) — that must invalidate the cache,
    or run_sql silently reads mixed scale factors."""
    from artemia_airflow_spark.catalog import run_sql
    from artemia_airflow_spark.operators.sqltext import FLAGSHIP_SQL

    a = "/root/testdata/sf0.001"
    b = "/root/testdata/sf0.01"
    ref_a = sorted(map(str, run_sql(spark, a, FLAGSHIP_SQL).collect()))
    ref_b = sorted(map(str, run_sql(spark, b, FLAGSHIP_SQL).collect()))
    assert ref_a != ref_b  # different SFs genuinely differ

    # prime the cache at A, then a foreign single-view re-point at B
    run_sql(spark, a, FLAGSHIP_SQL).collect()
    from artemia_airflow_spark.catalog import register_view

    register_view(spark, b, "lineitem")
    got = sorted(map(str, run_sql(spark, a, FLAGSHIP_SQL).collect()))
    assert got == ref_a, "run_sql served a mixed-sf_dir view set"


def test_run_sql_concurrent_mixed_sf_dirs_never_mix_scales(spark):
    """r8 review fix (ADVICE r7): concurrent run_sql calls with
    DIFFERENT sf_dirs on the shared session must each analyze against
    a consistent view set — the RW lock makes (re-register, analyze)
    atomic, so every result matches its own sf_dir's row count, never
    a mixed-scale blend."""
    import threading

    from artemia_airflow_spark.catalog import run_sql

    sql = "SELECT COUNT(*) AS n FROM customer"
    dirs = {
        "/root/testdata/sf0.001": None,
        "/root/testdata/sf0.01": None,
    }
    for d in dirs:
        dirs[d] = run_sql(spark, d, sql).collect()[0].n
    assert len(set(dirs.values())) == 2  # scales genuinely differ

    errs: list = []

    def worker(sf_dir, want):
        try:
            for _ in range(6):
                got = run_sql(spark, sf_dir, sql).collect()[0].n
                assert got == want, (sf_dir, got, want)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=item)
        for item in list(dirs.items()) * 2
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs

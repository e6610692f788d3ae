#!/usr/bin/env python
"""Shared round-closing dry run (FIXTURES.md round-verification
protocol): the full derived driver window at sf0.001 + sf0.01 + sf0.1,
every remaining registry query at sf0.01 — driver-gate semantics
(sorted stringified rows vs the DuckDB oracle, plus per-column
agreement of the pandas-rendered types, which the driver's value hash
sees; rows-only queries execute + row count).

ONE implementation for every round (r13 review: the per-round copies
r9-r12 were five diverging replicas of the gate).  Usage:

    python scripts/dryrun.py [round-tag] [q_name ...]

Named faces are checked alone, at the three SFs (the fast iteration
loop while changing a face).
"""
from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

TAG = sys.argv[1] if len(sys.argv) > 1 else "rX"
FACES = sys.argv[2:]

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[16]")
    .appName(f"dryrun-{TAG}")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import duckdb

import __spark_entry__ as E
from artemia_airflow_spark.plans.registry import (
    DRIVER_WINDOW,
    derive_priority,
    latest_attested_rounds,
)
from artemia_airflow_spark.plans.typelint import duck_render_class, spark_render_class

q, o = E.queries(), E.oracle_sql()
WINDOW = derive_priority()
CHECK = FACES or WINDOW
assert set(CHECK) <= set(q), sorted(set(CHECK) - set(q))

# Rotation-staleness gate (VERDICT r16 item 4): oldest-first rotation
# over a DRIVER_WINDOW-row window guarantees every declared query a
# green driver row at worst every ceil(total/window) rounds (floor 5,
# the historical cadence).  Project the upcoming window as attested at
# round N (parsed from the tag) and assert nothing else is older.
import math
import re as _re

_m = _re.search(r"r(\d+)", TAG)
if _m and latest_attested_rounds():
    N = int(_m.group(1))
    period = max(5, math.ceil(len(q) / DRIVER_WINDOW))
    attested = latest_attested_rounds()
    # DELIVERY check first (r17 review: projecting the window as
    # attested validates only the plan — a driver that checks fewer
    # rows than planned must be caught on the NEXT dryrun): a row
    # attested at A has deadline A + period, so any A < N - period
    # is already overdue regardless of this round's window.
    overdue = sorted(
        n for n in q if attested.get(n, N) < N - period
    )
    assert not overdue, (
        f"{len(overdue)} queries missed their re-attestation deadline "
        f"before r{N} (driver delivered short windows?): {overdue}"
    )
    # never-attested sorts infinitely stale: it must be in the window
    projected = {n: attested.get(n, -(10 ** 9)) for n in q}
    projected.update({n: N for n in WINDOW})
    # a row attested at A must be re-attested by round A + period, so
    # at round N (post-window) any A <= N - period is a violation
    stale = sorted(n for n, r in projected.items() if r <= N - period)
    assert not stale, (
        f"rotation leaves {len(stale)} queries older than {period} "
        f"rounds after the r{N} window: {stale}"
    )
    print(f"rotation gate: {len(q)} queries, window {len(WINDOW)}, "
          f"period {period}, oldest projected attestation "
          f"r{min(projected.values())}")

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def duck_for(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def type_problems(sdf, con, sql):
    """Columns whose pandas-rendered type differs between the engines
    (DuckDB's HUGEINT renders as float64, never int64: banned)."""
    sp = {f.name.lower(): spark_render_class(f.dataType.simpleString())
          for f in sdf.schema.fields}
    du = {r[0].lower(): duck_render_class(r[1])
          for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()}
    probs = [f"{c}: HUGEINT in oracle" for c, cls in du.items() if cls == "HUGEINT"]
    probs += [f"{c}: spark={sp.get(c)} duck={du.get(c)}"
              for c in sorted(set(sp) | set(du))
              if sp.get(c) != du.get(c) and du.get(c) != "HUGEINT"]
    return probs


def check(name, sf_dir, con):
    sdf = q[name](spark, sf_dir)
    srows = sorted(tuple(str(x) for x in r) for r in sdf.collect())
    if name not in o:
        return f"rows-only n={len(srows)}"
    drows = sorted(
        tuple(str(x) for x in r) for r in con.execute(o[name]).fetchall()
    )
    if srows != drows:
        sonly, donly = set(srows) - set(drows), set(drows) - set(srows)
        raise AssertionError(
            f"{len(srows)} vs {len(drows)} rows; spark-only "
            f"{sorted(sonly)[:2]} duck-only {sorted(donly)[:2]}")
    tprobs = type_problems(sdf, con, o[name])
    assert not tprobs, f"TYPE-MISMATCH {tprobs} (the driver's hash fails)"
    return f"ok n={len(srows)}"


fails = []
for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
    con = duck_for(sf_dir)
    for name in CHECK:
        t0 = time.time()
        try:
            msg = check(name, sf_dir, con)
        except Exception as e:  # noqa: BLE001
            fails.append((sf_dir, name, repr(e)[:200]))
            msg = "FAIL " + repr(e)[:120]
        print(f"{sf_dir.split('/')[-1]:8s} {name:36s} {msg} "
              f"({time.time()-t0:.1f}s)", flush=True)
    con.close()

con = duck_for("/root/testdata/sf0.01")
rest = [] if FACES else [n for n in q if n not in WINDOW]
for name in rest:
    t0 = time.time()
    try:
        msg = check(name, "/root/testdata/sf0.01", con)
    except Exception as e:  # noqa: BLE001
        fails.append(("sf0.01", name, repr(e)[:200]))
        msg = "FAIL " + repr(e)[:120]
    print(f"{'sf0.01':8s} {name:36s} {msg} ({time.time()-t0:.1f}s)",
          flush=True)
con.close()

print(f"\nTOTAL queries: {len(q)}  WINDOW: {len(WINDOW)}  "
      f"FAILS: {len(fails)}")
for f in fails:
    print("FAIL:", f)
sys.exit(1 if fails else 0)

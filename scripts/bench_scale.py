#!/usr/bin/env python
"""Time declared faces at 1x and on an N-copy replica of the same data.

    python scripts/bench_scale.py q_a [q_b ...] [--copies N] [--replica-dir DIR]

Every face is timed with ``bench.time_face`` (bench.py's best-of-3 with
its per-face reset) in one ``build_session`` session, first at
``$SPARK_GRAFT_SF_DIR`` (bench.py's default sf0.1), then, when N > 1,
on an N-copy replica of that directory (default N = 100).  ``--copies
1`` is the isolated adjudication run for a suite-position regression:
a fresh session, the face alone.  Quadratic-pair faces (candidate-pair
materialization grows with duplicate multiplicity squared) are
measured at ``--copies 10``.

The replica holds every table.  ``documents``, ``embeddings``,
``events`` and ``orders`` are N copies with their ids offset per copy;
each copy of ``events`` is also its own user population, its
timestamps shifted by ``copy`` seconds, so per-user event density stays
that of the source.  Each replicated table is written as 64 files (one
file would be scanned as one partition: a parallelism-starvation
measurement, not a data-scale one) and counts as built only once
Spark's ``_SUCCESS`` marker exists, so an interrupted build is redone.
The other tables are byte copies of the source.  A built replica is
reused by later runs.

The last stdout line is one JSON object::

    {face: {"t_1x", "t_Nx", "growth", "compiles_1x", "compiles_Nx"},
     "q_agg_group@1x": anchor}

with N spelled out (``t_100x``).  A face that raises records
``error_1x`` / ``error_Nx`` instead of its time.  Progress and Spark's
log go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

ANCHOR = "q_agg_group"
N_FILES = 64
# table -> {column: id step per copy}; the steps exceed every id in the
# fixtures at sf0.1, so replicated ids stay unique.
OFFSETS = {
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "orders": {"o_orderkey": 100_000_000},
}


def replicate(spark, src: str, dst: str, copies: int) -> None:
    """Build (or finish building) the ``copies``-copy replica of the
    fixture directory ``src`` in ``dst``."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.catalog import TABLES, scan

    os.makedirs(dst, exist_ok=True)
    copy = F.col("__copy")
    for table in TABLES:
        path = os.path.join(dst, f"{table}.parquet")
        if table not in OFFSETS:
            if not os.path.exists(path):
                tmp = os.path.join(dst, f".{table}.parquet.tmp")
                shutil.copyfile(os.path.join(src, f"{table}.parquet"), tmp)
                os.replace(tmp, path)
            continue
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        df = scan(spark, src, table)
        cols = {c: F.col(c) + copy * step for c, step in OFFSETS[table].items()}
        if table == "events":
            cols["ts"] = F.col("ts") + F.make_interval(secs=copy)
        (
            df.crossJoin(spark.range(copies).withColumnRenamed("id", "__copy"))
            .select(*[cols.get(c, F.col(c)).alias(c) for c in df.columns])
            .repartition(N_FILES)
            .write.mode("overwrite")
            .parquet(path)
        )


def _timed(spark, fn, sf_dir: str, rec: dict, scale: str) -> None:
    try:
        rec[f"t_{scale}"], rec[f"compiles_{scale}"] = bench.time_face(spark, fn, sf_dir)
    except Exception as e:  # noqa: BLE001 — a face's error is its result
        rec[f"error_{scale}"] = f"{type(e).__name__}: {e}"[:300]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("faces", nargs="+", metavar="face")
    ap.add_argument("--copies", type=int, default=100)
    ap.add_argument(
        "--replica-dir",
        help="where the replica lives (default: a directory per source "
        "and copy count under the system temp dir)",
    )
    args = ap.parse_args(argv)
    if args.copies < 1:
        ap.error("--copies must be at least 1")
    src = bench.SF_DIR.rstrip("/")
    dst = args.replica_dir or os.path.join(
        tempfile.gettempdir(), "aas_bench_scale",
        f"{os.path.basename(src)}_x{args.copies}",
    )

    from artemia_airflow_spark.session import build_session

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = sorted(set(args.faces) - set(qs))
    if unknown:
        ap.error(f"unknown faces: {unknown}")

    spark = build_session("aas-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    if args.copies > 1:
        replicate(spark, src, dst, args.copies)
    bench.warm_up(spark)

    n = f"{args.copies}x"
    out: dict = {f"{ANCHOR}@1x": bench.time_face(spark, qs[ANCHOR], src)[0]}
    for name in args.faces:
        rec: dict = {}
        _timed(spark, qs[name], src, rec, "1x")
        if args.copies > 1:
            _timed(spark, qs[name], dst, rec, n)
            if rec.get("t_1x") and f"t_{n}" in rec:
                rec["growth"] = round(rec[f"t_{n}"] / rec["t_1x"], 2)
        out[name] = rec
        print(name, json.dumps(rec), file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps(out, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()

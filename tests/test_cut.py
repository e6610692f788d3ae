"""The engine's one lineage cut, ``functions.core.cut``: every
materialization goes through it under a unique literal name, the jobs a
cut runs (eager or lazy) carry that name as their Spark job description,
and the reliable tier keeps its eager-only rule."""

from __future__ import annotations

import ast
import gc
import pathlib
import re
import sys
import weakref

import pytest
from pyspark.sql import functions as F

from artemia_airflow_spark.functions import core
from artemia_airflow_spark.functions.core import cut

from conftest import SF_ORACLE

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "artemia_airflow_spark"
DESC = "spark.job.description"


def test_cut_is_the_only_materialization_seam():
    """No raw checkpoint outside ``core.cut``, no second helper, and
    every call site names its cut with a literal unique in the package
    (``dedup.stage_fn`` forwards its stage's name and is exempt)."""
    raw = re.compile(r"localCheckpoint\(|checkpoint\(eager")
    hits = [
        f"{f.relative_to(PKG)}:{n}"
        for f in sorted(PKG.rglob("*.py"))
        if f != PKG / "functions" / "core.py"
        for n, line in enumerate(f.read_text().splitlines(), start=1)
        if raw.search(line)
    ]
    assert hits == []

    old_helper = "truncate" + "_lineage"
    mentions = [
        str(f.relative_to(REPO))
        for f in sorted(REPO.rglob("*.py"))
        if old_helper in f.read_text()
    ]
    assert mentions == []

    sites = _cut_sites()
    assert sites.unnamed == ["operators/dedup.py:_stage"]
    assert sites.names, "no cut call sites found"
    assert sorted({n for n in sites.names if sites.names.count(n) > 1}) == []


def _cut_sites() -> _CutSites:
    sites = _CutSites()
    for f in sorted(PKG.rglob("*.py")):
        sites.where = f.relative_to(PKG)
        sites.visit(ast.parse(f.read_text()))
    return sites


def _ledger_rows():
    """(names, deleted) per row of SCALE.md's "Lineage cuts" tables:
    the backticked names of the row's first cell, and whether its
    decision cell marks the cut **deleted**."""
    text = (REPO / "SCALE.md").read_text()
    section = text.split("\n## Lineage cuts", 1)[1].split("\n## ", 1)[0]
    for line in section.splitlines():
        if line.startswith("| `"):
            cells = line.split("|")
            yield re.findall(r"`([^`]+)`", cells[1]), "**deleted**" in cells[3]


def test_every_cut_has_a_ledger_row_and_every_live_row_a_cut():
    """SCALE.md "Lineage cuts" is the ledger of the engine's cuts: each
    literal ``cut`` name under the package has a row not marked
    deleted, and each such row names a cut that still exists.
    ``dedup.stage_fn`` stands for the stage stores it cuts under each
    stage's name (the one call site without a literal)."""
    live = set(_cut_sites().names) | {"dedup.stage_fn"}
    kept = {n for names, deleted in _ledger_rows() if not deleted for n in names}
    assert sorted(live - kept) == [], "cuts without a ledger row"
    assert sorted(kept - live) == [], "ledger rows of cuts that are gone"


class _CutSites(ast.NodeVisitor):
    """Literal names of ``cut(df, "name", ...)`` calls; ``file:def``
    of the calls whose name is not a string literal."""

    def __init__(self):
        self.where, self.defs = None, []
        self.names: list[str] = []
        self.unnamed: list[str] = []

    def visit_FunctionDef(self, node):
        self.defs.append(node.name)
        self.generic_visit(node)
        self.defs.pop()

    def visit_Call(self, node):
        func = node.func
        if "cut" in (getattr(func, "id", None), getattr(func, "attr", None)):
            name = node.args[1] if len(node.args) > 1 else None
            if isinstance(name, ast.Constant) and isinstance(name.value, str):
                self.names.append(name.value)
            else:
                self.unnamed.append(f"{self.where}:{self.defs[-1]}")
        self.generic_visit(node)


def test_eager_cut_jobs_carry_its_name_and_restore_the_callers(spark):
    def job_description(_):  # nested: pickled by value for the worker
        from pyspark import TaskContext

        return TaskContext.get().getLocalProperty("spark.job.description")

    sc = spark.sparkContext
    sc.setLocalProperty(DESC, "caller")
    try:
        described = F.udf(job_description, "string")("id").alias("d")
        out = cut(spark.range(4).select(described), "test.cut.described")
        assert {r.d for r in out.collect()} == {"cut test.cut.described"}
        assert sc.getLocalProperty(DESC) == "caller"

        failing = spark.range(1).select(F.raise_error(F.lit("boom")))
        with pytest.raises(Exception, match="boom"):
            cut(failing, "test.cut.failing")
        assert sc.getLocalProperty(DESC) == "caller"
    finally:
        sc.setLocalProperty(DESC, None)
    cut(spark.range(2), "test.cut.no_caller_description")
    assert sc.getLocalProperty(DESC) is None


def test_lazy_cut_runs_its_stage_jobs_under_its_name(spark):
    """Under AQE a lazy local cut of a ``groupBy`` frame runs the
    exchange's map side at the call, so those jobs carry ``cut <name>``;
    only the result stage waits for the first consumer."""
    def job_description(_):  # nested: pickled by value for the worker
        from pyspark import TaskContext

        return TaskContext.get().getLocalProperty("spark.job.description")

    sc = spark.sparkContext
    group = "lazy-cut-at-the-call"
    sc.setLocalProperty(DESC, "caller")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        described = F.udf(job_description, "string")("id").alias("d")
        grouped = spark.range(4).select(described).groupBy("d").count()
        out = cut(grouped, "test.cut.lazy", eager=False)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
        assert sc.getLocalProperty(DESC) == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        sc.setLocalProperty(DESC, "consumer")
        assert [(r.d, r["count"]) for r in out.collect()] == [("cut test.cut.lazy", 4)]
    finally:
        sc.setLocalProperty(DESC, None)


def test_lazy_cut_keeps_its_source_frame_alive(spark):
    """The deferred result stage of a lazy cut reports SQL metrics into
    accumulators of the source frame's plan; if the source could be
    collected first, Spark logs "Failed to update accumulator".  So the
    cut holds the source after the caller drops it."""
    src = spark.range(8).groupBy((F.col("id") % 2).alias("k")).count()
    out = cut(src, "test.cut.keep_alive", eager=False)
    ref = weakref.ref(src)
    del src
    gc.collect()
    assert ref() is not None
    assert sorted(r["count"] for r in out.collect()) == [4, 4]


def test_reliable_cut_warns_on_lazy_and_still_writes_under_its_dir(spark, tmp_path):
    d = tmp_path / "ckpt"
    with pytest.warns(UserWarning, match="eager=False is ignored"):
        out = cut(spark.range(10), "test.cut.reliable",
                  eager=False, checkpoint_dir=str(d))
    assert any(p.is_file() for p in d.rglob("*"))
    assert sorted(r.id for r in out.collect()) == list(range(10))


@pytest.mark.parametrize(
    "face", ["q_dedup_ngram", "q_dedup_ngram_portable", "q_dedup_threshold_sweep"]
)
def test_spread_for_compute_runs_no_job(spark, monkeypatch, face):
    """Counting partitions must not plan an exchange: inside
    ``spread_for_compute`` AQE would run the exchange as a job, and the
    returned frame would run it again."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    group = f"spread-for-compute-{face}"
    original = core.spread_for_compute

    def in_group(*args, **kwargs):
        prior = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return original(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prior)

    for name, mod in list(sys.modules.items()):
        if name.startswith("artemia_airflow_spark") and (
            getattr(mod, "spread_for_compute", None) is original
        ):
            monkeypatch.setattr(mod, "spread_for_compute", in_group)
    entry.queries()[face](spark, SF_ORACLE).write.format("noop").mode(
        "overwrite"
    ).save()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
